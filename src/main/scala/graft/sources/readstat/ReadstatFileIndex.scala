package graft.sources.readstat

import scala.jdk.CollectionConverters._

/** Relation-scoped file index: one metadata parse per file per load.
  *
  * `ReadstatDataSource.inferSchema` builds it and `getTable` hands it to
  * the relation, so every action on one DataFrame plans from it: schema,
  * row ranges, statistics, natural and per-file schemas, decode contexts.
  * Each scan still lists its paths once ([[plan]]), so files added,
  * removed or rewritten after the load are seen; only a file whose
  * (len, mtime) changed is parsed again. A file quarantined in PERMISSIVE
  * keeps its failed entry, so later scans skip it without parsing or
  * reporting it again.
  *
  * The index holds each file's decode context (SAS/SPSS metadata, Stata
  * value labels and strL table) for as long as the relation lives.
  */
final class ReadstatFileIndex(val paths: Seq[String], val opts: ReadstatOptions) {
  import ReadstatFileIndex._

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** Lists `paths` once and returns the plannable files in listing order,
    * parsing (concurrently) only the files the index has not seen at their
    * current (len, mtime).
    */
  def plan(): Listing = {
    val listed = ReadstatIO.listFiles(paths)
    // a listing of more files than the SAS memo holds would only evict its
    // own entries (and every other load's) before any reuse
    val memo = listed.lengthCompare(sas.SasModule.MemoEntries) <= 0
    val known = listed.map(f => f -> Option(entries.get(f.path)).filter(_.stamp == f))
    val fresh = ReadstatIO.parMap(known.collect { case (f, None) => f }) { f =>
      f.path -> Entry(f, Quarantine.guard(opts, f.path, "metadata") {
        val fmt = ReadstatOptions.detectFormat(f.path, opts.format)
        PlannedFile(f.path, fmt, ReadstatFormats.forName(fmt).parse(f, opts, memo))
      })
    }.toMap
    entries.putAll(fresh.asJava)
    // files gone from the listing leave the index
    entries.keySet.retainAll(new java.util.HashSet[String](listed.map(_.path).asJava))
    Listing(listed.size, known.flatMap { case (f, hit) => hit.getOrElse(fresh(f.path)).file })
  }
}

object ReadstatFileIndex {

  /** A plannable file: its format and its one parse. */
  final case class PlannedFile(path: String, format: String, plan: ReadstatFormats.FilePlan)

  /** `file` is None for a file quarantined at `stamp`. */
  private final case class Entry(stamp: ReadstatIO.FileStamp, file: Option[PlannedFile])

  /** One listing: how many files it named, and the plannable ones. */
  final case class Listing(listed: Int, files: Seq[PlannedFile])
}
