package graft.sources.readstat

import scala.jdk.CollectionConverters._

/** Relation-scoped file index: one metadata parse per file per load.
  *
  * `ReadstatDataSource.inferSchema` builds it and `getTable` hands it to
  * the relation, so every action on one DataFrame plans from it: schema,
  * row ranges, statistics, per-file schemas, decode contexts. Each scan
  * still lists its paths once ([[plan]]), so files added, removed or
  * rewritten after the load are seen; only a file whose (len, mtime)
  * changed is parsed again. A file quarantined in PERMISSIVE keeps its
  * failed entry, so later scans skip it without parsing or reporting it
  * again. The streaming source asks it for each arriving file ([[file]]).
  *
  * The index also pins the relation's table for [[SchemaFit]]: the first
  * listing with a plannable file fixes the natural column list (the load's
  * for an inferred schema, the first scan's under a user-given one), and
  * every later listing and arrival is held to it.
  *
  * The index holds each file's decode context (SAS/SPSS metadata, Stata
  * value labels and strL table) for as long as the relation lives.
  */
final class ReadstatFileIndex(val paths: Seq[String], val opts: ReadstatOptions) {
  import ReadstatFileIndex._

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  @volatile private var pinned: Option[SchemaFit.Table] = None

  /** Lists `paths` once and returns the plannable files in listing order,
    * parsing (concurrently) only the files the index has not seen at their
    * current (len, mtime). Throws the named [[SchemaFit]] error when a file
    * does not fit the pinned table.
    */
  def plan(): Listing = {
    val listed = ReadstatIO.listFiles(paths)
    // a listing of more files than the SAS memo holds would only evict its
    // own entries (and every other load's) before any reuse
    val memo = listed.lengthCompare(sas.SasModule.MemoEntries) <= 0
    val known = listed.map(f => f -> Option(entries.get(f.path)).filter(_.stamp == f))
    val fresh = ReadstatIO.parMap(known.collect { case (f, None) => f })(f => f.path -> parse(f, memo)).toMap
    entries.putAll(fresh.asJava)
    // files gone from the listing leave the index
    entries.keySet.retainAll(new java.util.HashSet[String](listed.map(_.path).asJava))
    val files = known.flatMap { case (f, hit) => hit.getOrElse(fresh(f.path)).file }
    pin(files)
    files.foreach(f => misfit(f, stream = false).foreach(e => throw e))
    Listing(listed.size, files)
  }

  /** One file as a listing saw it, parsed only when the index has not seen
    * it at this (len, mtime); None when it is quarantined.
    */
  def file(f: ReadstatIO.FileStamp): Option[PlannedFile] =
    entries.compute(f.path, (_, e) => if (e != null && e.stamp == f) e else parse(f, memo = true)).file

  /** The table the index pinned, if a plannable file has been seen. */
  def table: Option[SchemaFit.Table] = pinned

  /** [[SchemaFit.misfit]] of `f` against the pinned table (pinning `f`'s
    * own columns when nothing is pinned yet).
    */
  def misfit(f: PlannedFile, stream: Boolean): Option[IllegalArgumentException] =
    pin(Seq(f)).flatMap(t => SchemaFit.misfit(t, f.path, f.plan.schema, opts.mergeSchema, stream))

  private def pin(files: Seq[PlannedFile]): Option[SchemaFit.Table] = synchronized {
    if (pinned.isEmpty && files.nonEmpty) pinned = Some(
      if (opts.mergeSchema)
        SchemaFit.Table(s"the merged schema of ${paths.mkString(",")}",
          SchemaMerge.merge(files.map(f => f.path -> f.plan.schema)))
      else SchemaFit.Table(files.head.path, files.head.plan.schema))
    pinned
  }

  private def parse(f: ReadstatIO.FileStamp, memo: Boolean): Entry =
    Entry(f, Quarantine.guard(opts, f.path, "metadata") {
      val fmt = ReadstatOptions.detectFormat(f.path, opts.format)
      PlannedFile(f.path, fmt, ReadstatFormats.forName(fmt).parse(f, opts, memo))
    })
}

object ReadstatFileIndex {

  /** A plannable file: its format and its one parse. */
  final case class PlannedFile(path: String, format: String, plan: ReadstatFormats.FilePlan)

  /** `file` is None for a file quarantined at `stamp`. */
  private final case class Entry(stamp: ReadstatIO.FileStamp, file: Option[PlannedFile])

  /** One listing: how many files it named, and the plannable ones. */
  final case class Listing(listed: Int, files: Seq[PlannedFile])
}
