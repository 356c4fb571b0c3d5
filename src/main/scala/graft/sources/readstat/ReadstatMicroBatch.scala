package graft.sources.readstat

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

/** Structured Streaming file source for readstat formats (SURVEY.md §2.9):
  * `spark.readStream.format("readstat").load(dir)` watches a directory and
  * emits each newly arrived `.dta`/`.sav`/`.sas7bdat` file as part of the
  * next micro-batch. It plans from the load's [[ReadstatFileIndex]] like a
  * batch scan: one parse per arriving file gives its schema, row ranges and
  * decode context; the file must fit the relation's table under the same
  * [[SchemaFit]] rule, and [[ReadstatReaderFactory]] conforms its rows.
  * `schema` is the query's projection of the table.
  *
  * Offsets are indices into the discovery order (files sorted by
  * modification time then name at each poll, appended once). The discovery
  * order is PERSISTED under the query's checkpoint location
  * (`readstat-files.log`, the same durable-file-log design as Spark's own
  * FileStreamSource): a restarted query reloads the log, so checkpointed
  * offsets keep indexing the same files — already-committed batches are not
  * re-emitted and late re-orderings of the directory listing cannot skip
  * files (r2 verdict "what's missing" #4; r2 ADVICE #3).
  *
  * Arrival contract (same as Spark's file sources): files must appear in
  * the watched directory ATOMICALLY (write elsewhere, then rename in) — a
  * file caught mid-write fails its metadata parse.
  */
class ReadstatMicroBatchStream(
    index: ReadstatFileIndex,
    schema: StructType,
    checkpointLocation: String) extends MicroBatchStream with SupportsAdmissionControl {

  private def opts = index.opts

  private case class FilesOffset(n: Int) extends Offset {
    override def json(): String = n.toString
  }

  private val logPath = new HPath(checkpointLocation, "readstat-files.log")

  // discovery order: stable, append-only, durable
  private val discovered = mutable.LinkedHashSet[String]()
  loadLog()

  private def logFs = logPath.getFileSystem(ReadstatIO.sessionConf)

  private def loadLog(): Unit = {
    val fs = logFs
    if (!fs.exists(logPath)) return
    val in = new BufferedReader(
      new InputStreamReader(fs.open(logPath), StandardCharsets.UTF_8))
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.nonEmpty) discovered += line
        line = in.readLine()
      }
    } finally in.close()
  }

  /** Atomic-by-rename rewrite: the log is one short path per line. A crash
    * inside the delete→rename window degrades to a fresh directory re-read
    * (at-least-once), never to a skip.
    */
  private def persistLog(): Unit = {
    val fs = logFs
    fs.mkdirs(logPath.getParent)
    val tmp = new HPath(checkpointLocation, "readstat-files.log.tmp")
    val out = fs.create(tmp, true)
    try discovered.foreach(p => out.write((p + "\n").getBytes(StandardCharsets.UTF_8)))
    finally out.close()
    if (fs.exists(logPath)) fs.delete(logPath, false)
    require(fs.rename(tmp, logPath), s"readstat stream: cannot persist file log at $logPath")
  }

  // each polled file as the latest listing saw it: the index parses a
  // file again only when its (len, mtime) changed
  private val stamps = mutable.HashMap[String, ReadstatIO.FileStamp]()

  private def poll(): Unit = {
    val hp = new HPath(index.paths.head)
    val fs = hp.getFileSystem(ReadstatIO.sessionConf)
    if (!fs.exists(hp)) return
    val status =
      if (fs.getFileStatus(hp).isDirectory) fs.listStatus(hp).toSeq
      else Seq(fs.getFileStatus(hp))
    val files = status
      // compaction rewrites (compact-* containers/markers) are OLD rows the
      // tail already emitted — admitting them would duplicate. The flip
      // side is Compaction's tailing-reader contract: only epochs every
      // tail has already admitted AND committed may be folded (a replayed
      // uncommitted batch reopens its epoch parts by path)
      .filter(st => st.isFile && ReadstatOptions.formatOf(st.getPath.getName).isDefined &&
        !Compaction.isCompactionFile(st.getPath.getName))
      .sortBy(st => (st.getModificationTime, st.getPath.toString))
      .map(st => ReadstatIO.FileStamp(st.getPath.toString, st.getLen, st.getModificationTime))
    files.foreach(f => stamps(f.path) = f)
    val before = discovered.size
    files.foreach(discovered += _.path)
    if (discovered.size != before) persistLog()
  }

  /** A discovered file's one parse (schema, ranges, decode context) from
    * the relation's index; None when it is quarantined. A file not seen by
    * this instance's polls (a replayed batch after a restart) is stamped
    * on demand.
    */
  private def planned(p: String): Option[ReadstatFileIndex.PlannedFile] =
    index.file(stamps.getOrElseUpdate(p, ReadstatIO.listFiles(Seq(p)).head))

  override def initialOffset(): Offset = FilesOffset(0)

  /** Floor for hold scans: every file below this index was already admitted
    * by the engine (a start offset it handed us, or a committed end), so
    * the no-arg offset surfaces need not re-probe it. Without the floor,
    * `holdBounded(0, n)` walked every discovered file per trigger —
    * O(discovered) driver work where the start-bounded form is O(new)
    * (r12 ADVICE).
    */
  @volatile private var admittedFloor: Int = 0
  private def raiseFloor(n: Int): Unit = if (n > admittedFloor) admittedFloor = n

  override def latestOffset(): Offset = {
    poll()
    // route through the hold (r12, r11 ADVICE): Spark's admission-control
    // path never calls this overload today, but if it (or a caller) ever
    // does, returning discovered.size would advance past a held file and
    // a widen-restart could no longer replay it
    FilesOffset(holdBounded(admittedFloor, discovered.size))
  }

  // admission control: `maxFilesPerTrigger` caps how many files one
  // micro-batch admits (same knob as Spark's own file source); the rest
  // stay discovered-and-durable for the following batches
  override def getDefaultReadLimit: ReadLimit =
    opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    poll()
    val s = start.asInstanceOf[FilesOffset].n
    raiseFloor(s)
    val cap = limit match {
      case m: ReadMaxFiles => math.min(discovered.size, s + m.maxFiles())
      case _ => discovered.size
    }
    // never advance PAST a widenable refusal (see widenHold): a zero-row
    // batch over it would commit it as consumed and a widen-restart could
    // no longer replay it
    FilesOffset(holdBounded(s, cap))
  }

  /** Largest admissible end offset in [from, cap]: stops before the first
    * widen-held file. EVERY offset surface goes through this — an offset
    * computed anywhere that ignored the hold would let a zero-row batch
    * commit the held file as consumed (r11 ADVICE #5).
    */
  private def holdBounded(from: Int, cap: Int): Int = {
    val pending = discovered.toSeq
    var e = from
    while (e < cap && !widenHold(pending(e))) e += 1
    e
  }

  override def reportLatestOffset(): Offset =
    FilesOffset(holdBounded(admittedFloor, discovered.size))

  override def deserializeOffset(json: String): Offset = FilesOffset(json.trim.toInt)

  /** The admission gate, asked by both [[admissible]] and [[widenHold]]:
    * an arriving file's one parse, and the [[SchemaFit]] misfit of its
    * schema against the relation's pinned table (None when it fits).
    * Every arriving file is probed this way BEFORE its rows can enter a
    * batch (r11). Before the gate, a corrupt upload killed a 24/7 intake
    * query outright, and a schema-DRIFTED upload was worse — decoded under
    * the stream's declared schema, drifted types could become wrongly-typed
    * rows (silent misread). Now FAILFAST turns both into a named query
    * failure at the file; PERMISSIVE quarantines it (skip + report) and
    * the stream keeps running. The file stays in the durable discovery log
    * either way — offsets must keep indexing the same files — it just
    * plans as zero partitions.
    *
    * With `mergeSchema=true` (r11 close-out #3) an arrival fits when every
    * column it has widens INTO the pinned type along the closed lattice
    * (missing columns null-fill on the executor). A stream's output schema
    * is fixed at query start — that is Spark's contract, not this source's
    * — so an arrival with a NEW column or a WIDER type misfits, with a
    * restart-to-re-merge hint (at restart the load re-merges over
    * everything present). Under PERMISSIVE that widenable class normally
    * never reaches [[admissible]]: [[widenHold]] pins the offset before the
    * file so it stays replayable.
    */
  private def gate(p: String): Option[(ReadstatFileIndex.PlannedFile, Option[IllegalArgumentException])] =
    planned(p).map(f => f -> index.misfit(f, stream = true))

  // widenable refusals already hinted once (the record is re-created on a
  // restart only if the rebuilt query STILL cannot admit the file)
  private val holdReported = mutable.HashSet[String]()

  /** Widen-hold (PERMISSIVE + mergeSchema): an arrival whose schema does
    * not fit the running query's pinned table but WOULD be admitted by a
    * restart's re-merge (wider type on the closed lattice, or a new
    * column) must not pass through a batch at all — the batch would emit
    * zero rows for it, COMMIT, and the widen-restart could then never
    * replay the file (offsets resume after the committed batch; the r11h
    * supervisor race, observed live: the hint record fired the restart,
    * but the refused file's rows were already consumed-as-empty). The
    * offset HOLDS just before such a file instead: batches keep flowing
    * for everything ahead of it, the hint record (stage "plan") is
    * written once, and whenever the restart lands the file is still
    * pending, so the re-merged query replays it deterministically. Files
    * BEHIND a held file wait with it (discovery order is the offset
    * order) — bounded by the supervisor's poll, and the honest cost of
    * never losing a good file. A corrupt file never holds (its parse
    * fails → quarantine-and-skip); a non-widenable drift never holds (its
    * re-merge fails → skip at batch planning); FAILFAST never holds (the
    * gate throws at batch planning, failing the query).
    */
  private def widenHold(p: String): Boolean =
    opts.permissive && opts.mergeSchema && opts.streamWidenHold && gate(p).exists {
      case (f, Some(_)) =>
        index.table.exists(t => scala.util.Try(
          SchemaMerge.merge(Seq((t.from, t.natural), (p, f.plan.schema)))).isSuccess) && {
          if (!holdReported.contains(p)) {
            holdReported += p
            Quarantine.report(opts, p, "plan", new IllegalArgumentException(
              s"readstat stream: newly arrived file $p needs a wider schema " +
                "than the running query declared (a stream's output schema " +
                "is fixed at start) — offset held before the file; restart " +
                "the stream to re-merge and admit it"))
          }
          true
        }
      case _ => false
    }

  /** The file's plan when the gate admits it; a misfit throws (FAILFAST)
    * or is quarantined at stage "plan" (PERMISSIVE).
    */
  private def admissible(p: String): Option[ReadstatFileIndex.PlannedFile] =
    gate(p).flatMap { case (f, misfit) =>
      Quarantine.guard(opts, p, "plan")(misfit.foreach(e => throw e)).map(_ => f)
    }

  // the plans of the files the last planInputPartitions admitted. Spark's
  // MicroBatchScanExec plans a batch's partitions before it builds that
  // batch's reader factory (DataSourceV2ScanExecBase evaluates
  // inputPartitions first, for supportsColumnar and for the input RDD),
  // so each factory ships its own batch's plans only
  @volatile private var batchPlans: Map[String, ReadstatFormats.FilePlan] = Map.empty

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FilesOffset].n
    val e = end.asInstanceOf[FilesOffset].n
    val files = discovered.toSeq.slice(s, e).flatMap(admissible)
    batchPlans = files.map(f => f.path -> f.plan).toMap
    files.flatMap { f =>
      f.plan.ranges.collect { case (rs, rc) if rc > 0 => ReadstatInputPartition(f.path, f.format, rs, rc) }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the factory conforms each admitted file to the declared schema
    // exactly like the batch path
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    new ReadstatReaderFactory(schema, opts, sc.broadcast(batchPlans),
      sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration)))
  }

  override def commit(end: Offset): Unit =
    raiseFloor(end.asInstanceOf[FilesOffset].n)
  override def stop(): Unit = ()
}
