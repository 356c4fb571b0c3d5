package graft.sources.readstat

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
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
  * plans from it; `planInputPartitions` emits row-range partitions computed
  * from the fixed record length (uncompressed formats seek in O(1)), or a
  * single partition per file where decode state is sequential (compressed
  * SAS/SPSS). Spark's scheduler replaces the reference's worker threads;
  * multi-file loads give cluster-wide parallelism.
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
    val hp = new HPath(ps.head)
    val fs = hp.getFileSystem(ReadstatIO.sessionConf)
    if (!fs.exists(hp)) return new StructType()

    // directories (batch loads and the streaming source) resolve to their
    // contained readstat files. PERMISSIVE (r10 verdict #1): a container
    // whose header/metadata parse fails is quarantined by the index, before
    // the mismatch check — corrupt files must not fail the probe, but a
    // STRUCTURALLY different good file still must (schema disagreement is a
    // data-modeling error, not corruption, and is fail-fast in both modes)
    val index = new ReadstatFileIndex(ps, opts)
    val listing = index.plan()
    require(listing.listed > 0, s"readstat: no readable files under ${ps.mkString(",")}")
    require(listing.files.nonEmpty,
      s"readstat: no readable files under ${ps.mkString(",")} " +
        "(every file failed its header/metadata parse)")
    inferred = Some(index)
    val schemas = listing.files.map(f => f.path -> f.plan.schema)
    // multi-file loads: fail fast when any file's schema disagrees — a
    // directory of monthly extracts with one added column must not silently
    // misread (r1 verdict "what's missing" #4). mergeSchema (r11) opts into
    // the union-and-widen resolution instead; non-widenable conflicts
    // (string vs numeric) still fail with a column-named error there.
    val raw =
      if (opts.mergeSchema) SchemaMerge.merge(schemas)
      else {
        val first = schemas.head._2
        schemas.tail.foreach { case (p, other) =>
          val a = first.fields.map(f => (f.name, f.dataType)).toSeq
          val b = other.fields.map(f => (f.name, f.dataType)).toSeq
          if (a != b) {
            val diff = (a.diff(b) ++ b.diff(a)).map { case (n, t) => s"$n:${t.simpleString}" }
            throw new IllegalArgumentException(
              s"readstat: schema mismatch between ${schemas.head._1} and $p " +
                s"(differing fields: ${diff.mkString(", ")}); multi-file loads " +
                "require identical schemas (or option(\"mergeSchema\", \"true\"))")
          }
        }
        first
      }

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

/** Complete COUNT(*) pushdown: the row count comes from the per-file
  * metadata in the relation's index, emitted as a single row.
  */
class ReadstatCountScan(index: ReadstatFileIndex, nCols: Int)
  extends Scan with Batch {

  override def readSchema(): StructType = StructType(
    (0 until nCols).map(i => org.apache.spark.sql.types.StructField(
      s"count_star_$i", org.apache.spark.sql.types.LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"readstat metadata COUNT(*) pushdown ${index.paths.mkString(",")}"

  // Spark calls planInputPartitions more than once: list once per scan
  private lazy val total: Long = index.plan().files.map(_.plan.ranges.map(_._2).sum).sum

  override def planInputPartitions(): Array[InputPartition] =
    Array(CountPartition(total, nCols))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
        val p = partition.asInstanceOf[CountPartition]
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          private var emitted = false
          override def next(): Boolean = if (emitted) false else { emitted = true; true }
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array.fill[Any](p.nCols)(p.total))
          override def close(): Unit = ()
        }
      }
    }
}

final case class ReadstatInputPartition(
    path: String,
    format: String,
    rowStart: Long,
    rowCount: Long) extends InputPartition

private[readstat] final case class CountPartition(total: Long, nCols: Int) extends InputPartition

/** One action's scan. It lists its paths once (memoized, so Spark's
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
    // same safety rules as static pushdown: supported predicate shapes on
    // known columns, never on coerced columns (decode-skip compares against
    // NATURAL values; a runtime filter on a coerced column would mis-skip)
    rtHolder.filters = fs.filter(f =>
      RowFilter.referenced(f).exists(_.forall(names.contains)))
      .filterNot(f => RowFilter.referenced(f).exists(_.exists(coercedCols.contains)))
      .toSeq
  }

  /** The container's own ("natural") schema, probed from the first
    * PLANNABLE file — in PERMISSIVE the head of filePaths may itself be
    * the quarantined one. Falls back to the table schema when every file
    * is quarantined (the scan then has zero partitions anyway).
    */
  private lazy val naturalSchema: StructType =
    plannedFiles.headOption.map(_.plan.schema).getOrElse(full)

  /** columns whose table type differs from the container's natural type
    * (inferSchema narrowing / user-specified schema). */
  private lazy val coercedCols: Set[String] = {
    val naturalType = naturalSchema.fields.map(f => f.name -> f.dataType).toMap
    full.fields.filter(f => naturalType.get(f.name).exists(_ != f.dataType)).map(_.name).toSet
  }

  /** Exact row counts are free — they sit in every container's metadata
    * (SURVEY §1.1; reference `src/sas/types.rs:100-113`). Reporting them
    * lets Catalyst auto-pick BroadcastHashJoin for small readstat dims
    * instead of defaulting to Long.MaxValue → sort-merge; at cluster scale
    * that is the difference between a broadcast and a full shuffle.
    */
  override def estimateStatistics(): Statistics = {
    val totalRows =
      try plannedFiles.map(_.plan.ranges.map(_._2).sum).sum
      catch { case _: Exception => -1L }
    if (totalRows < 0) new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    } else {
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
  }
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // `full` rides along for the mergeSchema admission gate: new-column
    // detection must see the TABLE schema, not the query's pruned
    // projection, or pruning would make existing columns look "new"
    new ReadstatMicroBatchStream(ps.head, required, opts, checkpointLocation, full)
  override def description(): String =
    s"readstat ${ps.mkString(",")} cols=${required.fieldNames.mkString(",")} limit=$limit offset=$offset filters=${filters.mkString(",")} runtimeFilters=${rtHolder.filters.mkString(",")}"

  /** This scan's good files, quarantine applied: in PERMISSIVE a file
    * whose metadata parse fails is reported and dropped by the index, so
    * planInputPartitions / createReaderFactory / estimateStatistics all see
    * one consistent good-file set; FAILFAST rethrows (CorruptFileSpec's
    * pinned default).
    */
  private lazy val plannedFiles: Seq[ReadstatFileIndex.PlannedFile] = index.plan().files

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = scala.collection.mutable.ArrayBuffer[ReadstatInputPartition]()
    var skip = offset
    var remaining = limit.getOrElse(Long.MaxValue)
    plannedFiles.foreach { f =>
      val p = f.path
      val fmt = f.format
      if (remaining > 0) {
        for ((start, count) <- f.plan.ranges if remaining > 0) {
          // apply global offset/limit to this file's ranges
          val afterSkip = math.min(skip, count)
          val s = start + afterSkip
          val c0 = count - afterSkip
          skip -= afterSkip
          if (c0 > 0) {
            val c = math.min(c0, remaining)
            remaining -= c
            parts += ReadstatInputPartition(p, fmt, s, c)
          }
        }
      }
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Per-file decode context (metadata, value labels, strL table), built
    // by the index's one parse and BROADCAST — the moral equivalent of the
    // reference's Arc-shared SharedDecode (`src/stata/data.rs:21-48`).
    // Broadcast (not task serialization) so a large strL/GSO table ships to
    // each executor once instead of once per task (SURVEY.md §7.4 risk 4).
    val ctxs: Map[String, ReadstatFormats.FileContext] =
      plannedFiles.map(f => f.path -> f.plan.context).toMap
    // mergeSchema (r11): each file decodes its OWN columns at its OWN
    // natural types; an executor-side aligning layer null-fills merged
    // columns the file lacks and widens narrower naturals. The per-file
    // schemas come from the index and are broadcast.
    val fileNats: Map[String, StructType] =
      if (!opts.mergeSchema) Map.empty
      else plannedFiles.map(f => f.path -> f.plan.schema).toMap
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val bc = sc.broadcast(ctxs)
    val bcNats = sc.broadcast(fileNats)
    // ship the session's Hadoop conf so S3A/HDFS credentials and tuning set
    // in Spark conf reach executor-side opens (r1 verdict "what's wrong" #1)
    val bcConf = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    // the container's own ("natural") schema: when the table schema was
    // narrowed by inferSchema (or user-specified), readers decode naturally
    // and a coercion layer casts per row
    val natural = naturalSchema
    // decode-skip hints compare against natural values; a filter on a
    // coerced column would mis-evaluate — drop it (filters are all residual,
    // Spark re-applies them above the scan)
    val naturalType = natural.fields.map(f => f.name -> f.dataType).toMap
    val coerced = full.fields
      .filter(f => naturalType.get(f.name).exists(_ != f.dataType)).map(_.name).toSet
    val safeFilters = filters.filterNot(f =>
      RowFilter.referenced(f).exists(_.exists(coerced.contains)))
    // vectorized when no per-row coercion is needed and every projected
    // type fits a flat vector (struct columns from informativeNulls=struct
    // take the row path). Must be uniform across partitions — schema
    // fail-fast guarantees one schema per load.
    // under mergeSchema, columnar additionally requires EVERY planned file
    // to carry every projected column at the merged type — partitions must
    // agree on columnar vs row (BatchScanExec cannot mix), so one drifted
    // file sends the whole load down the row path (correctness over speed;
    // the aligning layer is row-shaped)
    val mergeColumnarOk = !opts.mergeSchema || {
      val reqTypes = required.fields.map(f => f.name -> f.dataType)
      fileNats.nonEmpty && fileNats.values.forall { s =>
        val byName = s.fields.map(f => f.name -> f.dataType).toMap
        reqTypes.forall { case (n, t) => byName.get(n).contains(t) }
      }
    }
    val columnarOk = opts.columnar && mergeColumnarOk &&
      required.fields.forall(f => !coerced.contains(f.name)) &&
      ColumnAppender.flatSchema(required)
    new ReadstatReaderFactory(required, natural, opts, bc, bcConf, safeFilters, columnarOk,
      rtHolder, bcNats)
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

class ReadstatReaderFactory(
    required: StructType,
    natural: StructType,
    opts: ReadstatOptions,
    ctxs: org.apache.spark.broadcast.Broadcast[Map[String, ReadstatFormats.FileContext]],
    conf: org.apache.spark.broadcast.Broadcast[SerializableHadoopConf],
    filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
    columnarOk: Boolean = false,
    rt: RuntimeFilterHolder = new RuntimeFilterHolder,
    fileNats: org.apache.spark.broadcast.Broadcast[Map[String, StructType]] = null)
  extends PartitionReaderFactory {

  private def allFilters: Seq[org.apache.spark.sql.sources.Filter] = filters ++ rt.filters

  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[ReadstatInputPartition]
    ReadstatIO.setConf(conf.value.value) // executor-side install, before any open
    // PERMISSIVE: a file can pass partition planning yet fail its decode-
    // context build (quarantined at stage "context") — its partitions then
    // read as empty rather than NPE
    if (opts.permissive && !ctxs.value.contains(p.path))
      return new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
        override def next(): Boolean = false
        override def get(): org.apache.spark.sql.catalyst.InternalRow =
          throw new IllegalStateException("empty quarantined partition")
        override def close(): Unit = ()
      }
    val coerced =
      if (opts.mergeSchema) {
        // per-file alignment: decode only the columns THIS file has, at its
        // own natural types; null-fill and widen to the merged shape after.
        // Decode-skip filters stay active per file where the column exists
        // at the merged type (all filters are residual, so dropping one
        // here is purely a lost optimization, never a wrong row).
        val fileNat = fileNats.value.getOrElse(p.path, natural)
        val knownByName = fileNat.fields.map(f => f.name -> f).toMap
        val reqType = required.fields.map(f => f.name -> f.dataType).toMap
        val badCols = required.fields.map(_.name)
          .filter(n => knownByName.get(n).forall(_.dataType != reqType(n))).toSet
        val presentNatural = StructType(
          required.fields.flatMap(f => knownByName.get(f.name)))
        val fileFilters = allFilters.filter(f =>
          RowFilter.referenced(f).exists(_.forall(n =>
            knownByName.contains(n) && !badCols.contains(n))))
        val inner = ReadstatFormats.forName(p.format)
          .reader(p, ctxs.value(p.path), presentNatural, opts, fileFilters)
        val identical = presentNatural.length == required.length &&
          presentNatural.fields.zip(required.fields).forall {
            case (a, b) => a.name == b.name && a.dataType == b.dataType
          }
        if (identical) inner else new AligningReader(inner, presentNatural, required)
      } else {
        val naturalByName = natural.fields.map(f => f.name -> f).toMap
        val requiredNatural = StructType(
          required.fields.map(f => naturalByName.getOrElse(f.name, f)))
        val inner = ReadstatFormats.forName(p.format)
          .reader(p, ctxs.value(p.path), requiredNatural, opts, allFilters)
        if (requiredNatural.fields.map(_.dataType).sameElements(required.fields.map(_.dataType))) inner
        else new CoercingReader(inner, requiredNatural, required)
      }
    // PERMISSIVE: a mid-read decode failure (truncated body, bad zlib
    // block) ends this partition at its clean prefix and reports the file
    if (opts.permissive) new PermissiveReader(coerced, opts, p.path) else coerced
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnarOk

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[ReadstatInputPartition]
    ReadstatIO.setConf(conf.value.value)
    if (opts.permissive && !ctxs.value.contains(p.path))
      return new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        override def next(): Boolean = false
        override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
          throw new IllegalStateException("empty quarantined partition")
        override def close(): Unit = ()
      }
    val (cursor, appenders) = ReadstatFormats.forName(p.format)
      .columnar(p, ctxs.value(p.path), required, opts, allFilters)
      .getOrElse(throw new IllegalStateException(
        s"readstat: columnar read not supported for format ${p.format}"))
    val inner = new ReadstatColumnarReader(cursor, appenders, required)
    if (opts.permissive) new PermissiveReader(inner, opts, p.path) else inner
  }
}

/** Casts a module reader's naturally-typed rows to a narrowed/required
  * schema (the read side of `inferSchema`): Double/Float/Long → smaller
  * integrals or Boolean, TimestampNTZ → Date, String → Double.
  *
  * Narrowing casts are RANGE-CHECKED: an inferSchema-derived schema never
  * trips them (Compress proved range/parseability over the data), but a
  * user-specified schema with out-of-range or non-numeric cells must fail
  * with a column-named error instead of silently wrapping (r2 ADVICE #5).
  */
class CoercingReader(
    inner: PartitionReader[org.apache.spark.sql.catalyst.InternalRow],
    from: StructType,
    to: StructType)
  extends PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {

  private val converters: Array[Any => Any] = from.fields.zip(to.fields).map {
    case (f, t) => Coerce.converter(f.name, f.dataType, t.dataType)
  }

  private val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(to.length)

  override def next(): Boolean = {
    if (!inner.next()) return false
    val row = inner.get()
    var i = 0
    while (i < converters.length) {
      out.update(i,
        if (row.isNullAt(i)) null else converters(i)(row.get(i, from.fields(i).dataType)))
      i += 1
    }
    true
  }
  override def get(): org.apache.spark.sql.catalyst.InternalRow = out
  override def close(): Unit = inner.close()
}

/** Java-serializable wrapper for a Hadoop Configuration (the stock class is
  * not Serializable); shipped to executors via broadcast.
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

/** Shared IO helpers: Hadoop FileSystem so any DFS-backed path works.
  *
  * The effective Configuration is, in order: the conf installed by the scan's
  * reader factory (executor side, broadcast from the driver session), else
  * the active SparkSession's `sparkContext.hadoopConfiguration` (driver
  * side), else a fresh default — so credentials/tuning set via
  * `spark.hadoop.*` reach every open on both sides.
  */
object ReadstatIO {
  // per-thread install: DSv2 readers create and consume on the task thread,
  // so a thread-local cannot race across concurrent queries with different
  // Hadoop confs the way a process-global did (r2 ADVICE #2); every reader
  // factory re-installs before its first open, so pooled task threads never
  // act on a stale conf
  private val installed = new ThreadLocal[Configuration]()

  def setConf(c: Configuration): Unit = installed.set(c)

  def sessionConf: Configuration = {
    val c = installed.get()
    if (c != null) c
    else org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  }

  def open(path: String): org.apache.hadoop.fs.FSDataInputStream = {
    val hp = new HPath(path)
    hp.getFileSystem(sessionConf).open(hp)
  }

  def status(path: String): org.apache.hadoop.fs.FileStatus = {
    val hp = new HPath(path)
    hp.getFileSystem(sessionConf).getFileStatus(hp)
  }

  /** A file as one listing saw it: path, length and modification time.
    * Planning keys its per-file work by it.
    */
  final case class FileStamp(path: String, len: Long, mtime: Long)

  def stamp(path: String): FileStamp = {
    val st = status(path)
    FileStamp(path, st.getLen, st.getModificationTime)
  }

  /** `in` behind a read buffer of `min(bytesLeft, 1 MB)`: parsing a small
    * file's metadata must not allocate and fill a 1 MB buffer.
    */
  def buffered(in: java.io.InputStream, bytesLeft: Long): java.io.BufferedInputStream =
    new java.io.BufferedInputStream(in, math.max(1L, math.min(bytesLeft, 1L << 20)).toInt)

  private def knownExtension(name: String): Boolean = {
    val n = name.toLowerCase
    n.endsWith(".dta") || n.endsWith(".sav") || n.endsWith(".zsav") ||
      n.endsWith(".sas7bdat")
  }

  /** Driver-side concurrent map over files (metadata parses are IO-bound
    * and independent); preserves input order.
    */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(2, xs.length)))
      try {
        val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(x)
        }))
        futures.map(_.get())
      } finally pool.shutdown()
    }

  /** One listing of `ps`: a directory resolves to its contained readstat
    * files (sorted by name), a plain path to itself. A missing plain path
    * keeps the stamp (-1, -1), so its parse fails like any unreadable
    * file's.
    */
  def listFiles(ps: Seq[String]): Seq[FileStamp] = ps.flatMap { p =>
    val hp = new HPath(p)
    val fs = hp.getFileSystem(sessionConf)
    val st = try Some(fs.getFileStatus(hp)) catch { case _: java.io.FileNotFoundException => None }
    st match {
      case Some(dir) if dir.isDirectory =>
        val files = fs.listStatus(hp).toSeq.filter(_.isFile)
        // compaction-aware (r11): compacted containers count only once their
        // marker is committed; epoch parts covered by an active marker are
        // retired garbage (see Compaction's atomic-swap contract)
        val keep = Compaction.filterNames(files.map(_.getPath.getName))
        files
          .filter(f => keep(f.getPath.getName) && knownExtension(f.getPath.getName))
          .map(f => FileStamp(f.getPath.toString, f.getLen, f.getModificationTime))
          .sortBy(_.path)
      case Some(file) => Seq(FileStamp(p, file.getLen, file.getModificationTime))
      case None => Seq(FileStamp(p, -1L, -1L))
    }
  }
}
