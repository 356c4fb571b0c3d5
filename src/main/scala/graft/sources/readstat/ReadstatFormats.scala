package graft.sources.readstat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Registry of per-format modules, and the decode surface they share
  * ([[FormatModule]]).
  */
object ReadstatFormats {

  /** Driver-built, task-serialized decode context for one file. */
  trait FileContext extends Serializable {
    /** Approximate bytes of the context's bulk tables (a Stata strL/GSO
      * table): what decides whether its plan rides in each task's
      * partition or ships once per executor ([[Packing.shared]]).
      */
    def bulkBytes: Long = 0L
  }

  /** Everything planning needs from one file, from one metadata parse: its
    * Spark schema, its (rowStart, rowCount) ranges (a single range for
    * sequential formats) and its decode context.
    */
  final case class FilePlan(schema: StructType, ranges: Seq[(Long, Long)], context: FileContext)

  /** One source column of a file as its format decodes it:
    *   - `field`: the natural field (name, Spark type, metadata);
    *   - `informative`: whether the column can carry informative nulls
    *     (tagged or declared missing codes);
    *   - `value`: the boxed Catalyst value, null for every kind of missing;
    *   - `indicator`: the missing code of a tagged or declared-missing
    *     cell, else null;
    *   - `appender`: an unboxed vector appender for the plain value column,
    *     or None for the boxed fallback over `value`.
    * The decoders read the current row of the format's [[RowCursor]]: its
    * bytes `buf` and the row's offset `base` in them.
    */
  final case class SourceColumn(
      field: StructField,
      informative: Boolean,
      value: (Array[Byte], Int) => Any,
      indicator: (Array[Byte], Int) => UTF8String,
      appender: Option[ColumnAppender])

  /** A readstat format. A format supplies only what is specific to its
    * bytes:
    *   - its metadata parse ([[parse]]);
    *   - its source columns ([[columns]]): each one's natural field,
    *     whether it can carry informative nulls, a boxed value decoder, an
    *     indicator decoder and, for hot shapes, an unboxed appender;
    *   - a [[RowCursor]] over one partition's physical rows ([[cursor]]),
    *     which skips the rows a decode-skip predicate rejects.
    *
    * Everything above the bytes is shared, built here once for every
    * format: the output columns (informative-null role expansion and the
    * indicator collision check, [[InformativeNulls.fieldsWithRoles]]), the
    * role decoders ([[InformativeNulls.Output]]), the role-aware decode-skip
    * predicate over pushed filters ([[RowFilter.predicate]]), the row reader
    * ([[ReadstatRowReader]]) and the columnar reader's appenders.
    */
  trait FormatModule {
    /** Parses `file`'s metadata with one open and a read buffer no larger
      * than the file. Every call parses: the relation's
      * [[ReadstatFileIndex]] is the one place a parse is kept.
      */
    def parse(file: ReadstatIO.FileStamp, opts: ReadstatOptions): FilePlan

    /** The file's source columns, in file order. */
    protected def columns(ctx: FileContext, opts: ReadstatOptions): Seq[SourceColumn]

    /** The physical rows of `part`. `keep` (null: every row) is asked
      * about each row before the cursor surfaces it.
      */
    protected def cursor(
        part: ReadstatInputPartition,
        ctx: FileContext,
        opts: ReadstatOptions,
        keep: (Array[Byte], Int) => Boolean): RowCursor

    /** A parsed file's plan: its output schema comes from its columns. */
    protected def plan(ctx: FileContext, ranges: Seq[(Long, Long)], opts: ReadstatOptions): FilePlan =
      FilePlan(StructType(InformativeNulls.fieldsWithRoles(columns(ctx, opts), opts).map(_.field)),
        ranges, ctx)

    def schema(path: String, opts: ReadstatOptions): StructType =
      parse(ReadstatIO.stamp(path), opts).schema
    def partitionRanges(path: String, opts: ReadstatOptions): Seq[(Long, Long)] =
      parse(ReadstatIO.stamp(path), opts).ranges
    def fileContext(path: String, opts: ReadstatOptions): FileContext =
      parse(ReadstatIO.stamp(path), opts).context

    /** The file's output columns by name. */
    private def outputs(ctx: FileContext, opts: ReadstatOptions): String => InformativeNulls.Output = {
      val byName = InformativeNulls.fieldsWithRoles(columns(ctx, opts), opts).map(o => o.field.name -> o).toMap
      name => byName.getOrElse(name,
        throw new IllegalArgumentException(s"readstat: no such column '$name'"))
    }

    /** Row path: one boxed decoder per required column. */
    def reader(
        part: ReadstatInputPartition,
        ctx: FileContext,
        required: StructType,
        opts: ReadstatOptions,
        filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty): PartitionReader[InternalRow] = {
      val out = outputs(ctx, opts)
      val decoders = required.fields.map(f => out(f.name).decoder)
      new ReadstatRowReader(
        cursor(part, ctx, opts, RowFilter.predicate(filters, out(_).decoder)), decoders)
    }

    /** Vectorized path: a physical-row cursor plus one vector appender per
      * required column (always defined; the Option is the reader factory's
      * and the benchmark harness's signature).
      */
    def columnar(
        part: ReadstatInputPartition,
        ctx: FileContext,
        required: StructType,
        opts: ReadstatOptions,
        filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty): Option[(RowCursor, Array[ColumnAppender])] = {
      val out = outputs(ctx, opts)
      val appenders = required.fields.map(f => out(f.name).appender)
      Some((cursor(part, ctx, opts, RowFilter.predicate(filters, out(_).decoder)), appenders))
    }
  }

  /** Row ranges of at most `maxPartitionBytes` (but at least
    * `minRowsPerPartition` rows) over `n` fixed-width records.
    */
  def fixedWidthRanges(n: Long, recordLen: Int, opts: ReadstatOptions): Seq[(Long, Long)] = {
    val rowsPerPart = math.max(opts.minRowsPerPartition, opts.maxPartitionBytes / math.max(1, recordLen))
    if (n <= 0) Seq((0L, 0L))
    else (0L until n by rowsPerPart).map(s => (s, math.min(rowsPerPart, n - s)))
  }

  def forName(format: String): FormatModule = format match {
    case "dta" => stata.DtaModule
    case "sav" | "zsav" => spss.SavModule
    case "sas7bdat" => sas.SasModule
    case f => throw new IllegalArgumentException(s"unsupported readstat format: $f")
  }

  def forPath(path: String, opts: ReadstatOptions): FormatModule =
    forName(ReadstatOptions.detectFormat(path, opts.format))
}
