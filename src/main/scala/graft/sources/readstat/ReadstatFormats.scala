package graft.sources.readstat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType

/** Registry of per-format modules. Each module provides driver-side schema +
  * partition planning and an executor-side row reader.
  */
object ReadstatFormats {

  /** Driver-built, task-serialized decode context for one file. */
  trait FileContext extends Serializable

  /** Everything planning needs from one file, from one metadata parse: its
    * Spark schema, its (rowStart, rowCount) ranges (a single range for
    * sequential formats) and its decode context.
    */
  final case class FilePlan(schema: StructType, ranges: Seq[(Long, Long)], context: FileContext)

  trait FormatModule {
    /** Parses `file`'s metadata with one open and a read buffer no larger
      * than the file. `memo = false` leaves a format's between-loads memo
      * (SAS only) untouched.
      */
    def parse(file: ReadstatIO.FileStamp, opts: ReadstatOptions, memo: Boolean = true): FilePlan

    def schema(path: String, opts: ReadstatOptions): StructType =
      parse(ReadstatIO.stamp(path), opts).schema
    def partitionRanges(path: String, opts: ReadstatOptions): Seq[(Long, Long)] =
      parse(ReadstatIO.stamp(path), opts).ranges
    def fileContext(path: String, opts: ReadstatOptions): FileContext =
      parse(ReadstatIO.stamp(path), opts).context

    def reader(
        part: ReadstatInputPartition,
        ctx: FileContext,
        required: StructType,
        opts: ReadstatOptions,
        filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty): PartitionReader[InternalRow]

    /** Vectorized path: a physical-row cursor plus unboxed per-column
      * vector appenders; None → Spark falls back to the row reader.
      */
    def columnar(
        part: ReadstatInputPartition,
        ctx: FileContext,
        required: StructType,
        opts: ReadstatOptions,
        filters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty): Option[(RowCursor, Array[ColumnAppender])] = None
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
