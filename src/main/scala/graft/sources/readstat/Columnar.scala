package graft.sources.readstat

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Columnar read path (SURVEY.md §1.2: the reference's per-batch columnar
  * builders, `src/sas/polars_output.rs:82-88`, re-expressed as Spark DSv2
  * vectorized scan).
  *
  * Each format module exposes a [[RowCursor]] (physical row iteration:
  * page/record/decompressor state, pushed-filter decode-skip) plus one
  * [[ColumnAppender]] per projected column that writes the decoded value
  * UNBOXED into an `OnHeapColumnVector` — no `java.lang.Double.valueOf`, no
  * `GenericInternalRow`, which was the r2 full-scan throughput miss
  * (12.8–33 MB/s/core vs the ≥100 bar). Spark's ColumnarToRow conversion is
  * whole-stage-codegen'd, so downstream operators read the vectors directly.
  */
trait RowCursor extends AutoCloseable {
  /** Advance to the next surviving physical row; false when exhausted. */
  def nextRow(): Boolean
  /** Backing bytes of the current row (valid until the next `nextRow`). */
  def buf: Array[Byte]
  /** Offset of the current row within `buf`. */
  def base: Int
}

object RowCursor {
  /** Cap on a cursor's per-partition read buffer. It stays under half of
    * a 4 MB G1 region: a larger buffer is a humongous object, allocated
    * outside the young generation, and one per partition piles up between
    * GCs (at 4 MB, perfbench `read` peaked 14% higher in RSS on a 4-core
    * VM once planning stopped churning the young generation).
    */
  val ChunkBytes: Int = 1 << 20

  /** Whole records per read chunk: at most `ChunkBytes`, never more than
    * the partition's rows, at least one.
    */
  def chunkRows(rowCount: Long, recordLen: Int): Int =
    math.max(1L, math.min(rowCount, ChunkBytes / math.max(1, recordLen))).toInt
}

/** Writes one column of the current physical row into `vec` at `rowId`. */
trait ColumnAppender {
  def append(buf: Array[Byte], base: Int, vec: WritableColumnVector, rowId: Int): Unit
}

object ColumnAppender {
  /** Fallback adapter over a row-path decode closure: still boxes the value
    * (used for rare shapes — labeled columns, strL, informative-null roles)
    * but keeps the batch layout so hot columns in the same scan stay
    * unboxed.
    */
  def boxed(decode: (Array[Byte], Int) => Any, dt: DataType): ColumnAppender = dt match {
    case DoubleType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v => vec.putDouble(i, v.asInstanceOf[java.lang.Double].doubleValue())
    }
    case FloatType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v => vec.putFloat(i, v.asInstanceOf[java.lang.Float].floatValue())
    }
    case LongType | TimestampNTZType | TimestampType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v => vec.putLong(i, v.asInstanceOf[java.lang.Long].longValue())
    }
    case IntegerType | DateType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v => vec.putInt(i, v.asInstanceOf[java.lang.Integer].intValue())
    }
    case ShortType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v => vec.putShort(i, v.asInstanceOf[java.lang.Short].shortValue())
    }
    case ByteType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v => vec.putByte(i, v.asInstanceOf[java.lang.Byte].byteValue())
    }
    case BooleanType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v => vec.putBoolean(i, v.asInstanceOf[java.lang.Boolean].booleanValue())
    }
    case StringType => (b, o, vec, i) => decode(b, o) match {
      case null => vec.putNull(i)
      case v =>
        val s = v.asInstanceOf[UTF8String]
        val bytes = s.getBytes
        vec.putByteArray(i, bytes, 0, bytes.length)
    }
    case other => throw new IllegalArgumentException(
      s"readstat: no columnar appender for ${other.simpleString}")
  }

  /** True when every projected type fits a flat writable vector (struct
    * columns from informativeNulls=struct take the row path).
    */
  def flatSchema(schema: StructType): Boolean = schema.fields.forall(_.dataType match {
    case _: StructType | _: ArrayType | _: MapType => false
    case _ => true
  })
}

/** Generic vectorized reader: fills `ColumnarBatch`es of `batchSize` rows
  * from a format cursor + per-column appenders. Vectors are reused across
  * batches (`reset()`), so steady-state allocation is the string payload
  * only.
  */
final class ReadstatColumnarReader(
    cursor: RowCursor,
    appenders: Array[ColumnAppender],
    schema: StructType,
    batchSize: Int = 4096)
  extends PartitionReader[ColumnarBatch] {

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, schema)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < batchSize && cursor.nextRow()) {
      val b = cursor.buf
      val o = cursor.base
      var c = 0
      while (c < appenders.length) {
        appenders(c).append(b, o, vectors(c), n)
        c += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = cursor.close()
}
