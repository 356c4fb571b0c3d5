package graft.sources.readstat

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.readstat.sas.{Sas, SasFixtureWriter}
import graft.sources.readstat.spss.{Sav, SavWriter}
import graft.sources.readstat.stata.{Dta, DtaWriter}

/** The sink's spill codec ([[Spill]]) writes the same part bytes as the
  * `DataOutputStream` byte loops it replaced, for every cell type of every
  * format, across its buffer's end and past its size, and reads them back.
  */
class SpillCodecSpec extends AnyFunSuite {

  private val time = new MetadataBuilder().putString("logical_type", "time").build()

  /** Every spill cell type; string columns at 11 and 12. */
  private val schema = StructType(Seq(
    StructField("bool", BooleanType), StructField("i8", ByteType),
    StructField("i16", ShortType), StructField("i32", IntegerType),
    StructField("date", DateType), StructField("f32", FloatType),
    StructField("tod", LongType, metadata = time), StructField("i64", LongType),
    StructField("ts", TimestampType), StructField("ts_ntz", TimestampNTZType),
    StructField("f64", DoubleType), StructField("s", StringType),
    StructField("t", StringType)))

  private def row(k: Int, s: String, t: String): InternalRow = InternalRow(
    k % 2 == 0, (k * 37).toByte, (k * 1031 - 20000).toShort, k * 104729 - 7,
    k * 13 - 4000, k * 1.25f - 3.5f, k * 3600000000123L, k * 9876543210L - 5,
    k * 86400000001L - 1000000L, -k * 3600000000007L, k / 7.0 - 1e9,
    if (s == null) null else UTF8String.fromString(s),
    if (t == null) null else UTF8String.fromString(t))

  private val nulls = InternalRow.fromSeq(Seq.fill(schema.length)(null))

  private val rows: Seq[InternalRow] = Seq(
    row(1, "abc", ""), nulls, row(2, "", null), row(-3, "héllo wörld ✓ 日本語 🎉", "x"),
    InternalRow(false, Byte.MinValue, Short.MaxValue, Int.MinValue, -719162, Float.NaN,
      0L, Long.MaxValue, Long.MinValue / 10, 0L, Double.NegativeInfinity,
      UTF8String.fromString("z"), null),
    InternalRow(true, Byte.MaxValue, Short.MinValue, Int.MaxValue, 2932896, Float.MinPositiveValue,
      86399999999999L, Long.MinValue, 253402300799999999L, -62135596800000000L, Double.NaN,
      null, UTF8String.fromString("€" * 100)))

  private val formats = Seq("dta", "sav", "sas7bdat")

  private def encoders(format: String): Array[Spill.Cell] = format match {
    case "dta" => DtaWriter.spillEncoders(schema)
    case "sav" => SavWriter.spillEncoders(schema)
    case _ => SasFixtureWriter.spillEncoders(schema)
  }

  /** Encodes through [[Spill.Out]]; returns the bytes and each cell's result. */
  private def spill(format: String, rs: Seq[InternalRow]): (Array[Byte], Seq[Seq[Int]]) = {
    val bytes = new ByteArrayOutputStream()
    val out = new Spill.Out(bytes)
    val enc = encoders(format)
    val got = rs.map(r => enc.toSeq.map(_(r, out)))
    out.close()
    (bytes.toByteArray, got)
  }

  private def oracle(format: String, rs: Seq[InternalRow]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    val enc = format match {
      case "dta" => SpillOracle.dta(schema)
      case "sav" => SpillOracle.sav(schema)
      case _ => SpillOracle.sas(schema)
    }
    rs.foreach(r => enc.foreach(_(r, out)))
    out.close()
    bytes.toByteArray
  }

  private def sameBytes(got: Array[Byte], want: Array[Byte]): Unit = {
    assert(got.length == want.length)
    val at = got.indices.find(i => got(i) != want(i))
    assert(at.isEmpty, s"first differing byte at ${at.getOrElse(-1)}")
  }

  private def utf8Len(r: InternalRow, i: Int): Int =
    if (r.isNullAt(i)) -1 else r.getUTF8String(i).numBytes

  test("every cell type spills the bytes of the DataOutputStream loops") {
    for (f <- formats) withClue(f) {
      val (got, cells) = spill(f, rows)
      sameBytes(got, oracle(f, rows))
      // string cells report their UTF-8 byte length, every other cell -1
      rows.zip(cells).foreach { case (r, cs) =>
        assert(cs == schema.indices.map(i =>
          if (schema(i).dataType == StringType) utf8Len(r, i) else -1))
      }
    }
  }

  test("the part writer spills the same bytes and reports each string column's max width") {
    val dir = Files.createTempDirectory("graft_spill")
    for (f <- formats) withClue(f) {
      val part = dir.resolve(s"part-$f").toString
      val w = new ReadstatPartWriter(part, 3, schema, f)
      rows.foreach(w.write)
      val m = w.commit().asInstanceOf[ReadstatPartMsg]
      assert(m.pid == 3 && m.rows == rows.length)
      assert(m.widths.toSeq == schema.indices.map(i =>
        if (schema(i).dataType == StringType) rows.map(utf8Len(_, i)).max else -1))
      sameBytes(Files.readAllBytes(java.nio.file.Paths.get(part)), oracle(f, rows))
    }
  }

  test("rows across the buffer's end and strings longer than the buffer") {
    val B = Spill.BufferBytes
    val long = Seq(
      row(6, "ü" * (B / 2 + 3), "c" * (3 * B + 1)), // 64 KB + 6 and 192 KB + 1 bytes
      row(7, "d" * (B - 4), "e" * B), row(8, "f" * (B - 8), "g"))
    for (f <- formats) withClue(f) {
      // a raw prefix starts the rows at every offset up to 72 bytes before
      // the buffer's end, so each cell of the first rows straddles it once
      for (before <- 1 to 72) withClue(s"$before bytes before the end") {
        val prefix = Array.tabulate[Byte](B - before)(_.toByte)
        val bytes = new ByteArrayOutputStream()
        val out = new Spill.Out(bytes)
        out.bytes(prefix, 0, prefix.length)
        val enc = encoders(f)
        rows.foreach(r => enc.foreach(_(r, out)))
        out.close()
        sameBytes(bytes.toByteArray, prefix ++ oracle(f, rows))
      }
      val rs = (long ++ rows).flatMap(r => Seq(r, rows(3)))
      sameBytes(spill(f, rs)._1, oracle(f, rs))
    }
  }

  test("raw byte runs across the buffer's end and longer than the buffer") {
    val B = Spill.BufferBytes
    val runs = Seq(1, B - 5, 3, B, 2 * B + 7, 8, B - 12).zipWithIndex
      .map { case (n, k) => Array.tabulate[Byte](n)(i => (i * 31 + k).toByte) }
    val bytes = new ByteArrayOutputStream()
    val out = new Spill.Out(bytes)
    val want = new ByteArrayOutputStream()
    val d = new DataOutputStream(want)
    runs.foreach { b =>
      out.int(b.length); out.bytes(b, 0, b.length)
      d.writeInt(b.length); d.write(b, 0, b.length)
    }
    out.flush()
    d.flush()
    sameBytes(bytes.toByteArray, want.toByteArray)
    val in = new Spill.In(new OneByteAtATime(bytes.toByteArray))
    runs.foreach { b =>
      val n = in.readInt()
      val got = new Array[Byte](n)
      in.readFully(got)
      assert(got.sameElements(b))
    }
    assertThrows[EOFException](in.readInt())
  }

  /** Reads one row's cells back: dta numerics as their bytes, sav and
    * sas7bdat ones as f64 bits, strings decoded.
    */
  private def readRow(format: String, in: Spill.In): Seq[Any] = schema.fields.toSeq.map { f =>
    if (f.dataType == StringType) {
      val n = in.readInt()
      if (n < 0) null else { val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8) }
    } else if (format == "dta") {
      val b = new Array[Byte](dtaWidth(f.dataType))
      in.readFully(b, 0, b.length)
      b.toSeq
    } else in.readLE64()
  }

  private def dtaWidth(t: DataType): Int = t match {
    case BooleanType | ByteType => 1
    case ShortType => 2
    case IntegerType | DateType | FloatType => 4
    case _ => 8
  }

  /** The same cells split from the oracle's bytes with `ByteBuffer`. */
  private def oracleRows(format: String, rs: Seq[InternalRow]): Seq[Seq[Any]] = {
    val bb = java.nio.ByteBuffer.wrap(oracle(format, rs))
    rs.map(_ => schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) {
        val n = bb.getInt()
        if (n < 0) null else { val b = new Array[Byte](n); bb.get(b); new String(b, UTF_8) }
      } else if (format == "dta") {
        val b = new Array[Byte](dtaWidth(f.dataType)); bb.get(b); b.toSeq
      } else java.lang.Long.reverseBytes(bb.getLong())
    })
  }

  test("the reader reads every cell back from a stream that returns one byte per read") {
    val B = Spill.BufferBytes
    val rs = rows ++ Seq(row(8, "f" * (B + 9), "g" * (B - 4)), row(9, "h" * (B - 8), null)) ++ rows
    for (f <- formats) withClue(f) {
      val in = new Spill.In(new OneByteAtATime(spill(f, rs)._1))
      assert(rs.map(_ => readRow(f, in)) == oracleRows(f, rs))
      assertThrows[EOFException](in.readInt())
    }
  }

  test("a truncated part fails with EOFException") {
    for (f <- formats) withClue(f) {
      val bytes = spill(f, rows)._1
      for (cut <- Seq(1, 3, 7, 100)) withClue(s"cut $cut") {
        val in = new Spill.In(new ByteArrayInputStream(bytes, 0, bytes.length - cut))
        assertThrows[EOFException](rows.foreach(_ => readRow(f, in)))
      }
    }
  }
}

/** A stream that hands out one byte per `read`, as a slow or chunked
  * source may.
  */
private final class OneByteAtATime(bytes: Array[Byte]) extends InputStream {
  private var pos = 0
  override def read(): Int =
    if (pos >= bytes.length) -1 else { pos += 1; bytes(pos - 1) & 0xff }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0
    else if (pos >= bytes.length) -1
    else { b(off) = bytes(pos); pos += 1; 1 }
}

/** The spill encoders as they were before the codec: per-byte writes
  * through `DataOutputStream`, kept here as the byte oracle.
  */
private object SpillOracle {
  type Enc = (InternalRow, DataOutputStream) => Unit

  private def isTime(f: StructField) = f.metadata.contains("logical_type") &&
    f.metadata.getString("logical_type") == "time"

  private def le16(o: DataOutputStream, v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
  private def le32(o: DataOutputStream, v: Int): Unit = { var i = 0; while (i < 4) { o.write((v >> (8 * i)) & 0xff); i += 1 } }
  private def le64(o: DataOutputStream, v: Long): Unit = { var i = 0; while (i < 8) { o.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }

  private def string(i: Int): Enc = (r, o) =>
    if (r.isNullAt(i)) o.writeInt(-1)
    else {
      val b = r.getUTF8String(i).getBytes
      o.writeInt(b.length)
      o.write(b)
    }

  def dta(schema: StructType): Array[Enc] = {
    val MissI8: Byte = 0x65
    val MissI16: Short = 0x7fe5
    val MissI32: Int = 0x7fffffe5
    val MissF32Bits: Int = 0x7f000000
    val MissF64Bits: Long = 0x7fe0000000000000L
    schema.fields.zipWithIndex.map { case (f, i) =>
      val e: Enc = f.dataType match {
        case BooleanType => (r, o) => o.write(if (r.isNullAt(i)) MissI8.toInt else if (r.getBoolean(i)) 1 else 0)
        case ByteType => (r, o) => o.write(if (r.isNullAt(i)) MissI8.toInt else r.getByte(i).toInt)
        case ShortType => (r, o) => le16(o, if (r.isNullAt(i)) MissI16.toInt else r.getShort(i).toInt)
        case IntegerType => (r, o) => le32(o, if (r.isNullAt(i)) MissI32 else r.getInt(i))
        case DateType => (r, o) => le32(o, if (r.isNullAt(i)) MissI32 else (r.getInt(i) + Dta.EpochShiftDays).toInt)
        case FloatType => (r, o) =>
          le32(o, if (r.isNullAt(i)) MissF32Bits else java.lang.Float.floatToIntBits(r.getFloat(i)))
        case LongType if isTime(f) => (r, o) => le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits((r.getLong(i) / 1000000L).toDouble))
        case LongType => (r, o) => le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits(r.getLong(i).toDouble))
        case TimestampNTZType | TimestampType => (r, o) => le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits((r.getLong(i) / 1000L + Dta.EpochShiftMs).toDouble))
        case DoubleType => (r, o) => le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits(r.getDouble(i)))
        case StringType => string(i)
      }
      e
    }
  }

  /** sav and sas7bdat: every numeric as f64 bits, `bits` of the value. */
  private def f64(schema: StructType, missing: Long, bits: Double => Long,
      date: Int => Double, ts: Long => Double, tod: Long => Double): Array[Enc] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      def num(get: InternalRow => Double): Enc = (r, o) =>
        le64(o, if (r.isNullAt(i)) missing else bits(get(r)))
      f.dataType match {
        case StringType => string(i)
        case DateType => num(r => date(r.getInt(i)))
        case TimestampNTZType | TimestampType => num(r => ts(r.getLong(i)))
        case LongType if isTime(f) => num(r => tod(r.getLong(i)))
        case ByteType => num(r => r.getByte(i).toDouble)
        case ShortType => num(r => r.getShort(i).toDouble)
        case IntegerType => num(r => r.getInt(i).toDouble)
        case LongType => num(r => r.getLong(i).toDouble)
        case FloatType => num(r => r.getFloat(i).toDouble)
        case DoubleType => num(r => r.getDouble(i))
        case BooleanType => num(r => if (r.getBoolean(i)) 1.0 else 0.0)
      }
    }

  def sav(schema: StructType): Array[Enc] = f64(schema, Sav.MissingDoubleBits,
    java.lang.Double.doubleToLongBits,
    d => (d.toLong * 86400L + Sav.SecShift).toDouble,
    us => (Math.floorDiv(us, 1000000L) + Sav.SecShift).toDouble,
    ns => (ns / 1000000000L).toDouble)

  def sas(schema: StructType): Array[Enc] = f64(schema, 0x7ff0000000000001L,
    java.lang.Double.doubleToRawLongBits,
    d => (d.toLong + Sas.EpochShiftDays).toDouble,
    us => us / 1e6 + (Sas.EpochShiftDays * Sas.SecondsPerDay).toDouble,
    ns => ns / 1e9)
}
