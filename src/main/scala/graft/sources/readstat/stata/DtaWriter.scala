package graft.sources.readstat.stata

import java.io.{BufferedOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, max, octet_length}
import org.apache.spark.sql.types._

/** Stata `.dta` v118 writer (S8 in SURVEY.md §2.1; v119 when >32,767 vars).
  *
  * Single-file sink: Spark writes are funneled through one stream (the dta
  * container is a single sequential file with a header patch-back — same
  * constraint as the reference `src/stata/writer.rs:205-328`). For cluster
  * use, write partitioned parquet instead; this sink exists for format
  * parity and doubles as the test fixture generator (FIXTURES.md §3).
  *
  * Type mapping (Spark → dta): Byte/Boolean→byte, Short→int, Int→long,
  * Date→long+%td, Float→float, Long/Double→double, TimestampNTZ→double+%tc,
  * Long+logical_type=time→double+%tcHH:MM:SS, String→str# (strL if >2045B).
  */
object DtaWriter {

  private val MaxStr = 2045
  private val VarNameLen = 129
  private val FmtLen = 57
  private val LblListLen = 129
  private val VarLabelLen = 321
  private val MissI8: Byte = 0x65
  private val MissI16: Short = 0x7fe5
  private val MissI32: Int = 0x7fffffe5
  private val MissF32Bits: Int = 0x7f000000
  private val MissF64Bits: Long = 0x7fe0000000000000L

  sealed trait Kind { def width: Int; def typeCode: Int }
  case object KI8 extends Kind { val width = 1; val typeCode = 0xFFFA }
  case object KI16 extends Kind { val width = 2; val typeCode = 0xFFF9 }
  case object KI32 extends Kind { val width = 4; val typeCode = 0xFFF8 }
  case object KF32 extends Kind { val width = 4; val typeCode = 0xFFF7 }
  case object KF64 extends Kind { val width = 8; val typeCode = 0xFFF6 }
  final case class KStr(w: Int) extends Kind { def width: Int = w; def typeCode: Int = w }
  case object KStrL extends Kind { val width = 8; val typeCode = 0x8000 }

  final case class ColSpec(name: String, dataType: DataType, kind: Kind, fmt: String)

  def specFor(f: StructField, strWidth: Int): ColSpec = {
    val isTime = f.metadata.contains("logical_type") &&
      f.metadata.getString("logical_type") == "time"
    f.dataType match {
      case ByteType | BooleanType => ColSpec(f.name, f.dataType, KI8, "%8.0g")
      case ShortType => ColSpec(f.name, f.dataType, KI16, "%8.0g")
      case IntegerType => ColSpec(f.name, f.dataType, KI32, "%12.0g")
      case DateType => ColSpec(f.name, f.dataType, KI32, "%td")
      case FloatType => ColSpec(f.name, f.dataType, KF32, "%9.0g")
      case LongType if isTime => ColSpec(f.name, f.dataType, KF64, "%tcHH:MM:SS")
      case LongType | DoubleType => ColSpec(f.name, f.dataType, KF64, "%10.0g")
      case TimestampNTZType | TimestampType => ColSpec(f.name, f.dataType, KF64, "%tc")
      case StringType =>
        val w = math.max(1, strWidth)
        if (w > MaxStr) ColSpec(f.name, f.dataType, KStrL, "%9s")
        else ColSpec(f.name, f.dataType, KStr(w), s"%${math.max(9, w)}s")
      case dt => throw new IllegalArgumentException(s"dta writer: unsupported type $dt for ${f.name}")
    }
  }

  /** Convenience over the distributed DSv2 sink: executors encode part
    * buffers in parallel (string widths tracked during the encode pass, no
    * separate width job), the driver frames and concatenates.
    */
  def write(
      df: DataFrame,
      path: String,
      valueLabels: Map[String, Map[Int, String]] = Map.empty,
      variableLabels: Map[String, String] = Map.empty): Unit = {
    var w = df.write.format("readstat").mode("overwrite")
    if (valueLabels.nonEmpty)
      w = w.option("valueLabels", labelsJson(valueLabels.map {
        case (c, m) => c -> m.map { case (k, v) => k.toString -> v }
      }))
    if (variableLabels.nonEmpty) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      variableLabels.foreach { case (k, v) => node.put(k, v) }
      w = w.option("variableLabels", mapper.writeValueAsString(node))
    }
    w.option("format", "dta").save(path)
  }

  private[readstat] def labelsJson(m: Map[String, Map[String, String]]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    m.foreach { case (c, inner) =>
      val n = root.putObject(c)
      inner.foreach { case (k, v) => n.put(k, v) }
    }
    mapper.writeValueAsString(root)
  }

  def writeRows(
      schema: StructType,
      rows: Iterator[Row],
      path: String,
      stringWidths: Map[String, Int],
      valueLabels: Map[String, Map[Int, String]] = Map.empty,
      variableLabels: Map[String, String] = Map.empty,
      /** O3: column names the data is sorted by, in order. */
      sortedBy: Seq[String] = Seq.empty): Long = {
    val specs = schema.fields.map(f => specFor(f, stringWidths.getOrElse(f.name, 1)))
    writeFramed(schema, specs, path, valueLabels, variableLabels, sortedBy) { sink =>
      var nRows = 0L
      while (rows.hasNext) {
        val row = rows.next()
        sink.clearRow()
        var off = 0
        var i = 0
        while (i < specs.length) {
          val s = specs(i)
          writeCell(sink.rowBuf, off, s, row, i, nRows, sink.strls, sink.version)
          off += s.kind.width
          i += 1
        }
        sink.emitRow()
        nRows += 1
      }
      nRows
    }
  }

  /** Record emission surface handed to `writeFramed`'s data callback: a
    * reusable record buffer, the data section's stream (`data`, for
    * records rendered elsewhere) and the strL side table, whose blobs are
    * written in the order they are added.
    */
  final class DtaDataSink private[DtaWriter] (
      val version: Int,
      val recordLen: Int,
      val data: java.io.OutputStream,
      val strls: scala.collection.mutable.ArrayBuffer[(Int, Long, Array[Byte])]) {
    val rowBuf = new Array[Byte](recordLen)
    def clearRow(): Unit = java.util.Arrays.fill(rowBuf, 0.toByte)
    def emitRow(): Unit = data.write(rowBuf)
  }

  /** Writes the full dta container frame — header, map, descriptors, strLs,
    * value labels, offset-map patch-back — around a data section produced by
    * `data` (which returns the row count). The sink's commit renders its
    * parts' records in parallel and streams them through `sink.data` in
    * part order (reference parallel chunk encode,
    * `src/stata/writer.rs:1287-1363`).
    */
  def writeFramed(
      schema: StructType,
      specs: Array[ColSpec],
      path: String,
      valueLabels: Map[String, Map[Int, String]] = Map.empty,
      variableLabels: Map[String, String] = Map.empty,
      sortedBy: Seq[String] = Seq.empty)(data: DtaDataSink => Long): Long = {
    val nvar = specs.length
    require(nvar > 0, "dta writer: no columns")
    val version = if (nvar > 32767) 119 else 118
    val recordLen = specs.map(_.kind.width).sum

    val out = new CountingOut(new BufferedOutputStream(new FileOutputStream(path), 1 << 20))
    def tag(s: String): Unit = out.write(s.getBytes(StandardCharsets.US_ASCII))
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }
    def u64(v: Long): Unit = { var i = 0; while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }

    // ---- header (placeholders for N; patched at the end) ----
    tag("<stata_dta>"); tag("<header>")
    tag(s"<release>$version</release>")
    tag("<byteorder>LSF</byteorder>")
    tag("<K>"); if (version >= 119) u32(nvar.toLong) else u16(nvar); tag("</K>")
    tag("<N>")
    val nobsOffset = out.count
    u64(0L)
    tag("</N>")
    tag("<label>"); u16(0); tag("</label>")
    tag("<timestamp>"); out.write(0); tag("</timestamp>")
    tag("</header>")

    val mapOffset = out.count
    tag("<map>")
    val mapValuesOffset = out.count
    (0 until 14).foreach(_ => u64(0L))
    tag("</map>")

    // ---- descriptors ----
    tag("<variable_types>"); specs.foreach(s => u16(s.kind.typeCode)); tag("</variable_types>")
    tag("<varnames>")
    specs.foreach { s => out.write(fixed(s.name.getBytes(StandardCharsets.UTF_8), VarNameLen)) }
    tag("</varnames>")
    val srtEntryLen = if (version >= 119) 4 else 2
    tag("<sortlist>")
    val srt = new Array[Byte]((nvar + 1) * srtEntryLen)
    sortedBy.zipWithIndex.foreach { case (name, i) =>
      val vi = schema.fieldIndex(name) + 1 // 1-based variable index
      var b = 0
      while (b < srtEntryLen) { srt(i * srtEntryLen + b) = ((vi >> (8 * b)) & 0xff).toByte; b += 1 }
    }
    out.write(srt)
    tag("</sortlist>")
    tag("<formats>")
    specs.foreach(s => out.write(fixed(s.fmt.getBytes(StandardCharsets.UTF_8), FmtLen)))
    tag("</formats>")
    tag("<value_label_names>")
    specs.foreach { s =>
      val n = if (valueLabels.get(s.name).exists(_.nonEmpty)) s.name else ""
      out.write(fixed(n.getBytes(StandardCharsets.UTF_8), LblListLen))
    }
    tag("</value_label_names>")
    tag("<variable_labels>")
    specs.foreach { s =>
      val l = variableLabels.getOrElse(s.name, "")
      out.write(fixed(l.getBytes(StandardCharsets.UTF_8), VarLabelLen))
    }
    tag("</variable_labels>")
    tag("<characteristics>"); tag("</characteristics>")

    // ---- data ----
    tag("<data>")
    val strls = scala.collection.mutable.ArrayBuffer[(Int, Long, Array[Byte])]()
    val nRows = data(new DtaDataSink(version, recordLen, out, strls))
    tag("</data>")

    // ---- strLs ----
    val strlsStart = out.count
    tag("<strls>")
    strls.foreach { case (v, o, data) =>
      // type 130 (0x82, ASCII): Stata stores these with a terminating NUL
      // and len INCLUDES it — pandas' reader drops the last byte
      // unconditionally, so omitting the terminator corrupts the value for
      // every other parser (fuzz-crosscheck-caught r6; readers that strip
      // trailing NULs, like ours and the reference, accept both)
      tag("GSO"); u32(v.toLong); u64(o); out.write(0x82); u32(data.length.toLong + 1)
      out.write(data)
      out.write(0)
    }
    tag("</strls>")

    // ---- value labels ----
    val vlStart = out.count
    tag("<value_labels>")
    specs.foreach { s =>
      valueLabels.get(s.name).filter(_.nonEmpty).foreach { mapping =>
        val sorted = mapping.toSeq.sortBy(_._1)
        val text = new java.io.ByteArrayOutputStream()
        val offs = new Array[Int](sorted.length)
        sorted.zipWithIndex.foreach { case ((_, label), i) =>
          offs(i) = text.size()
          text.write(label.getBytes(StandardCharsets.UTF_8).filter(_ != 0))
          text.write(0)
        }
        val tbl = new java.io.ByteArrayOutputStream()
        def tu32(v: Int): Unit = { var i = 0; while (i < 4) { tbl.write((v >> (8 * i)) & 0xff); i += 1 } }
        tu32(sorted.length); tu32(text.size())
        offs.foreach(tu32)
        sorted.foreach { case (v, _) => tu32(v) }
        tbl.write(text.toByteArray)
        val table = tbl.toByteArray
        tag("<lbl>")
        u32(table.length.toLong)
        out.write(fixed(s.name.getBytes(StandardCharsets.UTF_8), LblListLen))
        out.write(new Array[Byte](3))
        out.write(table)
        tag("</lbl>")
      }
    }
    tag("</value_labels>")
    val endStart = out.count
    tag("</stata_dta>")
    val fileEnd = out.count
    out.close()

    // ---- patch N and the offset map ----
    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.seek(nobsOffset); raf.write(le64(nRows))
      // map entries: 0 start, 1 <map>, 2 <variable_types>, 3 <varnames>,
      // 4 <sortlist>, 5 <formats>, 6 <value_label_names>, 7 <variable_labels>,
      // 8 <characteristics>, 9 <data>, 10 <strls>, 11 <value_labels>,
      // 12 </stata_dta>, 13 eof
      val m = new Array[Long](14)
      m(0) = 0L
      m(1) = mapOffset
      m(2) = mapValuesOffset + 14 * 8 + "</map>".length
      m(3) = m(2) + "<variable_types>".length + 2L * nvar + "</variable_types>".length
      m(4) = m(3) + "<varnames>".length + VarNameLen.toLong * nvar + "</varnames>".length
      m(5) = m(4) + "<sortlist>".length + srtEntryLen.toLong * (nvar + 1) + "</sortlist>".length
      m(6) = m(5) + "<formats>".length + FmtLen.toLong * nvar + "</formats>".length
      m(7) = m(6) + "<value_label_names>".length + LblListLen.toLong * nvar + "</value_label_names>".length
      m(8) = m(7) + "<variable_labels>".length + VarLabelLen.toLong * nvar + "</variable_labels>".length
      m(9) = m(8) + "<characteristics>".length + "</characteristics>".length
      m(10) = strlsStart
      m(11) = vlStart
      m(12) = endStart
      m(13) = fileEnd
      raf.seek(mapValuesOffset)
      m.foreach(v => raf.write(le64(v)))
    } finally raf.close()
    nRows
  }

  private def writeCell(
      buf: Array[Byte], off: Int, spec: ColSpec, row: Row, colIdx: Int, rowIdx: Long,
      strls: scala.collection.mutable.ArrayBuffer[(Int, Long, Array[Byte])],
      version: Int = 118): Unit = {
    val isNull = row.isNullAt(colIdx)
    spec.kind match {
      case KI8 =>
        buf(off) = if (isNull) MissI8 else spec.dataType match {
          case BooleanType => if (row.getBoolean(colIdx)) 1 else 0
          case _ => row.getByte(colIdx)
        }
      case KI16 =>
        val v: Short = if (isNull) MissI16 else row.getShort(colIdx)
        buf(off) = (v & 0xff).toByte; buf(off + 1) = ((v >> 8) & 0xff).toByte
      case KI32 =>
        val v: Int =
          if (isNull) MissI32
          else spec.dataType match {
            case DateType =>
              // Row surface gives java.sql.Date / LocalDate depending on config
              val days = row.get(colIdx) match {
                case d: java.sql.Date => d.toLocalDate.toEpochDay
                case d: java.time.LocalDate => d.toEpochDay
                case i: java.lang.Integer => i.toLong
                case x => throw new IllegalArgumentException(s"date value: $x")
              }
              (days + Dta.EpochShiftDays).toInt
            case _ => row.getInt(colIdx)
          }
        var i = 0
        while (i < 4) { buf(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
      case KF32 =>
        val bits = if (isNull) MissF32Bits else java.lang.Float.floatToIntBits(row.getFloat(colIdx))
        var i = 0
        while (i < 4) { buf(off + i) = ((bits >> (8 * i)) & 0xff).toByte; i += 1 }
      case KF64 =>
        val d: Double =
          if (isNull) 0.0
          else spec.dataType match {
            case LongType if spec.fmt.startsWith("%tcH") =>
              (row.getLong(colIdx) / 1000000L).toDouble // nanos → ms-of-day
            case LongType => row.getLong(colIdx).toDouble
            case TimestampNTZType | TimestampType =>
              val micros = row.get(colIdx) match {
                case t: java.time.LocalDateTime =>
                  t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
                case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
                case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000L
                case x => throw new IllegalArgumentException(s"timestamp value: $x")
              }
              (micros / 1000L + Dta.EpochShiftMs).toDouble
            case _ => row.getDouble(colIdx)
          }
        val bits = if (isNull) MissF64Bits else java.lang.Double.doubleToLongBits(d)
        var i = 0
        while (i < 8) { buf(off + i) = ((bits >> (8 * i)) & 0xff).toByte; i += 1 }
      case KStr(w) =>
        if (!isNull) {
          val bytes = row.getString(colIdx).getBytes(StandardCharsets.UTF_8)
          require(bytes.length <= w, s"string too long for str$w: ${spec.name}")
          System.arraycopy(bytes, 0, buf, off, bytes.length)
        }
      case KStrL =>
        if (!isNull) {
          val v = colIdx + 1
          val o = rowIdx + 1
          strls += ((v, o, row.getString(colIdx).getBytes(StandardCharsets.UTF_8)))
          // v118: v(2)+o(6); v119: v(3)+o(5) — both little-endian
          val vBytes = if (version >= 119) 3 else 2
          var i = 0
          while (i < vBytes) { buf(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
          i = 0
          while (i < 8 - vBytes) { buf(off + vBytes + i) = ((o >> (8 * i)) & 0xff).toByte; i += 1 }
        }
    }
  }

  /** Executor-side spill encoders for the distributed sink: each closure
    * writes one cell of an InternalRow as FINAL dta bytes (sentinels, epoch
    * shifts — everything except string padding, which needs global widths).
    * Strings spill as i32 length (−1 = null) + UTF-8 bytes; the driver
    * assembler pads/strL-refs them while framing.
    */
  private[readstat] def spillEncoders(
      schema: StructType): Array[(org.apache.spark.sql.catalyst.InternalRow, java.io.DataOutputStream) => Unit] = {
    def le16(o: java.io.DataOutputStream, v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def le32(o: java.io.DataOutputStream, v: Int): Unit = { var i = 0; while (i < 4) { o.write((v >> (8 * i)) & 0xff); i += 1 } }
    def le64(o: java.io.DataOutputStream, v: Long): Unit = { var i = 0; while (i < 8) { o.write(((v >> (8 * i)) & 0xff).toInt); i += 1 } }
    schema.fields.zipWithIndex.map { case (f, i) =>
      val isTime = f.metadata.contains("logical_type") &&
        f.metadata.getString("logical_type") == "time"
      f.dataType match {
        case BooleanType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          o.write(if (r.isNullAt(i)) MissI8.toInt else if (r.getBoolean(i)) 1 else 0)
        case ByteType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          o.write(if (r.isNullAt(i)) MissI8.toInt else r.getByte(i).toInt)
        case ShortType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le16(o, if (r.isNullAt(i)) MissI16.toInt else r.getShort(i).toInt)
        case IntegerType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le32(o, if (r.isNullAt(i)) MissI32 else r.getInt(i))
        case DateType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le32(o, if (r.isNullAt(i)) MissI32 else (r.getInt(i) + Dta.EpochShiftDays).toInt)
        case FloatType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le32(o, if (r.isNullAt(i)) MissF32Bits else java.lang.Float.floatToIntBits(r.getFloat(i)))
        case LongType if isTime => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits((r.getLong(i) / 1000000L).toDouble))
        case LongType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits(r.getLong(i).toDouble))
        case TimestampNTZType | TimestampType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits((r.getLong(i) / 1000L + Dta.EpochShiftMs).toDouble))
        case DoubleType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le64(o, if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits(r.getDouble(i)))
        case StringType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          if (r.isNullAt(i)) o.writeInt(-1)
          else {
            val b = r.getUTF8String(i).getBytes
            o.writeInt(b.length)
            o.write(b)
          }
        case dt => throw new IllegalArgumentException(
          s"readstat sink: unsupported type $dt for ${f.name}")
      }
    }
  }

  private def fixed(b: Array[Byte], len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    System.arraycopy(b, 0, out, 0, math.min(b.length, len))
    out
  }

  private def le64(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  private final class CountingOut(os: java.io.OutputStream) extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { os.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = { os.write(b, off, len); count += len }
    override def close(): Unit = os.close()
  }
}
