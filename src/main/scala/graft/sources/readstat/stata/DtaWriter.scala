package graft.sources.readstat.stata

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.readstat.Spill

/** Stata `.dta` v118 writer (S8 in SURVEY.md §2.1; v119 when >32,767 vars).
  *
  * One cell encoder ([[spillEncoders]]) and one record renderer
  * ([[renderRows]]) serve both writers: the readstat sink's commit renders
  * its spill parts with them, and [[writeRows]] renders in-memory chunks of
  * local rows. Either way the container is one sequential file with a
  * header patch-back ([[writeFramed]]; same constraint as the reference
  * `src/stata/writer.rs:205-328`). For cluster use, write partitioned
  * parquet instead; this writer exists for format parity and doubles as
  * the test fixture generator (FIXTURES.md §3).
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

  /** Writes local rows, `stringWidths` bytes wide at most (strL past
    * 2,045), through the sink's encoders and renderer in memory.
    */
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
      Spill.encodeRows(schema, rows, spillEncoders(schema)) { (in, n, first) =>
        renderRows(in, n, first, specs, sink.version, sink.data, sink.strls)
      }
    }
  }

  /** strL blobs as (variable, observation, bytes), 1-based. */
  type StrLs = scala.collection.mutable.ArrayBuffer[(Int, Long, Array[Byte])]

  /** What `writeFramed`'s data callback writes into: the data section's
    * stream and the strL side table, whose blobs are written in the order
    * they are added.
    */
  final class DtaDataSink private[DtaWriter] (
      val version: Int, val data: java.io.OutputStream, val strls: StrLs)

  /** Renders `rows` spilled rows from `in` as records into `out`: numeric
    * cells copy verbatim, strings pad to their width or become strL refs
    * (obs = `firstRow` + row + 1) whose blobs are added to `strls`.
    */
  private[readstat] def renderRows(in: Spill.In, rows: Long, firstRow: Long,
      specs: Array[ColSpec], version: Int, out: java.io.OutputStream, strls: StrLs): Unit = {
    // strL ref: v118 v(2)+o(6), v119 v(3)+o(5), both little-endian
    val vBytes = if (version >= 119) 3 else 2
    val rowBuf = new Array[Byte](specs.map(_.kind.width).sum)
    var r = 0L
    while (r < rows) {
      java.util.Arrays.fill(rowBuf, 0.toByte)
      var off = 0
      var i = 0
      while (i < specs.length) {
        specs(i).kind match {
          case KStr(w) =>
            val len = in.readInt()
            if (len > 0) {
              require(len <= w, s"string too long for str$w: ${specs(i).name}")
              in.readFully(rowBuf, off, len)
            }
          case KStrL =>
            val len = in.readInt()
            if (len >= 0) {
              val blob = new Array[Byte](len)
              in.readFully(blob)
              val o = firstRow + r + 1
              strls += ((i + 1, o, blob))
              Spill.putLE(rowBuf, off, i + 1, vBytes)
              Spill.putLE(rowBuf, off + vBytes, o, 8 - vBytes)
            }
          case k =>
            in.readFully(rowBuf, off, k.width)
        }
        off += specs(i).kind.width
        i += 1
      }
      out.write(rowBuf)
      r += 1
    }
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
    Spill.writeFile(path) { file =>
      val out = new CountingOut(file)
      def tag(s: String): Unit = out.write(s.getBytes(StandardCharsets.US_ASCII))
      def u16(v: Int): Unit = out.write(Spill.le(v, 2))
      def u32(v: Long): Unit = out.write(Spill.le(v, 4))
      def u64(v: Long): Unit = out.write(Spill.le(v, 8))

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
        // 1-based variable index
        Spill.putLE(srt, i * srtEntryLen, schema.fieldIndex(name) + 1, srtEntryLen)
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
      val strls: StrLs = scala.collection.mutable.ArrayBuffer()
      val nRows = data(new DtaDataSink(version, out, strls))
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
          def tu32(v: Int): Unit = tbl.write(Spill.le(v, 4))
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
        raf.seek(nobsOffset); raf.write(Spill.le(nRows, 8))
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
        m.foreach(v => raf.write(Spill.le(v, 8)))
      } finally raf.close()
      nRows
    }
  }

  /** Executor-side spill encoders for the distributed sink: each cell
    * spills as FINAL dta bytes (sentinels, epoch shifts — everything except
    * string padding, which needs global widths). Strings spill as
    * [[Spill.string]] cells; the driver assembler pads/strL-refs them while
    * framing.
    */
  private[readstat] def spillEncoders(schema: StructType): Array[Spill.Cell] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val isTime = f.metadata.contains("logical_type") &&
        f.metadata.getString("logical_type") == "time"
      val cell: Spill.Cell = f.dataType match {
        case BooleanType => (r, o) => {
          o.byte(if (r.isNullAt(i)) MissI8.toInt else if (r.getBoolean(i)) 1 else 0); -1
        }
        case ByteType => (r, o) => { o.byte(if (r.isNullAt(i)) MissI8.toInt else r.getByte(i).toInt); -1 }
        case ShortType => (r, o) => { o.le16(if (r.isNullAt(i)) MissI16.toInt else r.getShort(i).toInt); -1 }
        case IntegerType => (r, o) => { o.le32(if (r.isNullAt(i)) MissI32 else r.getInt(i)); -1 }
        case DateType => (r, o) => {
          o.le32(if (r.isNullAt(i)) MissI32 else (r.getInt(i) + Dta.EpochShiftDays).toInt); -1
        }
        case FloatType => (r, o) => {
          o.le32(if (r.isNullAt(i)) MissF32Bits else java.lang.Float.floatToIntBits(r.getFloat(i))); -1
        }
        case LongType if isTime => (r, o) => {
          o.le64(if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits((r.getLong(i) / 1000000L).toDouble)); -1
        }
        case LongType => (r, o) => {
          o.le64(if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits(r.getLong(i).toDouble)); -1
        }
        case TimestampNTZType | TimestampType => (r, o) => {
          o.le64(if (r.isNullAt(i)) MissF64Bits
          else java.lang.Double.doubleToLongBits((r.getLong(i) / 1000L + Dta.EpochShiftMs).toDouble)); -1
        }
        case DoubleType => (r, o) => {
          o.le64(if (r.isNullAt(i)) MissF64Bits else java.lang.Double.doubleToLongBits(r.getDouble(i))); -1
        }
        case StringType => Spill.string(i)
        case dt => throw new IllegalArgumentException(
          s"readstat sink: unsupported type $dt for ${f.name}")
      }
      cell
    }

  private def fixed(b: Array[Byte], len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    System.arraycopy(b, 0, out, 0, math.min(b.length, len))
    out
  }

  private final class CountingOut(os: java.io.OutputStream) extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = { os.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = { os.write(b, off, len); count += len }
    override def close(): Unit = os.close()
  }
}
