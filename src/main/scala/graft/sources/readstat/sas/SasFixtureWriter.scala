package graft.sources.readstat.sas

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, max, octet_length}
import org.apache.spark.sql.types._

/** Minimal `.sas7bdat` writer — 64-bit little-endian, uncompressed DATA
  * pages or RLE-compressed rows in META-page subheaders.
  *
  * The reference has no sas7bdat writer either (its "SAS sink" emits
  * CSV+script, S10); this exists because our test strategy (SURVEY.md §5,
  * FIXTURES.md §2) requires generated SAS fixtures for the read path.
  * Emits the real page/subheader dictionary structure: ROW_SIZE,
  * COLUMN_SIZE, COLUMN_TEXT, COLUMN_NAME, COLUMN_ATTRS, FORMAT_AND_LABEL.
  *
  * Types: numerics → 8-byte doubles (DATE/DATETIME/TIME via format strings),
  * strings → fixed-width space-padded bytes.
  */
object SasFixtureWriter {

  private[readstat] final case class Col(
      name: String, dataType: DataType, isChar: Boolean, length: Int, fmt: String)

  def write(df: DataFrame, path: String, rle: Boolean = false, rdc: Boolean = false): Unit = {
    if (!rle && !rdc) {
      // uncompressed goes through the distributed DSv2 sink: executors
      // encode part buffers in parallel, the driver frames the pages
      df.write.format("readstat").mode("overwrite").option("format", "sas7bdat").save(path)
      return
    }
    // compressed: two-phase distributed write. Compressed row bytes depend
    // on the GLOBAL max string widths (fixed-layout rows are what gets
    // RLE/RDC'd), so phase 1 is a width aggregate; phase 2 has every
    // partition encode AND compress its rows into a subheader-record part
    // file (rows are independent subheaders — the same fact the read-side
    // page partitioner exploits), and the driver only streams part bytes
    // into META pages: per-row driver work is a length read + arraycopy.
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    val widths: Map[String, Int] =
      if (strCols.isEmpty) Map.empty
      else {
        val aggs = strCols.map(c => max(octet_length(col(c))).as(c))
        val r = df.select(aggs.toIndexedSeq: _*).collect()(0)
        strCols.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(i)) 1 else math.max(1, r.getInt(i)))
        }.toMap
      }
    writeCompressedDistributed(df, path, widths, rdc = rdc)
  }

  /** Phase 2 of the compressed write: executors encode+compress, driver
    * frames. Part files hold `[i32 len][bytes]` subheader records in final
    * on-page form.
    */
  private[readstat] def writeCompressedDistributed(
      df: DataFrame, path: String, widths: Map[String, Int], rdc: Boolean): Long = {
    import graft.sources.readstat.ReadstatWriteSupport
    val schema = df.schema
    val stagingDir = path + ".spill-parts"
    try {
      val parts = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        val cols = colsFor(schema, widths)
        val rowLength = cols.map(_.length).sum
        val enc = fixedRowEncoder(schema, cols)
        val rowBuf = new Array[Byte](math.max(rowLength, 1))
        val partPath = s"$stagingDir/part-$pid"
        val out = new java.io.DataOutputStream(new BufferedOutputStream(
          ReadstatWriteSupport.create(partPath), 1 << 20))
        var n = 0L
        try {
          while (it.hasNext) {
            enc(it.next(), rowBuf)
            val comp = if (rdc) RdcEncode.encode(rowBuf) else RleEncode.encode(rowBuf)
            // expansion fallback: raw row bytes (reader treats len==rowLength as raw)
            val c = if (comp.length < rowLength) comp else rowBuf
            out.writeInt(c.length)
            out.write(c, 0, c.length)
            n += 1
          }
        } finally out.close()
        Iterator((pid, n, partPath))
      }.collect().sortBy(_._1)
      val nRows = parts.map(_._2).sum
      writeCompressedFramed(schema, widths, path, nRows, rdc = rdc) { emit =>
        parts.foreach { case (_, rows, partPath) =>
          val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
            graft.sources.readstat.ReadstatIO.open(partPath), 1 << 20))
          try packRecords(in, rows, emit) finally in.close()
        }
      }
      nRows
    } finally ReadstatWriteSupport.deleteDir(stagingDir)
  }

  /** Streams `rows` `[i32 len][bytes]` subheader records from `in` into
    * `emit` — the packer loop for record part files, shared by the
    * compressed distributed write and the sink's commit.
    */
  private[readstat] def packRecords(
      in: java.io.DataInputStream, rows: Long, emit: (Array[Byte], Int) => Unit): Unit = {
    var r = 0L
    var buf = new Array[Byte](256)
    while (r < rows) {
      val len = in.readInt()
      if (len > buf.length) buf = new Array[Byte](len)
      in.readFully(buf, 0, len)
      emit(buf, len)
      r += 1
    }
  }

  /** Streaming compressed-container framer: header (page count patched back
    * at close) + dictionary subheaders + one data subheader per compressed
    * row, packed into META pages as they arrive — O(page) memory at any row
    * count. `body` calls `emit(bytes, len)` once per row in order.
    */
  private[readstat] def writeCompressedFramed(
      schema: StructType,
      widths: Map[String, Int],
      path: String,
      nRows: Long,
      rdc: Boolean)(body: ((Array[Byte], Int) => Unit) => Unit): Unit = {
    val cols = colsFor(schema, widths)
    val rowLength = cols.map(_.length).sum
    val pageLength = math.max(8192, Integer.highestOneBit(rowLength + 512) * 2)
    val headerLen = 1024
    val raf = new java.io.RandomAccessFile(path, "rw")
    try {
      raf.setLength(0)
      val os = new BufferedOutputStream(new java.io.FileOutputStream(raf.getFD), 1 << 20)
      os.write(buildHeader(headerLen, pageLength, 0)) // page count patched below
      val packer = new SubheaderPagePacker(os, pageLength)
      dictSubheaders(cols, rowLength, nRows, rle = !rdc, rdc = rdc)
        .foreach(s => packer.add(s, 0, s.length, comp = 0, typ = 0))
      body((bytes, len) => packer.add(bytes, 0, len, comp = 4, typ = 1))
      packer.finish()
      os.flush()
      // patch the page count (u32 at 204 + align1)
      raf.seek(204 + 4)
      val n = packer.nPages
      raf.write(Array[Byte]((n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
        ((n >> 16) & 0xff).toByte, ((n >> 24) & 0xff).toByte))
    } finally raf.close()
  }

  /** Packs subheaders into META pages streamed to `os`: pointer table grows
    * from the bit offset, payloads from the page end — the same layout
    * `buildMetaPage` produced in memory, emitted page-at-a-time.
    */
  private[readstat] final class SubheaderPagePacker(
      os: java.io.OutputStream, pageLength: Int) {
    private val bitOffset = 32
    private val ptrSize = 24
    private val page = new Array[Byte](pageLength)
    private var top = pageLength
    private var ptrOff = bitOffset + 8
    private var count = 0
    var nPages = 0

    def add(bytes: Array[Byte], off: Int, len: Int, comp: Int, typ: Int): Unit = {
      if (ptrOff + ptrSize > top - len) {
        flush()
        require(ptrOff + ptrSize <= top - len, "sas writer: subheader larger than page")
      }
      top -= len
      System.arraycopy(bytes, off, page, top, len)
      putU64(page, ptrOff, top.toLong)
      putU64(page, ptrOff + 8, len.toLong)
      page(ptrOff + 16) = comp.toByte
      page(ptrOff + 17) = typ.toByte
      ptrOff += ptrSize
      count += 1
    }

    private def flush(): Unit = {
      if (count == 0) return
      putU16(page, bitOffset, 0) // META
      putU16(page, bitOffset + 2, count)
      putU16(page, bitOffset + 4, count)
      os.write(page)
      nPages += 1
      java.util.Arrays.fill(page, 0.toByte)
      top = pageLength
      ptrOff = bitOffset + 8
      count = 0
    }

    def finish(): Unit = flush()
  }

  private[readstat] def colsFor(schema: StructType, stringWidths: Map[String, Int]): Array[Col] =
    schema.fields.map { f =>
      val isTime = f.metadata.contains("logical_type") &&
        f.metadata.getString("logical_type") == "time"
      f.dataType match {
        case StringType => Col(f.name, f.dataType, isChar = true, stringWidths.getOrElse(f.name, 1), "")
        case DateType => Col(f.name, f.dataType, isChar = false, 8, "DATE")
        case TimestampNTZType | TimestampType => Col(f.name, f.dataType, isChar = false, 8, "DATETIME")
        case LongType if isTime => Col(f.name, f.dataType, isChar = false, 8, "TIME")
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | BooleanType =>
          Col(f.name, f.dataType, isChar = false, 8, "")
        case dt => throw new IllegalArgumentException(s"sas fixture writer: unsupported $dt")
      }
    }

  /** Streaming uncompressed writer for a KNOWN row count: pages go straight
    * to disk, O(page) memory — for large generated files (the in-memory
    * `writeRows` buffers everything, which is fine only at fixture scale).
    */
  def writeRowsStreaming(
      schema: StructType,
      rows: Iterator[Row],
      path: String,
      stringWidths: Map[String, Int],
      nRows: Long): Long = {
    val cols = colsFor(schema, stringWidths)
    val rowBuf = new Array[Byte](cols.map(_.length).sum)
    writeFramedStreaming(schema, stringWidths, path, nRows) { out =>
      var written = 0L
      while (written < nRows) {
        require(rows.hasNext, s"sas fixture: iterator ended at $written of $nRows")
        encodeRowAt(cols, rows.next(), rowBuf, 0)
        out.write(rowBuf)
        written += 1
      }
    }
  }

  /** Page-framing core: header + meta pages + DATA pages around the fixed
    * rows that `data` writes into the stream it is given (exactly `nRows`
    * rows, in any write sizes); the stream packs them into pages as they
    * arrive. The sink's commit streams rendered part rows through it; the
    * row-count-first requirement is satisfied there by the part messages.
    */
  private[readstat] def writeFramedStreaming(
      schema: StructType,
      stringWidths: Map[String, Int],
      path: String,
      nRows: Long)(data: java.io.OutputStream => Unit): Long = {
    val cols = colsFor(schema, stringWidths)
    val rowLength = cols.map(_.length).sum
    val pageLength = math.max(8192, Integer.highestOneBit(rowLength + 512) * 2)
    val bitOffset = 32
    val headerLen = 1024
    val metaPages = buildMetaPage(cols, rowLength, nRows, pageLength)
    val rowsPerPage = (pageLength - bitOffset - 8) / rowLength
    require(rowsPerPage > 0, "sas fixture: row too long for page")
    val nDataPages = ((nRows + rowsPerPage - 1) / rowsPerPage).toInt
    val pageRows = rowsPerPage * rowLength

    val os = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try {
      os.write(buildHeader(headerLen, pageLength, metaPages.length + nDataPages))
      metaPages.foreach(os.write)
      val page = new Array[Byte](pageLength)
      var fill = 0 // row bytes in the current page
      var total = 0L
      def emitPage(): Unit = {
        putU16(page, bitOffset, 256) // DATA
        putU16(page, bitOffset + 2, fill / rowLength)
        putU16(page, bitOffset + 4, 0)
        os.write(page)
        java.util.Arrays.fill(page, 0.toByte)
        fill = 0
      }
      data(new java.io.OutputStream {
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          var o = off
          var n = len
          while (n > 0) {
            val k = math.min(pageRows - fill, n)
            System.arraycopy(b, o, page, bitOffset + 8 + fill, k)
            fill += k
            o += k
            n -= k
            if (fill == pageRows) emitPage()
          }
          total += len
        }
      })
      require(total == nRows * rowLength,
        s"sas writer: ${total / rowLength} rows written, $nRows declared")
      if (fill > 0) emitPage()
      nRows
    } finally os.close()
  }

  /** Executor-side spill encoders for the distributed sink: numerics spill
    * as FINAL 8-byte LE double bits (SAS NaN-class missing, 1960 epochs
    * applied); strings as i32 length (−1 = null) + UTF-8 bytes — space
    * padding happens at assembly, where the global width is known.
    */
  private[readstat] def spillEncoders(
      schema: StructType): Array[(org.apache.spark.sql.catalyst.InternalRow, java.io.DataOutputStream) => Unit] = {
    val MissingBits = 0x7ff0000000000001L // NaN class → missing
    def le64(o: java.io.DataOutputStream, v: Long): Unit = {
      var i = 0
      while (i < 8) { o.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    schema.fields.zipWithIndex.map { case (f, i) =>
      val isTime = f.metadata.contains("logical_type") &&
        f.metadata.getString("logical_type") == "time"
      def num(get: org.apache.spark.sql.catalyst.InternalRow => Double) =
        (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          le64(o, if (r.isNullAt(i)) MissingBits
          else java.lang.Double.doubleToRawLongBits(get(r)))
      f.dataType match {
        case StringType => (r: org.apache.spark.sql.catalyst.InternalRow, o: java.io.DataOutputStream) =>
          if (r.isNullAt(i)) o.writeInt(-1)
          else {
            val b = r.getUTF8String(i).getBytes
            o.writeInt(b.length)
            o.write(b)
          }
        case DateType => num(r => (r.getInt(i).toLong + Sas.EpochShiftDays).toDouble)
        case TimestampNTZType | TimestampType =>
          num(r => r.getLong(i) / 1e6 + (Sas.EpochShiftDays * Sas.SecondsPerDay).toDouble)
        case LongType if isTime => num(r => r.getLong(i) / 1e9)
        case ByteType => num(r => r.getByte(i).toDouble)
        case ShortType => num(r => r.getShort(i).toDouble)
        case IntegerType => num(r => r.getInt(i).toDouble)
        case LongType => num(r => r.getLong(i).toDouble)
        case FloatType => num(r => r.getFloat(i).toDouble)
        case DoubleType => num(r => r.getDouble(i))
        case BooleanType => num(r => if (r.getBoolean(i)) 1.0 else 0.0)
        case dt => throw new IllegalArgumentException(
          s"readstat sink: unsupported type $dt for ${f.name}")
      }
    }
  }

  /** InternalRow → final fixed-layout row bytes (the unit RLE/RDC compresses):
    * numerics as 8-byte LE double bits with SAS NaN-class missing and 1960
    * epochs (same conversions as `spillEncoders`), strings space-padded to
    * the global width. Executor-side hot path — built once per partition.
    */
  private[readstat] def fixedRowEncoder(
      schema: StructType,
      cols: Array[Col]): (org.apache.spark.sql.catalyst.InternalRow, Array[Byte]) => Unit = {
    import org.apache.spark.sql.catalyst.InternalRow
    val MissingBits = 0x7ff0000000000001L // NaN class → missing
    val offs = cols.scanLeft(0)(_ + _.length)
    val fns: Array[(InternalRow, Array[Byte]) => Unit] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        val off = offs(i)
        val width = cols(i).length
        val isTime = f.metadata.contains("logical_type") &&
          f.metadata.getString("logical_type") == "time"
        def putBits(buf: Array[Byte], bits: Long): Unit = {
          var k = 0
          while (k < 8) { buf(off + k) = ((bits >> (8 * k)) & 0xff).toByte; k += 1 }
        }
        def num(get: InternalRow => Double): (InternalRow, Array[Byte]) => Unit =
          (r, buf) => putBits(buf, if (r.isNullAt(i)) MissingBits
          else java.lang.Double.doubleToRawLongBits(get(r)))
        f.dataType match {
          case StringType => (r: InternalRow, buf: Array[Byte]) => {
            java.util.Arrays.fill(buf, off, off + width, ' '.toByte)
            if (!r.isNullAt(i)) {
              val b = r.getUTF8String(i).getBytes
              require(b.length <= width, s"string too long for ${f.name}")
              System.arraycopy(b, 0, buf, off, b.length)
            }
          }
          case DateType => num(r => (r.getInt(i).toLong + Sas.EpochShiftDays).toDouble)
          case TimestampNTZType | TimestampType =>
            num(r => r.getLong(i) / 1e6 + (Sas.EpochShiftDays * Sas.SecondsPerDay).toDouble)
          case LongType if isTime => num(r => r.getLong(i) / 1e9)
          case ByteType => num(r => r.getByte(i).toDouble)
          case ShortType => num(r => r.getShort(i).toDouble)
          case IntegerType => num(r => r.getInt(i).toDouble)
          case LongType => num(r => r.getLong(i).toDouble)
          case FloatType => num(r => r.getFloat(i).toDouble)
          case DoubleType => num(r => r.getDouble(i))
          case BooleanType => num(r => if (r.getBoolean(i)) 1.0 else 0.0)
          case dt => throw new IllegalArgumentException(
            s"sas writer: unsupported type $dt for ${f.name}")
        }
      }
    (r, buf) => {
      var i = 0
      while (i < fns.length) { fns(i)(r, buf); i += 1 }
    }
  }

  /** encodeRow variant writing at an offset into a larger (page) buffer. */
  private def encodeRowAt(cols: Array[Col], row: Row, buf: Array[Byte], base: Int): Unit = {
    var off = base
    cols.zipWithIndex.foreach { case (c, i) =>
      if (c.isChar) {
        java.util.Arrays.fill(buf, off, off + c.length, ' '.toByte)
        if (!row.isNullAt(i)) {
          val b = row.getString(i).getBytes(StandardCharsets.UTF_8)
          require(b.length <= c.length, s"string too long for ${c.name}")
          System.arraycopy(b, 0, buf, off, b.length)
        }
      } else {
        val bits = // raw bits: preserve NaN payloads (.A-.Z tagged missing)
          if (row.isNullAt(i)) 0x7ff0000000000001L // NaN-class → missing
          else java.lang.Double.doubleToRawLongBits(numeric(c, row, i))
        var k = 0
        while (k < 8) { buf(off + k) = ((bits >> (8 * k)) & 0xff).toByte; k += 1 }
      }
      off += c.length
    }
  }

  private def numeric(c: Col, row: Row, i: Int): Double = c.dataType match {
    case DateType =>
      val days = row.get(i) match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay
        case d: java.time.LocalDate => d.toEpochDay
        case x: java.lang.Integer => x.toLong
        case x => throw new IllegalArgumentException(s"date: $x")
      }
      (days + Sas.EpochShiftDays).toDouble
    case TimestampNTZType | TimestampType =>
      val micros = row.get(i) match {
        case t: java.time.LocalDateTime =>
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
        case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
        case x => throw new IllegalArgumentException(s"timestamp: $x")
      }
      micros / 1e6 + (Sas.EpochShiftDays * Sas.SecondsPerDay).toDouble
    case LongType if c.fmt == "TIME" => row.getLong(i) / 1e9
    case ByteType => row.getByte(i).toDouble
    case ShortType => row.getShort(i).toDouble
    case IntegerType => row.getInt(i).toDouble
    case LongType => row.getLong(i).toDouble
    case FloatType => row.getFloat(i).toDouble
    case DoubleType => row.getDouble(i)
    case BooleanType => if (row.getBoolean(i)) 1.0 else 0.0
    case dt => throw new IllegalArgumentException(s"$dt")
  }

  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putU32(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 4) { b(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
  }
  private def putU64(b: Array[Byte], off: Int, v: Long): Unit = {
    var i = 0
    while (i < 8) { b(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
  }

  private def buildHeader(headerLen: Int, pageLen: Int, nPages: Int): Array[Byte] = {
    val b = new Array[Byte](headerLen)
    System.arraycopy(Sas.Magic, 0, b, 0, 32)
    b(32) = '3' // 64-bit
    b(35) = '3' // align1 = 4
    b(37) = 0x01 // little-endian
    b(39) = '1' // unix
    b(70) = 20 // UTF-8
    val a1 = 4
    putU32(b, 196 + a1, headerLen.toLong)
    putU32(b, 200 + a1, pageLen.toLong)
    putU32(b, 204 + a1, math.max(nPages, 0).toLong)
    "9.0401M7".getBytes(StandardCharsets.US_ASCII).copyToArray(b, 216 + 8)
    b
  }

  /** Meta page(s) holding the dictionary subheaders (uncompressed layout). */
  private def buildMetaPage(
      cols: Array[Col], rowLength: Int, nRows: Long, pageLength: Int): Seq[Array[Byte]] = {
    val baos = new java.io.ByteArrayOutputStream()
    val packer = new SubheaderPagePacker(baos, pageLength)
    dictSubheaders(cols, rowLength, nRows, rle = false, rdc = false)
      .foreach(s => packer.add(s, 0, s.length, comp = 0, typ = 0))
    packer.finish()
    baos.toByteArray.grouped(pageLength).toSeq
  }

  /** The dictionary subheaders: ROW_SIZE, COLUMN_SIZE, COLUMN_TEXT (with the
    * compression signature when rle/rdc), COLUMN_NAME, COLUMN_ATTRS, and one
    * FORMAT_AND_LABEL per column.
    */
  private def dictSubheaders(
      cols: Array[Col], rowLength: Int, nRows: Long,
      rle: Boolean, rdc: Boolean): Seq[Array[Byte]] = {
    val n = cols.length

    // column text payload: u16 text-block size + (optional compression sig)
    // + strings. The leading u16 is patched to the final payload length
    // below — pandas' reader slices the text block to this size before
    // resolving name refs, so a zero here reads every name as empty
    // (fuzz-crosscheck-caught r6; our own reader ignores the field)
    val text = new java.io.ByteArrayOutputStream()
    text.write(0); text.write(0) // u16 text block size (patched below)
    if (rle) text.write("SASYZCRL".getBytes(StandardCharsets.US_ASCII))
    else if (rdc) text.write("SASYZCR2".getBytes(StandardCharsets.US_ASCII))
    val nameRefs = cols.map { c =>
      val off = text.size()
      val bytes = c.name.getBytes(StandardCharsets.UTF_8)
      text.write(bytes)
      (off, bytes.length)
    }
    val fmtRefs = cols.map { c =>
      if (c.fmt.isEmpty) (0, 0)
      else {
        val off = text.size()
        val bytes = c.fmt.getBytes(StandardCharsets.US_ASCII)
        text.write(bytes)
        (off, bytes.length)
      }
    }
    val textPayload = text.toByteArray
    putU16(textPayload, 0, textPayload.length)

    // subheaders: (signature ++ body)
    def sub(sig: Array[Int], body: Array[Byte]): Array[Byte] =
      sig.map(_.toByte) ++ body

    val rowSizeBody = new Array[Byte](800)
    putU64(rowSizeBody, 5 * 8 - 8, rowLength.toLong)
    putU64(rowSizeBody, 6 * 8 - 8, nRows)
    putU64(rowSizeBody, 9 * 8 - 8, n.toLong)
    putU64(rowSizeBody, 10 * 8 - 8, 0L)
    putU64(rowSizeBody, 15 * 8 - 8, 0L) // mix page row count
    val rowSize = sub(Array(0, 0, 0, 0, 0xF7, 0xF7, 0xF7, 0xF7), rowSizeBody)

    val colSizeBody = new Array[Byte](8)
    putU64(colSizeBody, 0, n.toLong)
    val colSize = sub(Array(0, 0, 0, 0, 0xF6, 0xF6, 0xF6, 0xF6), colSizeBody)

    val colText = sub(Array(0xFD, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), textPayload)

    // COLUMN_NAME: entries at +16, 8 bytes each; length = 28 + 8n
    val colNameBody = new Array[Byte](8 + 8 * n + 12)
    cols.indices.foreach { i =>
      val e = 8 + 8 * i
      putU16(colNameBody, e, 0)
      putU16(colNameBody, e + 2, nameRefs(i)._1)
      putU16(colNameBody, e + 4, nameRefs(i)._2)
    }
    val colName = sub(Array(0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), colNameBody)

    // COLUMN_ATTRS: entries at +16, 16 bytes each; length = 28 + 16n
    val colAttrsBody = new Array[Byte](8 + 16 * n + 12)
    var colOff = 0
    cols.zipWithIndex.foreach { case (c, i) =>
      val e = 8 + 16 * i
      putU64(colAttrsBody, e, colOff.toLong)
      putU32(colAttrsBody, e + 8, c.length.toLong)
      colAttrsBody(e + 14) = if (c.isChar) 2 else 1
      colOff += c.length
    }
    val colAttrs = sub(Array(0xFC, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), colAttrsBody)

    // one FORMAT_AND_LABEL per column: u16 fields at base+22.. (base = +24)
    val fmtSubs = cols.indices.map { i =>
      val body = new Array[Byte](56)
      // base = offset + 24 → body index base-8 = 16; fields at body 16+22-8=30..40
      val b0 = 24 - 8
      putU16(body, b0 + 22, 0)
      putU16(body, b0 + 24, fmtRefs(i)._1)
      putU16(body, b0 + 26, fmtRefs(i)._2)
      putU16(body, b0 + 28, 0)
      putU16(body, b0 + 30, 0)
      putU16(body, b0 + 32, 0)
      sub(Array(0xFE, 0xFB, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), body)
    }

    Seq(rowSize, colSize, colText, colName, colAttrs) ++ fmtSubs
  }
}

/** Simple SASYZCR2 (RDC) encoder: 16-bit control words; runs ≥ 3 become
  * short/long RLE commands, everything else is literal bytes.
  */
object RdcEncode {
  def encode(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bits = 0
    var nBits = 0
    val opBytes = new java.io.ByteArrayOutputStream()
    def op(isCmd: Boolean, bytes: Array[Byte]): Unit = {
      bits = (bits << 1) | (if (isCmd) 1 else 0)
      nBits += 1
      opBytes.write(bytes)
      if (nBits == 16) flush()
    }
    def flush(): Unit = {
      if (nBits == 0) return
      val ctrl = bits << (16 - nBits) // left-align remaining bits
      out.write((ctrl >> 8) & 0xff); out.write(ctrl & 0xff)
      opBytes.writeTo(out)
      opBytes.reset()
      bits = 0; nBits = 0
    }
    var i = 0
    while (i < row.length) {
      val b = row(i)
      var run = 1
      while (i + run < row.length && row(i + run) == b && run < 4113) run += 1
      if (run >= 3) {
        if (run <= 18) op(isCmd = true, Array((0x00 | (run - 3)).toByte, b))
        else {
          val n = run - 19
          op(isCmd = true, Array((0x10 | (n & 0x0f)).toByte, ((n >> 4) & 0xff).toByte, b))
        }
        i += run
      } else {
        op(isCmd = false, Array(b))
        i += 1
      }
    }
    flush()
    out.toByteArray
  }
}

/** Simple SASYZCRL-compatible encoder: runs → INSERT_*, literals → COPY.
  * Literal bytes are always a contiguous range of the row, so they are
  * copied from it; one output array per row, sized for the worst case
  * (every 16 literals cost one control byte).
  */
object RleEncode {
  def encode(row: Array[Byte]): Array[Byte] = {
    val n = row.length
    val out = new Array[Byte](n + n / 16 + 1)
    var o = 0
    var litStart = 0 // pending literals are row[litStart, i)

    def flushLiterals(end: Int): Unit = {
      var p = litStart
      while (p < end) {
        val chunk = math.min(16, end - p)
        out(o) = (0x80 | (chunk - 1)).toByte // COPY1: lo+1 bytes
        System.arraycopy(row, p, out, o + 1, chunk)
        o += 1 + chunk
        p += chunk
      }
    }

    var i = 0
    while (i < n) {
      var runLen = 1
      val b = row(i)
      while (i + runLen < n && row(i + runLen) == b && runLen < 4000) runLen += 1
      if (runLen >= 4) {
        flushLiterals(i)
        var left = runLen
        while (left >= 3) {
          if (left >= 18) {
            // INSERT_BYTE18 with the control nibble ALWAYS 0: decoders
            // disagree on its weight (readstat/the reference read
            // (nibble<<4)+nb+18, pandas reads nibble*256+nb+18 — real SAS
            // apparently never sets it), so the portable encoding caps each
            // command at the single count byte: ≤ 255+18 per command
            // (fuzz-crosscheck-caught r6)
            val count = math.min(left, 255 + 18)
            out(o) = 0x40; out(o + 1) = (count - 18).toByte; out(o + 2) = b
            o += 3
            left -= count
          } else {
            out(o) = (0xC0 | (left - 3)).toByte; out(o + 1) = b // INSERT_BYTE3
            o += 2
            left = 0
          }
        }
        // a remainder of 1-2 bytes joins the literals that follow
        litStart = i + runLen - left
      }
      i += runLen
    }
    flushLiterals(n)
    java.util.Arrays.copyOf(out, o)
  }
}
