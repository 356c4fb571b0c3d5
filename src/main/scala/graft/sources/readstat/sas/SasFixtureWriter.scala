package graft.sources.readstat.sas

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.readstat.Spill

/** Minimal `.sas7bdat` writer — 64-bit little-endian, uncompressed DATA
  * pages or RLE/RDC-compressed rows in META-page subheaders.
  *
  * The reference has no sas7bdat writer either (its "SAS sink" emits
  * CSV+script, S10); this exists because our test strategy (SURVEY.md §5,
  * FIXTURES.md §2) requires generated SAS fixtures for the read path.
  * Emits the real page/subheader dictionary structure: ROW_SIZE,
  * COLUMN_SIZE, COLUMN_TEXT, COLUMN_NAME, COLUMN_ATTRS, FORMAT_AND_LABEL.
  *
  * Types: numerics → 8-byte doubles (DATE/DATETIME/TIME via format strings),
  * strings → fixed-width space-padded bytes.
  *
  * One cell encoder ([[spillEncoders]]) and one row renderer
  * ([[renderRows]]) serve both writers: the readstat sink's commit renders
  * its spill parts with them ([[write]] is a sink write, compressed ones
  * included), and [[writeRowsStreaming]] renders in-memory chunks of local
  * rows.
  */
object SasFixtureWriter {

  private[readstat] final case class Col(
      name: String, dataType: DataType, isChar: Boolean, length: Int, fmt: String)

  /** Writes `df` through the readstat sink: uncompressed, or with RLE or
    * RDC row compression (RDC when both are set).
    */
  def write(df: DataFrame, path: String, rle: Boolean = false, rdc: Boolean = false): Unit = {
    val w = df.write.format("readstat").mode("overwrite").option("format", "sas7bdat")
    (if (rdc) w.option("compression", "rdc") else if (rle) w.option("compression", "rle") else w)
      .save(path)
  }

  /** Streams `rows` `[i32 len][bytes]` subheader records from `in` into
    * `emit`: the sink commit's stitch of rendered compressed parts.
    */
  private[readstat] def packRecords(
      in: Spill.In, rows: Long, emit: (Array[Byte], Int) => Unit): Unit = {
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
    Spill.writeFile(path) { os =>
      os.write(buildHeader(headerLen, pageLength, 0)) // page count patched below
      val packer = new SubheaderPagePacker(os, pageLength)
      dictSubheaders(cols, rowLength, nRows, rle = !rdc, rdc = rdc)
        .foreach(s => packer.add(s, 0, s.length, comp = 0, typ = 0))
      body((bytes, len) => packer.add(bytes, 0, len, comp = 4, typ = 1))
      packer.finish()
      os.close()
      // patch the page count (u32 at 204 + align1)
      val raf = new java.io.RandomAccessFile(path, "rw")
      try { raf.seek(204 + 4); raf.write(Spill.le(packer.nPages, 4)) } finally raf.close()
    }
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
      Spill.putLE(page, ptrOff, top, 8)
      Spill.putLE(page, ptrOff + 8, len, 8)
      page(ptrOff + 16) = comp.toByte
      page(ptrOff + 17) = typ.toByte
      ptrOff += ptrSize
      count += 1
    }

    private def flush(): Unit = {
      if (count == 0) return
      Spill.putLE(page, bitOffset, 0, 2) // META
      Spill.putLE(page, bitOffset + 2, count, 2)
      Spill.putLE(page, bitOffset + 4, count, 2)
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

  /** Uncompressed writer of exactly `nRows` local rows: they go through
    * the sink's encoders and renderer a chunk at a time, and pages go
    * straight to disk — O(chunk) memory at any row count. An iterator with
    * fewer or more rows than `nRows` fails the write.
    */
  def writeRowsStreaming(
      schema: StructType,
      rows: Iterator[Row],
      path: String,
      stringWidths: Map[String, Int],
      nRows: Long): Long = {
    val cols = colsFor(schema, stringWidths)
    writeFramedStreaming(schema, stringWidths, path, nRows) { out =>
      val n = Spill.encodeRows(schema, rows, spillEncoders(schema), nRows) { (in, k, _) =>
        renderRows(in, k, cols)(out.write)
      }
      require(n == nRows, s"sas fixture: iterator ended at $n of $nRows")
      require(!rows.hasNext, s"sas fixture: iterator has more than $nRows rows")
    }
  }

  /** Renders `rows` spilled rows from `in` at the columns' widths into one
    * reused buffer handed to `row`: numeric cells verbatim (8-byte bits,
    * epochs and missings applied by the encoders), strings space-padded.
    */
  private[readstat] def renderRows(in: Spill.In, rows: Long, cols: Array[Col])(
      row: Array[Byte] => Unit): Unit = {
    val rowBuf = new Array[Byte](cols.map(_.length).sum)
    var r = 0L
    while (r < rows) {
      var off = 0
      var i = 0
      while (i < cols.length) {
        val c = cols(i)
        if (c.isChar) {
          java.util.Arrays.fill(rowBuf, off, off + c.length, ' '.toByte)
          val len = in.readInt()
          if (len > 0) {
            require(len <= c.length, s"string too long for ${c.name}")
            in.readFully(rowBuf, off, len)
          }
        } else in.readFully(rowBuf, off, 8)
        off += c.length
        i += 1
      }
      row(rowBuf)
      r += 1
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

    Spill.writeFile(path) { os =>
      os.write(buildHeader(headerLen, pageLength, metaPages.length + nDataPages))
      metaPages.foreach(os.write)
      val page = new Array[Byte](pageLength)
      var fill = 0 // row bytes in the current page
      var total = 0L
      def emitPage(): Unit = {
        Spill.putLE(page, bitOffset, 256, 2) // DATA
        Spill.putLE(page, bitOffset + 2, fill / rowLength, 2)
        Spill.putLE(page, bitOffset + 4, 0, 2)
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
    }
  }

  /** Executor-side spill encoders for the distributed sink: numerics spill
    * as FINAL 8-byte LE double bits (SAS NaN-class missing, 1960 epochs
    * applied); strings as [[Spill.string]] cells — space padding happens at
    * assembly, where the global width is known.
    */
  private[readstat] def spillEncoders(schema: StructType): Array[Spill.Cell] = {
    val MissingBits = 0x7ff0000000000001L // NaN class → missing
    schema.fields.zipWithIndex.map { case (f, i) =>
      val isTime = f.metadata.contains("logical_type") &&
        f.metadata.getString("logical_type") == "time"
      def num(get: org.apache.spark.sql.catalyst.InternalRow => Double): Spill.Cell = (r, o) => {
        o.le64(if (r.isNullAt(i)) MissingBits else java.lang.Double.doubleToRawLongBits(get(r)))
        -1
      }
      f.dataType match {
        case StringType => Spill.string(i)
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

  private def buildHeader(headerLen: Int, pageLen: Int, nPages: Int): Array[Byte] = {
    val b = new Array[Byte](headerLen)
    System.arraycopy(Sas.Magic, 0, b, 0, 32)
    b(32) = '3' // 64-bit
    b(35) = '3' // align1 = 4
    b(37) = 0x01 // little-endian
    b(39) = '1' // unix
    b(70) = 20 // UTF-8
    val a1 = 4
    Spill.putLE(b, 196 + a1, headerLen, 4)
    Spill.putLE(b, 200 + a1, pageLen, 4)
    Spill.putLE(b, 204 + a1, math.max(nPages, 0), 4)
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
    Spill.putLE(textPayload, 0, textPayload.length, 2)

    // subheaders: (signature ++ body)
    def sub(sig: Array[Int], body: Array[Byte]): Array[Byte] =
      sig.map(_.toByte) ++ body

    val rowSizeBody = new Array[Byte](800)
    Spill.putLE(rowSizeBody, 5 * 8 - 8, rowLength, 8)
    Spill.putLE(rowSizeBody, 6 * 8 - 8, nRows, 8)
    Spill.putLE(rowSizeBody, 9 * 8 - 8, n, 8)
    Spill.putLE(rowSizeBody, 10 * 8 - 8, 0L, 8)
    Spill.putLE(rowSizeBody, 15 * 8 - 8, 0L, 8) // mix page row count
    val rowSize = sub(Array(0, 0, 0, 0, 0xF7, 0xF7, 0xF7, 0xF7), rowSizeBody)

    val colSizeBody = new Array[Byte](8)
    Spill.putLE(colSizeBody, 0, n, 8)
    val colSize = sub(Array(0, 0, 0, 0, 0xF6, 0xF6, 0xF6, 0xF6), colSizeBody)

    val colText = sub(Array(0xFD, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), textPayload)

    // COLUMN_NAME: entries at +16, 8 bytes each; length = 28 + 8n
    val colNameBody = new Array[Byte](8 + 8 * n + 12)
    cols.indices.foreach { i =>
      val e = 8 + 8 * i
      Spill.putLE(colNameBody, e, 0, 2)
      Spill.putLE(colNameBody, e + 2, nameRefs(i)._1, 2)
      Spill.putLE(colNameBody, e + 4, nameRefs(i)._2, 2)
    }
    val colName = sub(Array(0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), colNameBody)

    // COLUMN_ATTRS: entries at +16, 16 bytes each; length = 28 + 16n
    val colAttrsBody = new Array[Byte](8 + 16 * n + 12)
    var colOff = 0
    cols.zipWithIndex.foreach { case (c, i) =>
      val e = 8 + 16 * i
      Spill.putLE(colAttrsBody, e, colOff, 8)
      Spill.putLE(colAttrsBody, e + 8, c.length, 4)
      colAttrsBody(e + 14) = if (c.isChar) 2 else 1
      colOff += c.length
    }
    val colAttrs = sub(Array(0xFC, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), colAttrsBody)

    // one FORMAT_AND_LABEL per column: u16 fields at base+22.. (base = +24)
    val fmtSubs = cols.indices.map { i =>
      val body = new Array[Byte](56)
      // base = offset + 24 → body index base-8 = 16; fields at body 16+22-8=30..40
      val b0 = 24 - 8
      Spill.putLE(body, b0 + 22, 0, 2)
      Spill.putLE(body, b0 + 24, fmtRefs(i)._1, 2)
      Spill.putLE(body, b0 + 26, fmtRefs(i)._2, 2)
      Spill.putLE(body, b0 + 28, 0, 2)
      Spill.putLE(body, b0 + 30, 0, 2)
      Spill.putLE(body, b0 + 32, 0, 2)
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
