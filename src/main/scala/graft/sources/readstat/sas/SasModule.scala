package graft.sources.readstat.sas

import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.readstat.{ColumnAppender, ReadstatFormats, ReadstatIO, ReadstatInputPartition, ReadstatOptions, RowCursor}

/** SAS `.sas7bdat` format module (SURVEY.md §2.1 S1).
  *
  * Partitioning: the metadata walk builds an EXACT run-length-encoded
  * per-page row index (`Sas.PageRun` — the reference's `page_index`,
  * `src/sas/reader.rs:364-435`), so partitions are page-aligned seeks for
  * uncompressed AND compressed files (each RLE/RDC row is an independent
  * subheader, so page boundaries are decode boundaries too). Files whose
  * index doesn't account for every row fall back to one sequential scan.
  *
  * The module keeps no state: like every format's, its parse is kept only
  * by the relation's [[graft.sources.readstat.ReadstatFileIndex]].
  */
object SasModule extends ReadstatFormats.FormatModule {
  import Sas._

  final case class SasContext(meta: Metadata) extends ReadstatFormats.FileContext

  /** The metadata walk reads every page (AMD metadata can trail the data,
    * same as the reference `src/sas/metadata.rs:38-88`): about 1 GB of
    * driver IO for a 1 GB file.
    */
  private[graft] def parseMeta(file: ReadstatIO.FileStamp): Metadata = {
    val in = ReadstatIO.buffered(ReadstatIO.open(file.path), file.len)
    try Sas.parseMetadata(in) finally in.close()
  }

  override def parse(file: ReadstatIO.FileStamp, opts: ReadstatOptions): ReadstatFormats.FilePlan = {
    val meta = parseMeta(file)
    plan(SasContext(meta), ranges(meta, opts), opts)
  }

  def sparkField(c: Column): StructField = {
    val mb = new MetadataBuilder()
    if (c.format.nonEmpty) mb.putString("format", c.format)
    if (c.label.nonEmpty) mb.putString("label", c.label)
    val dt: DataType = kindFor(c) match {
      case KChar => StringType
      case KDate => DateType
      case KDateTime => TimestampNTZType
      case KTime => mb.putString("logical_type", "time"); LongType
      case KNumeric => DoubleType
    }
    StructField(c.name, dt, nullable = true, metadata = mb.build())
  }

  /** Pack whole pages into partitions of ~maxPartitionBytes. Every cut is a
    * page boundary, so readers seek in O(1) from the exact page index.
    */
  private def ranges(meta: Metadata, opts: ReadstatOptions): Seq[(Long, Long)] = {
    // zero-variable (metadata-only) files have no row storage to iterate
    val n = if (meta.rowLength <= 0) 0L else meta.rowCount
    if (n <= 0) return Seq((0L, 0L))
    if (!meta.seekable) return Seq((0L, n))
    val pagesPerPart = math.max(1L,
      opts.maxPartitionBytes / math.max(1, meta.header.pageLength))
    val parts = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var curStart = 0L
    var curRows = 0L
    var curPages = 0L
    meta.pageRuns.foreach { run =>
      var k = 0L
      while (k < run.nPages) {
        // whole runs of small pages advance in blocks; cut points only ever
        // land on page boundaries
        val pagesLeftInRun = run.nPages - k
        val pagesToCut = math.max(1L, pagesPerPart - curPages)
        val take = math.min(pagesLeftInRun, pagesToCut)
        curRows += take * run.rowsPerPage
        curPages += take
        k += take
        if (curPages >= pagesPerPart && curRows >= opts.minRowsPerPartition) {
          parts += ((curStart, curRows))
          curStart += curRows
          curRows = 0L
          curPages = 0L
        }
      }
    }
    if (curRows > 0) parts += ((curStart, curRows))
    if (parts.isEmpty) Seq((0L, n)) else parts.toSeq
  }

  override protected def columns(
      ctx: ReadstatFormats.FileContext,
      opts: ReadstatOptions): Seq[ReadstatFormats.SourceColumn] = {
    val meta = ctx.asInstanceOf[SasContext].meta
    val le = meta.header.littleEndian
    meta.columns.toSeq.map { c =>
      ReadstatFormats.SourceColumn(sparkField(c), informative = !c.isChar,
        SasDecode.decoderFor(c, meta, opts), (row, base) => SasDecode.indicatorFor(c, le, row, base),
        Some(SasDecode.appender(c, meta, opts)))
    }
  }

  override protected def cursor(
      part: ReadstatInputPartition,
      ctx: ReadstatFormats.FileContext,
      opts: ReadstatOptions,
      keep: (Array[Byte], Int) => Boolean): RowCursor =
    new SasRowCursor(part, ctx.asInstanceOf[SasContext].meta, keep)
}

/** Per-column decode: closures for the row path, unboxed vector appenders
  * for the columnar path, built from the same kind/offset logic so the two
  * paths cannot drift.
  */
object SasDecode {
  import Sas._

  def missingDouble(bits: Long): Boolean =
    (bits & 0x7fffffffffffffffL) >= 0x7ff0000000000000L

  /** SAS tagged missing: NaN type byte at bits[47:40]; 0xBE→.A … 0xA5→.Z,
    * 0xD2→._ (reference `src/sas/value.rs:160-214`).
    */
  def indicatorFor(c: Column, le: Boolean, row: Array[Byte], base: Int): UTF8String = {
    val d = decodeNumeric(row, base + c.offset, c.length, le)
    val bits = java.lang.Double.doubleToRawLongBits(d)
    if ((bits & 0x7fffffffffffffffL) < 0x7ff0000000000000L) return null // valid
    val typeByte = ((bits >> 40) & 0xff).toInt
    if (typeByte >= 0xA5 && typeByte <= 0xBE) {
      val letter = (0xFF ^ typeByte) // 0x41..0x5A
      UTF8String.fromString("." + letter.toChar)
    } else if (typeByte == 0xD2) UTF8String.fromString("._")
    else null
  }

  /** Trimmed (offset, length) of a char cell: trailing space/NUL stripped,
    * stopped at the first interior NUL. Returns length in the low 32 bits
    * and a non-ASCII flag in bit 32 (packed to avoid a tuple allocation in
    * the hot loop).
    */
  private def charSpan(row: Array[Byte], off: Int, width: Int): Long = {
    var end = width
    while (end > 0 && (row(off + end - 1) == ' ' || row(off + end - 1) == 0)) end -= 1
    var nul = 0
    var ascii = true
    while (nul < end && row(off + nul) != 0) {
      if (row(off + nul) < 0) ascii = false
      nul += 1
    }
    end = math.min(end, nul)
    if (ascii) end.toLong else end.toLong | (1L << 32)
  }

  def decoderFor(c: Column, meta: Metadata, opts: ReadstatOptions): (Array[Byte], Int) => Any = {
    val le = meta.header.littleEndian
    val cs = meta.charset
    val csUtf8 = cs == java.nio.charset.StandardCharsets.UTF_8
    kindFor(c) match {
      case KChar => (row, base) => {
        val off = base + c.offset
        val span = charSpan(row, off, c.length)
        val end = span.toInt
        val ascii = (span >>> 32) == 0
        if (end == 0) { if (opts.missingStringAsNull) null else UTF8String.fromString("") }
        else if (ascii) UTF8String.fromBytes(java.util.Arrays.copyOfRange(row, off, off + end))
        else if (csUtf8) {
          // valid UTF-8 wraps directly (hot path); invalid bytes fall back to
          // the lossy java decode (U+FFFD)
          val s = UTF8String.fromBytes(java.util.Arrays.copyOfRange(row, off, off + end))
          if (s.isValid) s else UTF8String.fromString(new String(row, off, end, cs))
        } else UTF8String.fromString(new String(row, off, end, cs))
      }
      case KNumeric => (row, base) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) null
        else java.lang.Double.valueOf(d)
      }
      case KDate => (row, base) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) null
        else java.lang.Integer.valueOf(dateDays(d))
      }
      case KDateTime => (row, base) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) null
        else java.lang.Long.valueOf(datetimeMicros(d))
      }
      case KTime => (row, base) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) null
        else java.lang.Long.valueOf((d * 1e9).toLong)
      }
    }
  }

  /** days since 1960 → days since 1970, with a seconds fallback for
    * out-of-range values (reference `src/sas/polars_output.rs:322-329`).
    */
  @inline private def dateDays(d: Double): Int = {
    val days = d.toInt - EpochShiftDays.toInt
    if (days >= -135080 && days <= 156935) days
    else (d / SecondsPerDay).toInt - EpochShiftDays.toInt
  }

  @inline private def datetimeMicros(d: Double): Long =
    ((d - EpochShiftDays * SecondsPerDay) * 1e6).toLong

  /** Unboxed vector appender — numerics/dates write primitives straight
    * into the vector; char cells copy their byte span without an
    * intermediate UTF8String where the charset allows.
    */
  def appender(c: Column, meta: Metadata, opts: ReadstatOptions): ColumnAppender = {
    val le = meta.header.littleEndian
    val cs = meta.charset
    val csUtf8 = cs == java.nio.charset.StandardCharsets.UTF_8
    kindFor(c) match {
      case KNumeric => (row: Array[Byte], base: Int, vec: WritableColumnVector, i: Int) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) vec.putNull(i)
        else vec.putDouble(i, d)
      }
      case KDate => (row: Array[Byte], base: Int, vec: WritableColumnVector, i: Int) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) vec.putNull(i)
        else vec.putInt(i, dateDays(d))
      }
      case KDateTime => (row: Array[Byte], base: Int, vec: WritableColumnVector, i: Int) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) vec.putNull(i)
        else vec.putLong(i, datetimeMicros(d))
      }
      case KTime => (row: Array[Byte], base: Int, vec: WritableColumnVector, i: Int) => {
        val d = decodeNumeric(row, base + c.offset, c.length, le)
        if (missingDouble(java.lang.Double.doubleToRawLongBits(d))) vec.putNull(i)
        else vec.putLong(i, (d * 1e9).toLong)
      }
      case KChar => (row: Array[Byte], base: Int, vec: WritableColumnVector, i: Int) => {
        val off = base + c.offset
        val span = charSpan(row, off, c.length)
        val end = span.toInt
        val ascii = (span >>> 32) == 0
        if (end == 0) {
          if (opts.missingStringAsNull) vec.putNull(i)
          else vec.putByteArray(i, Array.emptyByteArray, 0, 0)
        } else if (ascii) vec.putByteArray(i, row, off, end)
        else if (csUtf8 && UTF8String.fromBytes(row, off, end).isValid) {
          vec.putByteArray(i, row, off, end)
        } else {
          val bytes = new String(row, off, end, cs)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          vec.putByteArray(i, bytes, 0, bytes.length)
        }
      }
    }
  }
}

/** Physical row iteration for one partition: page loading, MIX/META/DATA
  * dispatch, per-row decompression, offset skip and pushed-filter skip.
  * Shared by the row and columnar readers.
  */
final class SasRowCursor(
    part: ReadstatInputPartition,
    meta: Sas.Metadata,
    keep: (Array[Byte], Int) => Boolean) extends RowCursor {
  import Sas._

  private val h = meta.header
  private val fsin = ReadstatIO.open(part.path)
  // pages are read whole with readFully — no BufferedInputStream layer,
  // which would just memcpy every byte a second time
  private val page = new Array[Byte](h.pageLength)

  private var remaining = part.rowCount
  private var toSkip = 0L

  // state within the current page
  private var rowsLeftOnPage = 0
  private var rowOffset = 0
  private val rowStep = meta.rowLength
  // compressed: subheader row list of (offset, length)
  private var subRows: IndexedSeq[(Int, Int)] = IndexedSeq.empty
  private var subIdx = 0
  private var decompressed: Array[Byte] = _

  // current physical row
  private var curBuf: Array[Byte] = _
  private var curBase = 0

  locally {
    // the exact page index maps any row start to its page in O(runs); files
    // without a valid index scan from the first page, skipping rows
    val run = if (meta.seekable)
      meta.pageRuns.find(r => part.rowStart >= r.rowStart && part.rowStart < r.endRow)
    else None
    // a cursor that fails to open is never closed by its caller
    try run match {
      case Some(r) =>
        val pageIdx = r.firstPage + (part.rowStart - r.rowStart) / r.rowsPerPage
        fsin.seek(h.headerLength.toLong + pageIdx * h.pageLength)
        toSkip = (part.rowStart - r.rowStart) % r.rowsPerPage
      case None =>
        fsin.seek(h.headerLength.toLong)
        toSkip = part.rowStart
    } catch { case e: Throwable => fsin.close(); throw e }
  }

  override def buf: Array[Byte] = curBuf
  override def base: Int = curBase

  override def nextRow(): Boolean = {
    if (remaining <= 0) return false
    while (true) {
      if (!nextRowBytes()) return false
      if (toSkip > 0) toSkip -= 1
      else {
        remaining -= 1
        if (keep == null || keep(curBuf, curBase)) return true
        if (remaining <= 0) return false
      }
    }
    false
  }

  /** Advances curBuf/curBase to the next physical row; false at EOF. */
  private def nextRowBytes(): Boolean = {
    while (true) {
      if (rowsLeftOnPage > 0) {
        curBuf = page
        curBase = rowOffset
        rowOffset += rowStep
        rowsLeftOnPage -= 1
        return true
      }
      if (subIdx < subRows.length) {
        val (off, len) = subRows(subIdx)
        subIdx += 1
        if (len < meta.rowLength) {
          decompressed = meta.compression match {
            case CRdc => SasDecompress.rdc(page, off, len, meta.rowLength)
            case _ => SasDecompress.rle(page, off, len, meta.rowLength)
          }
          curBuf = decompressed
          curBase = 0
        } else {
          curBuf = page
          curBase = off
        }
        return true
      }
      if (!readFully(fsin, page, h.pageLength)) return false
      loadPage()
    }
    false
  }

  private def loadPage(): Unit = {
    rowsLeftOnPage = 0
    rowOffset = 0
    subRows = IndexedSeq.empty
    subIdx = 0
    val pt = pageType(page, h)
    if (pt == PData) {
      rowsLeftOnPage = blockCount(page, h)
      rowOffset = h.bitOffset + 8
    } else if (isMetaType(pt)) {
      if (meta.compression != CNone) {
        // compressed rows live in data subheaders on META pages
        subRows = subPtrs(page, h).filter { p =>
          (p.compression == 4 || p.compression == 0) && p.subType == 1 &&
            p.length <= meta.rowLength &&
            !(p.offset + 8 <= page.length && isMetadataSignature(page, p.offset))
        }.map(p => (p.offset, p.length))
      } else if (isMixType(pt)) {
        var dataStart = h.bitOffset + 8 + subheaderCount(page, h) * h.subPtrSize
        if (dataStart % 8 == 4) dataStart += 4
        val fit = (h.pageLength - dataStart) / math.max(1, meta.rowLength)
        rowsLeftOnPage = math.min(fit.toLong, meta.mixPageRowCount).toInt
        rowOffset = dataStart
      }
    }
    // other page types (AMD/METC/invalid) carry no rows for us
  }

  override def close(): Unit = fsin.close()
}
