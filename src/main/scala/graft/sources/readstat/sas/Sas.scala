package graft.sources.readstat.sas

import java.io.InputStream
import java.nio.charset.Charset

/** SAS `.sas7bdat` format model + parser: 32/64-bit layouts, both byte
  * orders, META/DATA/MIX/AMD pages, subheader dictionary, None/RLE/RDC
  * compression.
  *
  * Format knowledge from the public sas7bdat reverse-engineered spec
  * (Shotwell et al., readstat) and the reference's observable behavior
  * (`src/sas/header.rs:9-146`, `src/sas/page.rs:23-173`,
  * `src/sas/metadata.rs:15-98`, `src/sas/data.rs:351-613`).
  */
object Sas {

  val Magic: Array[Byte] = Array(
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xc2, 0xea, 0x81, 0x60,
    0xb3, 0x14, 0x11, 0xcf, 0xbd, 0x92, 0x08, 0x00,
    0x09, 0xc7, 0x31, 0x8c, 0x18, 0x1f, 0x10, 0x11).map(_.toByte)

  val EpochShiftDays = 3653L
  val SecondsPerDay = 86400L

  // page types
  val PMeta = 0; val PData = 256; val PMix1 = 512; val PMix2 = 640
  val PAmd = 1024; val PMetc = 16384
  def isMetaType(t: Int): Boolean =
    t == PMeta || t == PMix1 || t == PMix2 || t == PAmd
  def isMixType(t: Int): Boolean = t == PMix1 || t == PMix2

  sealed trait Compression
  case object CNone extends Compression
  case object CRle extends Compression
  case object CRdc extends Compression

  final case class Header(
      bit64: Boolean,
      littleEndian: Boolean,
      headerLength: Int,
      pageLength: Int,
      pageCount: Long,
      encodingByte: Int,
      sasRelease: String) {
    def bitOffset: Int = if (bit64) 32 else 16
    def intSize: Int = if (bit64) 8 else 4
    def subPtrSize: Int = 3 * intSize
  }

  final case class Column(
      name: String,
      label: String,
      format: String,
      isChar: Boolean,
      offset: Int,
      length: Int)

  /** A run of consecutive pages each carrying `rowsPerPage` rows, starting
    * at logical row `rowStart`. The metadata walk touches every page anyway
    * (AMD can trail the data), so this index is EXACT, not extrapolated —
    * and run-length-encoded it stays tiny (regular files collapse to 1–3
    * runs). Replaces the r2 three-probe `analyticRpp` sampling (ADVICE r2)
    * and, because compressed rows are independent subheaders, extends seek
    * partitioning to RLE/RDC files too (reference builds the same exact
    * per-page index in `src/sas/reader.rs` `data_reader_at_row`/`page_index`).
    */
  final case class PageRun(firstPage: Long, nPages: Long, rowsPerPage: Long, rowStart: Long) {
    def rows: Long = nPages * rowsPerPage
    def endRow: Long = rowStart + rows
  }

  final case class Metadata(
      header: Header,
      compression: Compression,
      rowCount: Long,
      rowLength: Int,
      mixPageRowCount: Long,
      columns: Array[Column],
      firstDataPage: Long, // 0-based index of first DATA page
      mixDataRows: Long,   // data rows on MIX pages before the first DATA page
      charsetName: String,
      pageRuns: Vector[PageRun] = Vector.empty) {
    def charset: Charset = Charset.forName(charsetName)
    /** The page index accounts for every logical row → readers may seek to
      * any page boundary. A mismatch (unusual layout) falls back to one
      * sequential scan, which caps at rowCount like the reference.
      */
    def seekable: Boolean =
      pageRuns.nonEmpty && pageRuns.lastOption.exists(_.endRow == rowCount)
    /** rows that fit on a full DATA page */
    def rowsPerDataPage: Int = {
      val dataStart = header.bitOffset + 8
      math.max(1, (header.pageLength - dataStart) / math.max(1, rowLength))
    }
  }

  /** SAS header encoding byte → Java charset, full matrix parity with the
    * reference (`src/sas/encoding.rs:4-150`). Each byte maps to a preference
    * list; the first charset this JVM supports wins ("closest available"
    * policy), with windows-1252 as the final fallback — the same default the
    * reference uses. Notes on deliberate equivalences: byte 28 (US-ASCII)
    * decodes as windows-1252 (ASCII subset, matches reference); byte 29
    * (ISO-8859-1) stays ISO-8859-1, whose 1:1 byte→codepoint decode equals the
    * reference's special case; byte 37 (ISO-8859-9) → windows-1254 per the
    * reference. For DOS/OEM codepages the reference silently falls back to
    * windows-1252 (encoding_rs has no OEM tables); we decode them with the
    * JDK's real IBMxxx charsets instead — a strict superset.
    */
  def encodingName(b: Int): String =
    encodingCandidates(b).find(Charset.isSupported).getOrElse("windows-1252")

  private def encodingCandidates(b: Int): Seq[String] = b match {
    case 20 => Seq("UTF-8")
    case 28 => Seq("windows-1252")
    case 29 => Seq("ISO-8859-1")
    case 30 => Seq("ISO-8859-2")
    case 31 => Seq("ISO-8859-3")
    case 32 => Seq("ISO-8859-4")
    case 33 => Seq("ISO-8859-5")
    case 34 => Seq("ISO-8859-6")
    case 35 => Seq("ISO-8859-7")
    case 36 => Seq("ISO-8859-8")
    case 37 => Seq("windows-1254")
    case 39 => Seq("x-windows-874", "TIS-620")       // ISO-8859-11 (Thai)
    case 40 => Seq("ISO-8859-15")
    case 41 => Seq("IBM437")
    case 42 => Seq("IBM850")
    case 43 => Seq("IBM852")
    case 44 => Seq("IBM857")
    case 45 => Seq("IBM00858")
    case 46 => Seq("IBM862")
    case 47 => Seq("IBM864")
    case 48 => Seq("IBM865")
    case 49 => Seq("IBM866")
    case 50 => Seq("IBM869")
    case 51 => Seq("x-windows-874", "TIS-620")       // CP874
    case 52 => Seq("x-IBM921", "ISO-8859-13")        // CP921
    case 53 => Seq("x-IBM922")                       // CP922
    case 54 => Seq("x-IBM1129")                      // CP1129 (Vietnamese)
    case 55 => Seq("x-IBM720")                       // CP720 (Arabic DOS)
    case 56 => Seq("x-IBM737")                       // CP737 (Greek DOS)
    case 57 => Seq("IBM775")
    case 58 => Seq("IBM860")
    case 59 => Seq("IBM863")
    case 60 => Seq("windows-1250")
    case 61 => Seq("windows-1251")
    case 62 => Seq("windows-1252")
    case 63 => Seq("windows-1253")
    case 64 => Seq("windows-1254")
    case 65 => Seq("windows-1255")
    case 66 => Seq("windows-1256")
    case 67 => Seq("windows-1257")
    case 68 => Seq("windows-1258")
    case 69 => Seq("x-MacRoman")
    case 70 => Seq("x-MacArabic", "x-MacRoman")
    case 71 => Seq("x-MacHebrew", "x-MacRoman")
    case 72 => Seq("x-MacGreek", "x-MacRoman")
    case 73 => Seq("x-MacThai", "x-MacRoman")
    case 75 => Seq("x-MacTurkish", "x-MacRoman")
    case 76 => Seq("x-MacUkraine", "x-MacCyrillic")
    case 118 => Seq("x-windows-950", "Big5")         // CP950 (Traditional Chinese)
    case 119 => Seq("x-EUC-TW", "Big5")              // EUC-TW
    case 123 => Seq("Big5-HKSCS", "Big5")
    case 125 => Seq("GB18030")                       // Simplified Chinese
    case 126 => Seq("x-mswin-936", "GBK")            // CP936
    case 128 => Seq("x-IBM1381", "GB18030")          // CP1381
    case 134 => Seq("EUC-JP")
    case 136 => Seq("x-IBM949", "EUC-KR")            // CP949
    case 137 => Seq("x-IBM942", "Shift_JIS")         // CP942
    case 138 => Seq("windows-31j", "Shift_JIS")      // CP932 (Japanese)
    case 140 => Seq("EUC-KR")
    case 141 => Seq("x-IBM949", "EUC-KR")
    case 142 => Seq("x-IBM949C", "x-IBM949", "EUC-KR")
    case 163 => Seq("x-MacIceland", "x-MacRoman")
    case 167 => Seq("ISO-2022-JP")
    case 168 => Seq("ISO-2022-KR", "EUC-KR")
    case 169 => Seq("ISO-2022-CN", "GB18030")
    case 172 => Seq("ISO-2022-CN", "GB18030")        // ISO-2022-CN-EXT
    case 205 => Seq("GB18030")
    case 227 => Seq("ISO-8859-14")
    case 242 => Seq("ISO-8859-13")
    case 245 => Seq("x-MacCroatian", "x-MacRoman")
    case 246 => Seq("x-MacCyrillic")
    case 247 => Seq("x-MacRomania", "x-MacRoman")
    case 248 => Seq("x-SJIS_0213", "Shift_JIS")      // Shift_JISX0213
    case _ => Seq("windows-1252")
  }

  // date/time format tables (reference `src/sas/constants.rs:23-39`)
  private val DatetimeFormats = Set(
    "DATETIME", "DTWKDATX", "B8601DN", "B8601DT", "B8601DX", "B8601DZ", "B8601LX",
    "E8601DN", "E8601DT", "E8601DX", "E8601DZ", "E8601LX", "DATEAMPM", "DTDATE",
    "DTMONYY", "DTYEAR", "TOD", "MDYAMPM")
  private val DateFormats = Set(
    "DATE", "DAY", "DDMMYY", "DDMMYYB", "DDMMYYC", "DDMMYYD", "DDMMYYN", "DDMMYYP",
    "DDMMYYS", "JULDAY", "JULIAN", "MMDDYY", "MMDDYYB", "MMDDYYC", "MMDDYYD",
    "MMDDYYN", "MMDDYYP", "MMDDYYS", "MMYY", "MMYYC", "MMYYD", "MMYYN", "MMYYP",
    "MMYYS", "MONNAME", "MONTH", "MONYY", "QTR", "QTRR", "NENGO", "WEEKDATE",
    "WEEKDATX", "WEEKDAY", "WEEKV", "WORDDATE", "WORDDATX", "YEAR", "YYMM", "YYMMC",
    "YYMMD", "YYMMN", "YYMMP", "YYMMS", "YYMMDD", "YYMMDDB", "YYMMDDC", "YYMMDDD",
    "YYMMDDN", "YYMMDDP", "YYMMDDS", "YYMON", "YYQ", "YYQC", "YYQD", "YYQN", "YYQP",
    "YYQS", "YYQR", "YYQRC", "YYQRD", "YYQRN", "YYQRP", "YYQRS")
  private val TimeFormats = Set("TIME", "HHMM")

  sealed trait Kind
  case object KNumeric extends Kind
  case object KChar extends Kind
  case object KDate extends Kind
  case object KDateTime extends Kind
  case object KTime extends Kind

  /** DATETIME checked before DATE (reference `src/sas/polars_output.rs:268`). */
  def kindFor(c: Column): Kind =
    if (c.isChar) KChar
    else {
      val f = c.format.toUpperCase
      if (f.nonEmpty && DatetimeFormats.contains(f)) KDateTime
      else if (f.nonEmpty && DateFormats.contains(f)) KDate
      else if (f.nonEmpty && TimeFormats.contains(f)) KTime
      else KNumeric
    }

  // ---- binary helpers ----
  object Bin {
    def u16(b: Array[Byte], off: Int, le: Boolean): Int =
      if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    def u32(b: Array[Byte], off: Int, le: Boolean): Long =
      if (le) (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) | ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
      else ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) | ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
    def u64(b: Array[Byte], off: Int, le: Boolean): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (b(off + (if (le) i else 7 - i)) & 0xffL) << (8 * i); i += 1 }
      v
    }
    def integer(b: Array[Byte], off: Int, le: Boolean, bit64: Boolean): Long =
      if (bit64) u64(b, off, le) else u32(b, off, le)
  }

  def readFully(in: InputStream, buf: Array[Byte], len: Int): Boolean = {
    var off = 0
    while (off < len) {
      val r = in.read(buf, off, len - off)
      if (r < 0) return false
      off += r
    }
    true
  }

  def parseHeader(in: InputStream): Header = {
    val first = new Array[Byte](288)
    require(readFully(in, first, 288), "sas7bdat: truncated header")
    require(java.util.Arrays.equals(
      java.util.Arrays.copyOf(first, 32), Magic), "not a sas7bdat file (bad magic)")
    val bit64 = first(32) == '3'.toByte
    val le = first(37) == 0x01.toByte
    val align1 = if (first(35) == '3'.toByte) 4 else 0
    val align2 = if (bit64) 4 else 0
    val headerLength = Bin.u32(first, 196 + align1, le).toInt
    val full =
      if (headerLength > 288) {
        val rest = new Array[Byte](headerLength - 288)
        require(readFully(in, rest, rest.length), "sas7bdat: truncated header")
        first ++ rest
      } else first
    val pageLength = Bin.u32(full, 200 + align1, le).toInt
    val pageCount = Bin.u32(full, 204 + align1, le)
    val release = {
      val off = 216 + align1 + align2
      if (off + 8 <= full.length)
        new String(full, off, 8, java.nio.charset.StandardCharsets.US_ASCII).trim
      else ""
    }
    Header(bit64, le, headerLength, pageLength, pageCount, full(70) & 0xff, release)
  }

  final case class SubPtr(offset: Int, length: Int, compression: Int, subType: Int)

  def pageType(page: Array[Byte], h: Header): Int = Bin.u16(page, h.bitOffset, h.littleEndian)
  def blockCount(page: Array[Byte], h: Header): Int = Bin.u16(page, h.bitOffset + 2, h.littleEndian)
  def subheaderCount(page: Array[Byte], h: Header): Int = Bin.u16(page, h.bitOffset + 4, h.littleEndian)

  def subPtrs(page: Array[Byte], h: Header): IndexedSeq[SubPtr] = {
    val n = subheaderCount(page, h)
    (0 until n).flatMap { i =>
      val off = h.bitOffset + 8 + i * h.subPtrSize
      val sOff = Bin.integer(page, off, h.littleEndian, h.bit64).toInt
      val sLen = Bin.integer(page, off + h.intSize, h.littleEndian, h.bit64).toInt
      val comp = page(off + h.intSize * 2) & 0xff
      val typ = page(off + h.intSize * 2 + 1) & 0xff
      if (sLen == 0 || comp == 1) None
      else Some(SubPtr(sOff, sLen, comp, typ))
    }
  }

  // metadata subheader signature classification
  private def sig4Of(page: Array[Byte], off: Int): Int =
    ((page(off) & 0xff) << 24) | ((page(off + 1) & 0xff) << 16) |
      ((page(off + 2) & 0xff) << 8) | (page(off + 3) & 0xff)

  sealed trait SubKind
  case object SRowSize extends SubKind
  case object SColSize extends SubKind
  case object SColText extends SubKind
  case object SColName extends SubKind
  case object SColAttrs extends SubKind
  case object SFmtLabel extends SubKind
  case object SOther extends SubKind

  def classify(page: Array[Byte], ptr: SubPtr, h: Header): SubKind = {
    val s0 = sig4Of(page, ptr.offset)
    if (h.bit64) {
      val s1 = sig4Of(page, ptr.offset + 4)
      (s0, s1) match {
        case (0x00000000, 0xF7F7F7F7) | (0xF7F7F7F7, 0x00000000) | (0xF7F7F7F7, 0xFFFFFBFE) => SRowSize
        case (0x00000000, 0xF6F6F6F6) | (0xF6F6F6F6, 0x00000000) | (0xF6F6F6F6, 0xFFFFFBFE) => SColSize
        case (0xFDFFFFFF, 0xFFFFFFFF) | (0xFFFFFFFF, 0xFFFFFFFD) => SColText
        case (0xFFFFFFFF, 0xFFFFFFFF) => SColName
        case (0xFCFFFFFF, 0xFFFFFFFF) | (0xFFFFFFFF, 0xFFFFFFFC) => SColAttrs
        case (0xFEFBFFFF, 0xFFFFFFFF) | (0xFFFFFFFF, 0xFFFFFBFE) => SFmtLabel
        case _ => SOther
      }
    } else s0 match {
      case 0xF7F7F7F7 => SRowSize
      case 0xF6F6F6F6 => SColSize
      case 0xFDFFFFFF | 0xFFFFFFFD => SColText
      case 0xFFFFFFFF => SColName
      case 0xFCFFFFFF | 0xFFFFFFFC => SColAttrs
      case 0xFEFBFFFF | 0xFFFFFBFE => SFmtLabel
      case _ => SOther
    }
  }

  /** True if sig bytes match any metadata signature (used to exclude
    * metadata subheaders from compressed-data extraction —
    * reference `src/sas/data.rs:573-613`).
    */
  def isMetadataSignature(page: Array[Byte], off: Int): Boolean = sig4Of(page, off) match {
    case 0xF7F7F7F7 | 0xF6F6F6F6 | 0xFDFFFFFF | 0xFFFFFFFD | 0xFFFFFFFF |
        0xFCFFFFFF | 0xFFFFFFFC | 0xFEFBFFFF | 0xFFFFFBFE | 0xFEFFFFFF | 0xFFFFFFFE |
        0x00FCFFFF | 0xFFFFFC00 => true
    case 0x00000000 if off + 8 <= page.length => sig4Of(page, off + 4) match {
      case 0xF7F7F7F7 | 0xF6F6F6F6 | 0xFDFFFFFF | 0xFCFFFFFF | 0xFEFBFFFF | 0xFEFFFFFF => true
      case _ => false
    }
    case _ => false
  }

  /** Scan metadata pages; mirrors the reference's MetadataBuilder. */
  def parseMetadata(in: InputStream): Metadata = {
    val h = parseHeader(in)
    val le = h.littleEndian
    val page = new Array[Byte](h.pageLength)
    var compression: Compression = CNone
    var rowCount = -1L
    var rowLength = -1
    var mixPageRowCount = -1L
    var colCount = -1
    var colP1 = -1L
    var colP2 = -1L
    val texts = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val nameEntries = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]() // textIdx, off, len
    val attrEntries = scala.collection.mutable.ArrayBuffer[(Int, Int, Boolean)]() // off, len, isChar? (numeric=1)
    val fmtEntries = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Int, Int, Int)]()
    var firstDataPage = -1L
    var mixDataRows = 0L
    var pagesRead = 0L

    // exact per-page row index, run-length-encoded as we walk
    val runs = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]() // firstPage, nPages, rpp
    def addPageRows(pageIdx: Long, rows: Long): Unit = if (rows > 0) {
      runs.lastOption match {
        case Some((fp, np, rpp)) if rpp == rows && fp + np == pageIdx =>
          runs(runs.length - 1) = (fp, np + 1, rpp)
        case _ => runs += ((pageIdx, 1L, rows))
      }
    }

    while (readFully(in, page, h.pageLength)) {
      val pt = pageType(page, h)
      val ptrs = if (isMetaType(pt)) subPtrs(page, h) else IndexedSeq.empty
      if (!isMetaType(pt)) {
        if (firstDataPage < 0) firstDataPage = pagesRead
        if (pt == PData) addPageRows(pagesRead, blockCount(page, h).toLong)
      } else {
        for (ptr <- ptrs) classify(page, ptr, h) match {
          case SRowSize =>
            val o = ptr.offset
            val isz = h.intSize
            rowLength = Bin.integer(page, o + 5 * isz, le, h.bit64).toInt
            rowCount = Bin.integer(page, o + 6 * isz, le, h.bit64)
            colP1 = Bin.integer(page, o + 9 * isz, le, h.bit64)
            colP2 = Bin.integer(page, o + 10 * isz, le, h.bit64)
            mixPageRowCount = Bin.integer(page, o + 15 * isz, le, h.bit64)
          case SColSize =>
            colCount = Bin.integer(page, ptr.offset + h.intSize, le, h.bit64).toInt
          case SColText =>
            val payload = java.util.Arrays.copyOfRange(
              page, ptr.offset + h.intSize, ptr.offset + ptr.length)
            if (containsAscii(payload, "SASYZCRL")) compression = CRle
            else if (containsAscii(payload, "SASYZCR2")) compression = CRdc
            texts += payload
          case SColName =>
            val offMax = ptr.offset + ptr.length - 12 - h.intSize
            var e = ptr.offset + h.intSize + 8
            while (e <= offMax) {
              nameEntries += ((Bin.u16(page, e, le), Bin.u16(page, e + 2, le), Bin.u16(page, e + 4, le)))
              e += 8
            }
          case SColAttrs =>
            val offMax = ptr.offset + ptr.length - 12 - h.intSize
            var e = ptr.offset + h.intSize + 8
            while (e <= offMax) {
              val cOff = Bin.integer(page, e, le, h.bit64).toInt
              val cLen = Bin.u32(page, e + h.intSize, le).toInt
              val cType = page(e + h.intSize + 6) & 0xff
              attrEntries += ((cOff, cLen, cType != 1))
              e += h.intSize + 8
            }
          case SFmtLabel =>
            val base = ptr.offset + 3 * h.intSize
            fmtEntries += ((
              Bin.u16(page, base + 22, le), Bin.u16(page, base + 24, le), Bin.u16(page, base + 26, le),
              Bin.u16(page, base + 28, le), Bin.u16(page, base + 30, le), Bin.u16(page, base + 32, le)))
          case _ =>
        }
        // rows carried by metadata-typed pages — the SAME predicates the
        // reader's loadPage uses, so the index is exact by construction:
        // compressed rows live in data subheaders; uncompressed MIX pages
        // pack rows after the pointer table
        if (compression != CNone && rowLength > 0) {
          val n = ptrs.count { p =>
            (p.compression == 4 || p.compression == 0) && p.subType == 1 &&
              p.length <= rowLength &&
              !(p.offset + 8 <= page.length && isMetadataSignature(page, p.offset))
          }
          addPageRows(pagesRead, n.toLong)
        } else if (isMixType(pt) && rowLength > 0 && mixPageRowCount >= 0) {
          var dataStart = h.bitOffset + 8 + subheaderCount(page, h) * h.subPtrSize
          if (dataStart % 8 == 4) dataStart += 4
          val fit = (h.pageLength - dataStart) / rowLength
          val rows = math.min(fit.toLong, mixPageRowCount)
          mixDataRows += rows
          addPageRows(pagesRead, rows)
        }
      }
      pagesRead += 1
    }
    if (firstDataPage < 0) firstDataPage = math.max(0L, pagesRead - 1)

    val nCols =
      if (colCount > 0) colCount
      else if (colP1 >= 0 && colP2 >= 0 && colP1 + colP2 > 0) (colP1 + colP2).toInt
      else math.max(nameEntries.length, attrEntries.length)
    // zero-variable datasets carry no ROW_SIZE row length; they are
    // metadata-only (reference smoke test `tests/readstat_all_files.rs:19-30`)
    require(rowCount >= 0 && (rowLength > 0 || nCols == 0),
      "sas7bdat: missing ROW_SIZE metadata")
    val csName = try { Charset.forName(encodingName(h.encodingByte)).name }
    catch { case _: Exception => "windows-1252" }
    val cs = Charset.forName(csName)

    def textAt(idx: Int, off: Int, len: Int): String = {
      if (texts.isEmpty || len == 0) return ""
      val t = texts(math.min(idx, texts.length - 1))
      val o = math.min(off, t.length)
      val l = math.min(len, t.length - o)
      if (l <= 0) return ""
      var s = o; var e = o + l
      while (s < e && t(s) >= 0 && t(s) <= ' ') s += 1
      while (e > s && ((t(e - 1) >= 0 && t(e - 1) <= ' ') || t(e - 1) < 32)) e -= 1
      if (e <= s) "" else new String(t, s, e - s, cs)
    }

    val columns = (0 until nCols).map { i =>
      val name = if (i < nameEntries.length) {
        val (ti, off, len) = nameEntries(i); textAt(ti, off, len)
      } else s"COL$i"
      val (aOff, aLen, isChar) =
        if (i < attrEntries.length) attrEntries(i) else (0, 0, false)
      val (fmt, label) = if (i < fmtEntries.length) {
        val (fi, fo, fl, li, lo, ll) = fmtEntries(i)
        (textAt(fi, fo, fl), textAt(li, lo, ll))
      } else ("", "")
      Column(name, label, fmt, isChar, aOff, aLen)
    }.toArray

    val pageRuns = {
      var acc = 0L
      runs.map { case (fp, np, rpp) =>
        val r = PageRun(fp, np, rpp, acc)
        acc += r.rows
        r
      }.toVector
    }

    Metadata(h, compression, rowCount, rowLength,
      if (mixPageRowCount >= 0) mixPageRowCount else rowCount,
      columns, firstDataPage, mixDataRows, csName, pageRuns)
  }

  private def containsAscii(hay: Array[Byte], needle: String): Boolean = {
    val n = needle.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    var i = 0
    while (i + n.length <= hay.length) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return true
      i += 1
    }
    false
  }

  /** Reconstruct a (possibly truncated 3–8 byte) SAS numeric as a double;
    * NaN/Inf bit classes are missing (reference `src/sas/value.rs:58-155`).
    */
  def decodeNumeric(b: Array[Byte], off: Int, len: Int, le: Boolean): Double = {
    var bits = 0L
    if (len >= 8) {
      bits = Bin.u64(b, off, le)
    } else {
      // truncated numerics keep the MOST significant bytes — reassemble
      // without a temp buffer (hot path; one branch per byte kept)
      var i = 0
      if (le) while (i < len) { bits |= (b(off + i) & 0xffL) << (8 * (8 - len + i)); i += 1 }
      else while (i < len) { bits |= (b(off + i) & 0xffL) << (8 * (7 - i)); i += 1 }
    }
    java.lang.Double.longBitsToDouble(bits)
  }
}
