package graft.sources.readstat.stata

import org.apache.hadoop.fs.FSDataInputStream

import graft.sources.readstat.{ReadstatFormats, ReadstatIO, ReadstatInputPartition, ReadstatOptions, RowCursor}

/** Stata `.dta` format module: driver-side metadata/labels/strL parse,
  * row-range partition planning via O(1) byte seek
  * (records are fixed width — reference `src/stata/data.rs:115-120`),
  * executor-side fixed-width record decode.
  */
object DtaModule extends ReadstatFormats.FormatModule {
  import Dta._

  final case class DtaContext(
      meta: Metadata,
      strls: Map[(Int, Long), String]) extends ReadstatFormats.FileContext

  /** One open: the metadata from the head of the file, then seeks to the
    * value labels and the strL table.
    */
  override def parse(
      file: ReadstatIO.FileStamp,
      opts: ReadstatOptions,
      memo: Boolean): ReadstatFormats.FilePlan = {
    val fsin = ReadstatIO.open(file.path)
    try {
      val meta = withLabels(fsin, file,
        Dta.parseMetadata(ByteReader(ReadstatIO.buffered(fsin, file.len))))
      plan(DtaContext(meta, loadStrls(fsin, file, meta, opts)),
        ReadstatFormats.fixedWidthRanges(meta.header.nobs, meta.recordLen, opts), opts)
    } finally fsin.close()
  }

  private def withLabels(fsin: FSDataInputStream, file: ReadstatIO.FileStamp,
      meta: Metadata): Metadata = {
    meta.valueLabelsOffset match {
      case Some(off) if off > 0 =>
        // the seek is inside the degrade catch: a file truncated after
        // its data section (labels gone, rows intact) must still read —
        // the PERMISSIVE clean-prefix path reaches the data through here
        val labels =
          try {
            fsin.seek(off)
            Dta.parseValueLabels(ByteReader(ReadstatIO.buffered(fsin, file.len - off)), meta)
          }
          catch { case _: Exception => Map.empty[String, Map[Int, String]] }
        meta.copy(valueLabels = labels)
      case _ => meta
    }
  }

  private def loadStrls(fsin: FSDataInputStream, file: ReadstatIO.FileStamp, meta: Metadata,
      opts: ReadstatOptions): Map[(Int, Long), String] = {
    val hasStrl = meta.variables.exists(_.varType == TStrL)
    if (!hasStrl) return Map.empty
    meta.strlsOffset match {
      case Some(off) if off > 0 =>
        fsin.seek(off)
        Dta.parseStrls(ByteReader(ReadstatIO.buffered(fsin, file.len - off)), meta,
          opts.maxStrlBytes)
      case _ => Map.empty
    }
  }

  override protected def columns(
      ctx: ReadstatFormats.FileContext,
      opts: ReadstatOptions): Seq[ReadstatFormats.SourceColumn] = {
    val c = ctx.asInstanceOf[DtaContext]
    DtaRowDecoder.columns(c.meta, opts, c.strls)
  }

  override protected def cursor(
      part: ReadstatInputPartition,
      ctx: ReadstatFormats.FileContext,
      opts: ReadstatOptions,
      keep: (Array[Byte], Int) => Boolean): RowCursor =
    new DtaRowCursor(part, ctx.asInstanceOf[DtaContext].meta, keep)
}

/** Physical record iteration: one seek, then CHUNKED reads — whole-record
  * multiples land in a reused block and rows are zero-copy slices into it
  * (no per-row read call, no per-row memcpy). Pushed-filter decode-skip.
  * Shared by row and columnar readers.
  */
final class DtaRowCursor(
    part: ReadstatInputPartition,
    meta: Dta.Metadata,
    keep: (Array[Byte], Int) => Boolean) extends RowCursor {

  private val recordLen = meta.recordLen
  private val fsin = ReadstatIO.open(part.path)
  locally {
    val dataStart = meta.dataOffset +
      (if (meta.header.version >= 117) "<data>".length else 0)
    fsin.seek(dataStart + part.rowStart * recordLen.toLong)
  }

  private val chunkRows = RowCursor.chunkRows(part.rowCount, recordLen)
  private val chunk = new Array[Byte](chunkRows * recordLen)
  private var rowsInChunk = 0
  private var rowInChunk = 0
  private var curBase = 0
  private var remaining = part.rowCount

  override def buf: Array[Byte] = chunk
  override def base: Int = curBase

  // set when the stream ended mid-partition: whole rows already in the
  // chunk are surfaced first, and the EOF throws only when the shortfall
  // is actually reached — FAILFAST still fails the task (rows it emitted
  // die with it), while PERMISSIVE's reader wrapper catches the throw and
  // keeps the clean prefix (the reference's truncated-SAS posture,
  // `src/sas/data.rs:538-545`, generalized to dta)
  private var eofTruncated = false

  private def refill(): Unit = {
    val want = math.min(chunkRows.toLong, remaining).toInt * recordLen
    var off = 0
    while (off < want && !eofTruncated) {
      val r = fsin.read(chunk, off, want - off)
      if (r < 0) eofTruncated = true else off += r
    }
    rowsInChunk = off / recordLen // a partial trailing record is never surfaced
    rowInChunk = 0
    if (eofTruncated && rowsInChunk == 0) throwEof()
  }

  private def throwEof(): Nothing = throw new java.io.EOFException(
    s"dta: unexpected EOF in ${part.path} at row ${part.rowCount - remaining}")

  override def nextRow(): Boolean = {
    while (remaining > 0) {
      if (rowInChunk == rowsInChunk) {
        if (eofTruncated) throwEof()
        refill()
      }
      curBase = rowInChunk * recordLen
      rowInChunk += 1
      remaining -= 1
      if (keep == null || keep(chunk, curBase)) return true
    }
    false
  }

  override def close(): Unit = fsin.close()
}
