package graft.sources.readstat.spss

import java.io.{BufferedInputStream, FilterInputStream, InputStream}

import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.readstat.{ColumnAppender, ReadstatFormats, ReadstatIO, ReadstatInputPartition, ReadstatOptions, RowCursor}

/** SPSS `.sav`/`.zsav` format module (SURVEY.md §2.1 S3).
  *
  * Partition planning follows the reference's strategy matrix (§3.3):
  * uncompressed files split into row-range partitions (records are
  * fixed-width → O(1) byte seek); bytecode (compression 1) and zsav
  * (compression 2) decode state is sequential → a single partition per
  * file, with multi-file loads recovering cluster parallelism.
  */
object SavModule extends ReadstatFormats.FormatModule {
  import Sav._

  final case class SavContext(meta: Metadata) extends ReadstatFormats.FileContext

  /** One open for both of `Sav.parseMetadata`'s passes: each pass seeks
    * back to the start and reads through its own buffer.
    */
  private def parseMeta(file: ReadstatIO.FileStamp): Metadata = {
    val fsin = ReadstatIO.open(file.path)
    try Sav.parseMetadata { () =>
      fsin.seek(0L)
      // the passes close their stream; the file stays open for the next one
      ReadstatIO.buffered(new FilterInputStream(fsin) { override def close(): Unit = () }, file.len)
    } finally fsin.close()
  }

  def sparkField(v: Variable, meta: Metadata, opts: ReadstatOptions): StructField = {
    val mb = new MetadataBuilder()
    mb.putLong("format_type", v.formatType.toLong)
    val labeled = opts.valueLabelsAsStrings &&
      v.valueLabelSet.exists(n => meta.valueLabels.get(n).exists(t => t._1.nonEmpty || t._2.nonEmpty))
    val dt: DataType =
      if (v.isString) StringType
      else if (labeled) StringType
      else formatClass(v.formatType) match {
        case Some(FDate) => DateType
        case Some(FDateTime) => TimestampNTZType
        case Some(FTime) => mb.putString("logical_type", "time"); LongType
        case None => DoubleType
      }
    StructField(v.name, dt, nullable = true, metadata = mb.build())
  }

  /** Eligible for informative nulls: numerics with user-declared missings
    * possible, and strings with declared missing codes (reference policy:
    * "numeric + declared-missing strings for SPSS", `src/lib.rs:65`).
    */
  private def eligible(v: Variable): Boolean =
    (!v.isString && v.missingDoubles.nonEmpty) ||
      (v.isString && v.missingStrings.nonEmpty)

  override def parse(
      file: ReadstatIO.FileStamp,
      opts: ReadstatOptions,
      memo: Boolean): ReadstatFormats.FilePlan = {
    val meta = parseMeta(file)
    val n = math.max(0L, meta.header.rowCount)
    val ranges =
      if (meta.header.compression != 0) Seq((0L, n)) // sequential decode
      else ReadstatFormats.fixedWidthRanges(n, meta.recordLen, opts)
    plan(SavContext(meta), ranges, opts)
  }

  override protected def columns(
      ctx: ReadstatFormats.FileContext,
      opts: ReadstatOptions): Seq[ReadstatFormats.SourceColumn] = {
    val meta = ctx.asInstanceOf[SavContext].meta
    val dec = new SavDecode(meta, opts)
    meta.variables.toSeq.map(v => dec.column(v, sparkField(v, meta, opts), eligible(v)))
  }

  override protected def cursor(
      part: ReadstatInputPartition,
      ctx: ReadstatFormats.FileContext,
      opts: ReadstatOptions,
      keep: (Array[Byte], Int) => Boolean): RowCursor =
    new SavRowCursor(part, ctx.asInstanceOf[SavContext].meta, keep, opts.zsavLookahead)
}

/** Per-column decode for one file: boxed decoders, indicators and
  * columnar appenders, all built from the same variable logic.
  */
final class SavDecode(meta: Sav.Metadata, opts: ReadstatOptions) {
  import Sav._

  private val h = meta.header
  private val le = h.littleEndian
  private val cs = meta.charset

  /** `v` as a source column with its natural `field`. Unboxed appenders
    * cover plain numerics and the date/time classes; strings and
    * value-labeled numerics take the boxed fallback.
    */
  def column(v: Variable, field: StructField, informative: Boolean): ReadstatFormats.SourceColumn = {
    val off = v.offsetSegments * 8
    val labeled = !v.isString && opts.valueLabelsAsStrings &&
      v.valueLabelSet.flatMap(meta.valueLabels.get).exists(_._1.nonEmpty)
    val appender: Option[ColumnAppender] =
      if (v.isString || labeled) None
      else {
        val fmt = formatClass(v.formatType)
        Some((row: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) => {
          val bits = Bin.i64(row, base + off, le)
          if (bits == MissingDoubleBits || bits == LowestDoubleBits || bits == HighestDoubleBits)
            vec.putNull(ri)
          else {
            val d = java.lang.Double.longBitsToDouble(bits)
            if (java.lang.Double.isNaN(d) || userMissing(v, d, bits)) vec.putNull(ri)
            else fmt match {
              case None => vec.putDouble(ri, d)
              case Some(FDate) => vec.putInt(ri, ((d.toLong - SecShift) / 86400L).toInt)
              case Some(FDateTime) => vec.putLong(ri, (d.toLong - SecShift) * 1000000L)
              case Some(FTime) => vec.putLong(ri, d.toLong * 1000000000L)
            }
          }
        })
      }
    ReadstatFormats.SourceColumn(field, informative, decoderFor(v, off),
      (row, base) => indicatorFor(v, row, base + off), appender)
  }

  /** User-declared-missing indicator (reference `missing_numeric_indicator`
    * `src/spss/data.rs:938-992`): discrete → label-or-number, range →
    * label-or-"MISSING", system missing → null.
    */
  private def indicatorFor(v: Variable, row: Array[Byte], off: Int): UTF8String = {
    if (v.isString) {
      val s = extractString(v, row, off)
      if (v.missingStrings.contains(s)) UTF8String.fromString(s) else null
    } else {
      val bits = Bin.i64(row, off, le)
      if (bits == MissingDoubleBits || bits == LowestDoubleBits || bits == HighestDoubleBits)
        return null
      val d = java.lang.Double.longBitsToDouble(bits)
      if (java.lang.Double.isNaN(d)) return null
      if (v.missingDoubles.isEmpty) return null
      val labelOf: Option[String] =
        v.valueLabelSet.flatMap(meta.valueLabels.get).flatMap(_._1.get(bits))
      def render = labelOf.getOrElse(
        graft.sources.readstat.stata.DtaRowDecoder.renderNumber(d))
      if (v.missingRange) {
        val inRange = v.missingDoubles.length >= 2 && {
          val lo = math.min(v.missingDoubles(0), v.missingDoubles(1))
          val hi = math.max(v.missingDoubles(0), v.missingDoubles(1))
          d >= lo && d <= hi
        }
        if (inRange) UTF8String.fromString(labelOf.getOrElse("MISSING"))
        else if (v.missingDoubles.length >= 3 &&
          bits == java.lang.Double.doubleToRawLongBits(v.missingDoubles(2)))
          UTF8String.fromString(render)
        else null
      } else if (v.missingDoubles.exists(m => java.lang.Double.doubleToRawLongBits(m) == bits))
        UTF8String.fromString(render)
      else null
    }
  }

  private def userMissing(v: Variable, d: Double, bits: Long): Boolean = {
    if (v.missingDoubles.isEmpty) false
    else if (v.missingRange) {
      val inRange = v.missingDoubles.length >= 2 && {
        val lo = math.min(v.missingDoubles(0), v.missingDoubles(1))
        val hi = math.max(v.missingDoubles(0), v.missingDoubles(1))
        d >= lo && d <= hi
      }
      inRange || (v.missingDoubles.length >= 3 &&
        bits == java.lang.Double.doubleToRawLongBits(v.missingDoubles(2)))
    } else v.missingDoubles.exists(m => java.lang.Double.doubleToRawLongBits(m) == bits)
  }

  private def numericOrNull(v: Variable, row: Array[Byte], off: Int): java.lang.Double = {
    val bits = Bin.i64(row, off, le)
    if (bits == MissingDoubleBits || bits == LowestDoubleBits || bits == HighestDoubleBits)
      return null
    val d = java.lang.Double.longBitsToDouble(bits)
    if (java.lang.Double.isNaN(d)) return null
    if (userMissing(v, d, bits)) return null
    java.lang.Double.valueOf(d)
  }

  private def decoderFor(v: Variable, off: Int): (Array[Byte], Int) => Any = {
    if (v.isString) {
      val missSet = v.missingStrings.toSet
      val labels: Map[String, String] =
        if (opts.valueLabelsAsStrings)
          v.valueLabelSet.flatMap(meta.valueLabels.get).map(_._2).getOrElse(Map.empty)
        else Map.empty
      if (missSet.isEmpty && labels.isEmpty && v.stringLen <= 255) {
        // hot path: plain short string, no label/missing lookups — trim and
        // wrap the bytes without a charset decode/re-encode when they are
        // already valid UTF-8
        val csUtf8 = cs == java.nio.charset.StandardCharsets.UTF_8
        val n0 = math.min(v.stringLen, v.widthSegments * 8)
        (row: Array[Byte], base: Int) => {
          val o = base + off
          var ascii = true
          var i = 0
          while (i < n0) { if (row(o + i) < 0) ascii = false; i += 1 }
          if (ascii || csUtf8) {
            var end = n0
            while (end > 0 && (row(o + end - 1) == ' ' || row(o + end - 1) == 0)) end -= 1
            if (end == 0) { if (opts.missingStringAsNull) null else UTF8String.fromString("") }
            else {
              val s = UTF8String.fromBytes(java.util.Arrays.copyOfRange(row, o, o + end))
              // invalid bytes in a UTF-8 file: lossy java decode (U+FFFD)
              if (ascii || s.isValid) s
              else UTF8String.fromString(new String(row, o, end, cs))
            }
          } else {
            val s = extractString(v, row, o)
            if (s.isEmpty && opts.missingStringAsNull) null else UTF8String.fromString(s)
          }
        }
      } else (row: Array[Byte], base: Int) => {
        val s = extractString(v, row, base + off)
        if (s.isEmpty && opts.missingStringAsNull) null
        else if (missSet.contains(s)) null
        else if (labels.nonEmpty) UTF8String.fromString(labels.getOrElse(s, s))
        else UTF8String.fromString(s)
      }
    } else {
      val labels: Map[Long, String] =
        if (opts.valueLabelsAsStrings)
          v.valueLabelSet.flatMap(meta.valueLabels.get).map(_._1).getOrElse(Map.empty)
        else Map.empty
      if (labels.nonEmpty) {
        (row: Array[Byte], base: Int) => {
          val d = numericOrNull(v, row, base + off)
          if (d == null) null
          else {
            val bits = java.lang.Double.doubleToRawLongBits(d.doubleValue())
            labels.get(bits) match {
              case Some(l) => UTF8String.fromString(l)
              case None => UTF8String.fromString(
                graft.sources.readstat.stata.DtaRowDecoder.renderNumber(d.doubleValue()))
            }
          }
        }
      } else formatClass(v.formatType) match {
        case Some(FDate) => (row: Array[Byte], base: Int) => {
          val d = numericOrNull(v, row, base + off)
          if (d == null) null
          else java.lang.Integer.valueOf(((d.doubleValue().toLong - SecShift) / 86400L).toInt)
        }
        case Some(FDateTime) => (row: Array[Byte], base: Int) => {
          val d = numericOrNull(v, row, base + off)
          if (d == null) null
          else java.lang.Long.valueOf((d.doubleValue().toLong - SecShift) * 1000000L)
        }
        case Some(FTime) => (row: Array[Byte], base: Int) => {
          val d = numericOrNull(v, row, base + off)
          if (d == null) null
          else java.lang.Long.valueOf(d.doubleValue().toLong * 1000000000L)
        }
        case None => (row: Array[Byte], base: Int) => numericOrNull(v, row, base + off)
      }
    }
  }

  private def extractString(v: Variable, row: Array[Byte], off: Int): String = {
    val widthBytes = v.widthSegments * 8
    val s =
      if (v.stringLen > 255) {
        // very-long string: 252 content bytes per 256-byte segment. The
        // BYTES are coalesced before the single charset decode — a
        // multi-byte character split across a segment boundary must not be
        // decoded as two broken pieces (fuzz-caught r6)
        val buf = new Array[Byte](v.stringLen)
        var filled = 0
        var remaining = v.stringLen
        var segOff = off
        while (remaining > 0 && segOff < off + widthBytes) {
          val take = math.min(252, math.min(remaining, off + widthBytes - segOff))
          System.arraycopy(row, segOff, buf, filled, take)
          filled += take
          remaining -= take
          segOff += 256
        }
        new String(buf, 0, filled, cs)
      } else {
        val n = math.min(v.stringLen, widthBytes)
        new String(row, off, n, cs)
      }
    var end = s.length
    while (end > 0 && (s.charAt(end - 1) == ' ' || s.charAt(end - 1) == 0)) end -= 1
    s.substring(0, end)
  }
}

/** Physical row source for one partition: raw seek (compression 0),
  * bytecode stream (1) or zsav block inflate (2), with offset skip and
  * pushed-filter skip. Shared by row and columnar readers.
  */
final class SavRowCursor(
    part: ReadstatInputPartition,
    meta: Sav.Metadata,
    keep: (Array[Byte], Int) => Boolean,
    zsavLookahead: Option[Int] = None) extends RowCursor {
  import Sav._

  private val h = meta.header
  private val le = h.littleEndian
  private val recordLen = meta.recordLen

  private var fsin: org.apache.hadoop.fs.FSDataInputStream = _
  private var in: InputStream = _
  private var decompressor: SavByteCode = _
  private val rowBuf = new Array[Byte](math.max(recordLen, 1))
  private var remaining = part.rowCount
  private var skipRows = 0L

  // compression 0: chunked zero-copy slices (same shape as the dta cursor)
  private var chunk: Array[Byte] = _
  private var chunkRows = 0
  private var rowsInChunk = 0
  private var rowInChunk = 0
  private var curBase = 0

  locally {
    fsin = ReadstatIO.open(part.path)
    h.compression match {
      case 0 =>
        fsin.seek(meta.dataOffset + part.rowStart * recordLen.toLong)
        chunkRows = RowCursor.chunkRows(part.rowCount, recordLen)
        chunk = new Array[Byte](chunkRows * recordLen)
      case 1 =>
        fsin.seek(meta.dataOffset)
        in = new BufferedInputStream(fsin, RowCursor.ChunkBytes)
        decompressor = new SavByteCode(le, h.bias)
        skipRows = part.rowStart
      case 2 =>
        // zsav: decompress blocks into one sequential bytecode stream
        fsin.seek(meta.dataOffset)
        val zr = ByteReader(fsin)
        val zheaderOfs = Bin.i64(zr.readFully(8), 0, le)
        val ztrailerOfs = Bin.i64(zr.readFully(8), 0, le)
        require(zheaderOfs == meta.dataOffset, "zsav: bad zheader offset")
        zr.readFully(8) // ztrailer_len
        fsin.seek(ztrailerOfs)
        val tr = ByteReader(fsin)
        tr.readFully(8); tr.readFully(8) // bias, zero
        tr.readFully(4) // block_size
        val nBlocks = Bin.i32(tr.readFully(4), 0, le)
        var expectUofs = -1L
        val entries = (0 until nBlocks).map { i =>
          val e = tr.readFully(24)
          // uncompressed_ofs, compressed_ofs, uncompressed_size, compressed_size
          val uofs = Bin.i64(e, 0, le)
          val usize = Bin.i32(e, 16, le)
          // blocks must chain contiguously in uncompressed space — a corrupt
          // trailer would otherwise silently desynchronize the bytecode
          // decoder mid-stream rather than fail at open
          require(expectUofs < 0 || uofs == expectUofs,
            s"zsav: ztrailer block $i uncompressed_ofs $uofs breaks the chain (expected $expectUofs)")
          expectUofs = uofs + usize
          (Bin.i64(e, 8, le), usize, Bin.i32(e, 20, le))
        }.toIndexedSeq
        in = new LookaheadZlibStream(part.path, entries,
          zsavLookahead.getOrElse(LookaheadZlibStream.defaultLookahead))
        decompressor = new SavByteCode(le, h.bias)
        skipRows = part.rowStart
      case c => throw new UnsupportedOperationException(s"sav compression $c")
    }
  }

  override def buf: Array[Byte] = rowBuf
  override def base: Int = 0

  override def nextRow(): Boolean = {
    // sequential sources must skip leading rows themselves
    while (skipRows > 0) {
      if (!readRow()) return false
      skipRows -= 1
    }
    while (remaining > 0) {
      if (!readRow()) return false
      remaining -= 1
      if (keep == null || keep(rowBuf, 0)) return true
    }
    false
  }

  private def readRow(): Boolean = {
    if (decompressor != null) decompressor.readRow(in, rowBuf, recordLen)
    else {
      // chunked reads (no buffered layer, no per-row stream call); the row
      // copies into rowBuf because the sav cell decoders address from 0
      if (rowInChunk == rowsInChunk) {
        val want = math.min(chunkRows.toLong, skipRows + remaining).toInt * recordLen
        var off = 0
        while (off < want) {
          val r = fsin.read(chunk, off, want - off)
          if (r < 0) return false
          off += r
        }
        rowsInChunk = want / recordLen
        rowInChunk = 0
      }
      System.arraycopy(chunk, rowInChunk * recordLen, rowBuf, 0, recordLen)
      rowInChunk += 1
      true
    }
  }

  override def close(): Unit = {
    if (in != null) in.close()
    // compression 0 reads fsin directly; the zsav path abandons it after
    // the ztrailer parse (LookaheadZlibStream opens its own handle) — close
    // unconditionally or executors leak one fd per scanned partition
    if (fsin != null) try fsin.close() catch { case _: java.io.IOException => }
  }
}

/** The sav bytecode decompressor (compression 1): control bytes in groups of
  * eight; 0 = ignore, 252 = end of data, 253 = literal 8 bytes follow,
  * 254 = eight spaces, 255 = system missing, else value = code − bias.
  * (reference `SavRowDecompressor` `src/spss/data.rs:1521-1591`)
  */
final class SavByteCode(le: Boolean, bias: Double) {
  private val control = new Array[Byte](8)
  private var ci = 8
  private val missing = toBytes(Sav.MissingDoubleBits)
  private def toBytes(bits: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(if (le) i else 7 - i) = ((bits >> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  def readRow(in: InputStream, out: Array[Byte], recordLen: Int): Boolean = {
    var pos = 0
    while (pos < recordLen) {
      if (ci == 8) {
        var off = 0
        while (off < 8) {
          val r = in.read(control, off, 8 - off)
          if (r < 0) return false
          off += r
        }
        ci = 0
      }
      val code = control(ci) & 0xff
      ci += 1
      code match {
        case 0 => // padding
        case 252 => return false
        case 253 =>
          var off = 0
          while (off < 8) {
            val r = in.read(out, pos + off, 8 - off)
            if (r < 0) return false
            off += r
          }
          pos += 8
        case 254 =>
          java.util.Arrays.fill(out, pos, pos + 8, ' '.toByte)
          pos += 8
        case 255 =>
          System.arraycopy(missing, 0, out, pos, 8)
          pos += 8
        case v =>
          val bits = java.lang.Double.doubleToLongBits(v.toDouble - bias)
          var i = 0
          while (i < 8) { out(pos + (if (le) i else 7 - i)) = ((bits >> (8 * i)) & 0xff).toByte; i += 1 }
          pos += 8
      }
    }
    true
  }
}

/** Concatenated inflate of zsav blocks as a single InputStream, with the
  * INFLATE stage parallelized (r5 verdict #1): the ztrailer's block index
  * makes every zlib block independently decodable even though the bytecode
  * decode that consumes this stream is inherently sequential, so up to
  * `lookahead` blocks are inflated ahead on a shared executor-local pool
  * while the decoder drains the current one. (The reference inflates
  * strictly sequentially — `/root/reference/src/spss/data.rs:1687-1761` —
  * leaving cores idle on a large single zsav file.)
  *
  * Each pool task fetches its block with a Hadoop POSITIONED read
  * (`readFully(position, ...)` — thread-safe by the PositionedReadable
  * contract, implemented by every Hadoop FS stream) and then inflates, so
  * on object-store-backed clusters the block fetches parallelize along
  * with the inflate instead of serializing on the consumer thread. Memory
  * bound: ≤ lookahead inflated blocks (+ their compressed inputs) in
  * flight, ~4 MB each at the SPSS default block size.
  */
final class LookaheadZlibStream(
    path: String,
    blocks: IndexedSeq[(Long, Int, Int)], // (compressed_ofs, uncompressed_size, compressed_size)
    lookahead: Int = LookaheadZlibStream.defaultLookahead) extends InputStream {
  private val fsin = ReadstatIO.open(path)
  private var nextIdx = 0
  private val pending = new java.util.ArrayDeque[java.util.concurrent.Future[Array[Byte]]]()
  private var cur: Array[Byte] = _
  private var pos = 0

  /** Top the pipeline up to `lookahead` in-flight fetch+inflates. */
  private def schedule(): Unit = {
    while (pending.size < lookahead && nextIdx < blocks.length) {
      val (ofs, usize, csize) = blocks(nextIdx)
      nextIdx += 1
      // a zero uncompressed size with compressed payload would silently
      // truncate the bytecode stream (rows dropped, not an error) — the
      // ztrailer always records real sizes; fail loudly if it doesn't
      require(usize > 0 || csize == 0,
        s"zsav: ztrailer block ${nextIdx - 1} declares 0 uncompressed bytes for $csize compressed")
      pending.addLast(LookaheadZlibStream.pool.submit(
        new java.util.concurrent.Callable[Array[Byte]] {
          override def call(): Array[Byte] = {
            val compressed = new Array[Byte](csize)
            try fsin.readFully(ofs, compressed, 0, csize)
            catch {
              case e: java.io.EOFException =>
                throw new java.io.EOFException(s"zsav: truncated block (${e.getMessage})")
            }
            LookaheadZlibStream.inflate(compressed, usize)
          }
        }))
    }
  }

  private def advance(): Boolean = {
    schedule()
    if (pending.isEmpty) return false
    cur = pending.removeFirst().get()
    pos = 0
    true
  }

  override def read(): Int = {
    val one = new Array[Byte](1)
    val n = read(one, 0, 1)
    if (n < 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    while (cur == null || pos == cur.length) {
      cur = null
      if (!advance()) return -1
    }
    val n = math.min(len, cur.length - pos)
    System.arraycopy(cur, pos, b, off, n)
    pos += n
    n
  }

  override def close(): Unit = {
    while (!pending.isEmpty) pending.removeFirst().cancel(true)
    fsin.close()
  }
}

object LookaheadZlibStream {
  /** Bounded pipeline depth per stream: deep enough to keep the pool busy
    * on a single-file scan, shallow enough that 32 concurrent single-file
    * partitions stay ~2 GB total at the 4 MB SPSS block size.
    */
  val defaultLookahead: Int =
    math.max(2, math.min(16, Runtime.getRuntime.availableProcessors()))

  /** Shared daemon pool, one per executor JVM — streams submit short
    * CPU-bound inflate tasks; sizing past the core count only adds
    * contention.
    */
  lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors()),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-zsav-inflate-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** One-shot exact-size inflate of a zsav block (the ztrailer records the
    * uncompressed size, so no growable buffer is needed).
    */
  def inflate(compressed: Array[Byte], usize: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(compressed)
      val out = new Array[Byte](usize)
      var off = 0
      while (off < usize) {
        val n = inf.inflate(out, off, usize - off)
        if (n == 0) {
          // inflate() returning 0 has three distinct causes — name the right one
          val why =
            if (inf.finished())
              s"deflate stream ended at $off of $usize declared bytes (ztrailer overstates the uncompressed size)"
            else if (inf.needsInput())
              s"compressed input exhausted at $off of $usize declared bytes (block truncated or ztrailer understates the compressed size)"
            else
              s"inflate made no progress at $off of $usize declared bytes"
          throw new java.io.IOException(s"zsav: $why")
        }
        off += n
      }
      // the block must END here: the chain check validates every usize
      // against the NEXT block's offset except the last block's — an
      // understated final usize would otherwise silently drop rows
      val extra = inf.inflate(new Array[Byte](1))
      if (extra > 0 || !inf.finished())
        throw new java.io.IOException(
          s"zsav: zlib block holds more than the declared $usize bytes (trailer understated)")
      out
    } finally inf.end()
  }
}
