package graft.sources.readstat.spss

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.readstat.Spill

/** SPSS `.sav` writer (S9 in SURVEY.md §2.1): header, variable records with
  * continuations, numeric value labels, long-variable-name record, encoding
  * record (UTF-8), and data at compression 0 (raw) or 1 (bytecode).
  *
  * One cell encoder ([[spillEncoders]]) and one case renderer
  * ([[SavCellSink.renderRows]]) serve the sink's commit and [[writeRows]],
  * like the dta writer's; doubles as the fixture generator for the sav read
  * path (FIXTURES.md §4).
  */
object SavWriter {

  final case class Spec(
      name: String, shortName: String, dataType: DataType,
      isString: Boolean, stringLen: Int, widthSegments: Int, formatType: Int)

  /** Executor-side spill encoders for the distributed sink: numerics spill
    * as FINAL little-endian f64 bits (sysmis for null, epoch shifts done);
    * strings as [[Spill.string]] cells — the driver assembler does segment
    * layout/padding, which needs global widths.
    */
  private[readstat] def spillEncoders(schema: StructType): Array[Spill.Cell] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val isTime = f.metadata.contains("logical_type") &&
        f.metadata.getString("logical_type") == "time"
      def num(get: org.apache.spark.sql.catalyst.InternalRow => Double): Spill.Cell = (r, o) => {
        o.le64(if (r.isNullAt(i)) Sav.MissingDoubleBits else java.lang.Double.doubleToLongBits(get(r)))
        -1
      }
      f.dataType match {
        case StringType => Spill.string(i)
        case DateType => num(r => (r.getInt(i).toLong * 86400L + Sav.SecShift).toDouble)
        case TimestampNTZType | TimestampType =>
          // whole seconds: the sav datetime epoch math is second-granular
          num(r => (Math.floorDiv(r.getLong(i), 1000000L) + Sav.SecShift).toDouble)
        case LongType if isTime => num(r => (r.getLong(i) / 1000000000L).toDouble)
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

  private[readstat] def buildSpecs(schema: StructType, widths: Map[String, Int]): Array[Spec] = {
    val used = scala.collection.mutable.Set[String]()
    schema.fields.zipWithIndex.map { case (f, idx) =>
      val isTime = f.metadata.contains("logical_type") &&
        f.metadata.getString("logical_type") == "time"
      val (isString, strLen, fmt) = f.dataType match {
        case StringType => (true, math.max(1, widths.getOrElse(f.name, 1)), 0)
        case DateType => (false, 0, 20)
        case TimestampNTZType | TimestampType => (false, 0, 22)
        case LongType if isTime => (false, 0, 21)
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
             BooleanType => (false, 0, 0)
        case dt => throw new IllegalArgumentException(s"sav writer: unsupported type $dt")
      }
      // very long strings (>255B): ceil(len/252) segments of 32 units each
      val width =
        if (!isString) 1
        else if (strLen <= 255) (strLen + 7) / 8
        else ((strLen + 251) / 252) * 32
      // short name: uppercase ≤8, unique; else positional
      val cand = f.name.toUpperCase.replaceAll("[^A-Z0-9_]", "_").take(8)
      val short =
        if (cand.nonEmpty && cand.head.isLetter && !used.contains(cand)) cand
        else {
          var i = idx
          var c = s"V$i"
          while (used.contains(c)) { i += 1; c = s"V$i" }
          c
        }
      used += short
      Spec(f.name, short, f.dataType, isString, strLen, width, fmt)
    }
  }

  /** All cases route through the distributed DSv2 sink (r4 verdict #3 —
    * declared missings / string labels / string missings previously fell
    * back to a driver-side `toLocalIterator` row loop, the last
    * driver-bottleneck write path): executors encode part buffers in
    * parallel; the driver frames the container and threads the extras into
    * the variable-record / subtype-21 / subtype-22 framing.
    */
  def write(
      df: DataFrame,
      path: String,
      compress: Boolean = false,
      valueLabels: Map[String, Map[Double, String]] = Map.empty,
      missingValues: Map[String, Seq[Double]] = Map.empty,
      stringValueLabels: Map[String, Map[String, String]] = Map.empty,
      stringMissingValues: Map[String, Seq[String]] = Map.empty): Unit = {
    val zsav = path.toLowerCase.endsWith(".zsav")
    var w = df.write.format("readstat").mode("overwrite")
    if (compress && !zsav) w = w.option("compression", "bytecode")
    if (valueLabels.nonEmpty)
      w = w.option("valueLabels", graft.sources.readstat.stata.DtaWriter.labelsJson(
        valueLabels.map { case (c, m) =>
          c -> m.map { case (k, v) => k.toString -> v }
        }))
    if (missingValues.nonEmpty)
      w = w.option("missingValues", jsonListMap(missingValues.map {
        case (c, vs) => c -> vs.map(v => v: Any)
      }))
    if (stringValueLabels.nonEmpty)
      w = w.option("stringValueLabels", jsonNestedMap(stringValueLabels))
    if (stringMissingValues.nonEmpty)
      w = w.option("stringMissingValues", jsonListMap(stringMissingValues.map {
        case (c, vs) => c -> vs.map(v => v: Any)
      }))
    w.save(path)
  }

  private def jsonListMap(m: Map[String, Seq[Any]]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    m.foreach { case (c, vs) =>
      val arr = root.putArray(c)
      vs.foreach {
        case d: Double => arr.add(d)
        case s: String => arr.add(s)
        case x => arr.add(x.toString)
      }
    }
    mapper.writeValueAsString(root)
  }

  private def jsonNestedMap(m: Map[String, Map[String, String]]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    m.foreach { case (c, inner) =>
      val o = root.putObject(c)
      inner.foreach { case (k, v) => o.put(k, v) }
    }
    mapper.writeValueAsString(root)
  }

  def writeRows(
      schema: StructType,
      rows: Iterator[Row],
      path: String,
      stringWidths: Map[String, Int],
      compress: Boolean,
      valueLabels: Map[String, Map[Double, String]],
      missingValues: Map[String, Seq[Double]] = Map.empty,
      zsav: Boolean = false,
      stringValueLabels: Map[String, Map[String, String]] = Map.empty,
      stringMissingValues: Map[String, Seq[String]] = Map.empty): Long = {
    val specs = buildSpecs(schema, stringWidths)
    writeFramed(schema, specs, path, compress, valueLabels, missingValues, zsav,
      stringValueLabels, stringMissingValues) { out =>
      val sink = new SavCellSink(out, compress || zsav)
      val n = Spill.encodeRows(schema, rows, spillEncoders(schema)) { (in, k, _) =>
        sink.renderRows(in, k, specs)
      }
      sink.finish()
      n
    }
  }

  /** Per-cell emission surface for the data section: routes through the
    * bytecode codec when compressing, raw LE doubles otherwise; lays very
    * long strings into their 252-per-256 segment regions. Allocation-free
    * per cell (one reused cell buffer and string region). `start` is the
    * bytecode position of the first cell (see [[BytecodeEncoder]]).
    */
  final class SavCellSink private[readstat] (
      out: java.io.OutputStream, bytecode: Boolean, start: Int = 0) {
    private val codec: BytecodeEncoder =
      if (bytecode) new BytecodeEncoder(out, start) else null
    private val cell = new Array[Byte](8)
    private var region = new Array[Byte](256)

    /** Renders `rows` spilled cases from `in`: numeric cells as their f64
      * bits, strings laid into their segment regions.
      */
    private[readstat] def renderRows(in: Spill.In, rows: Long, specs: Array[Spec]): Unit = {
      var buf = new Array[Byte](256)
      var r = 0L
      while (r < rows) {
        var i = 0
        while (i < specs.length) {
          if (specs(i).isString) {
            val len = math.max(0, in.readInt())
            if (len > buf.length) buf = new Array[Byte](len)
            in.readFully(buf, 0, len)
            stringCell(specs(i), buf, len)
          } else numericBits(in.readLE64())
          i += 1
        }
        r += 1
      }
    }

    def numericBits(bits: Long): Unit =
      if (codec == null) { Spill.putLE(cell, 0, bits, 8); out.write(cell) }
      else if (bits == Sav.MissingDoubleBits) codec.sysmiss()
      else codec.numCell(java.lang.Double.longBitsToDouble(bits))

    def stringCell(s: Spec, bytes: Array[Byte], len: Int): Unit = {
      require(len <= s.stringLen, s"sav: string too long for ${s.name}")
      // lay the content into the record region: contiguous for <=255,
      // 252 bytes per 256-byte chunk for very long strings
      val n = s.widthSegments * 8
      if (region.length < n) region = new Array[Byte](n)
      java.util.Arrays.fill(region, 0, n, ' '.toByte)
      if (s.stringLen <= 255) System.arraycopy(bytes, 0, region, 0, len)
      else {
        var seg = 0
        var done = 0
        while (done < len) {
          val take = math.min(252, len - done)
          System.arraycopy(bytes, done, region, seg * 256, take)
          done += take
          seg += 1
        }
      }
      if (codec == null) out.write(region, 0, n)
      else {
        var off = 0
        while (off < n) { codec.strCell(region, off); off += 8 }
      }
    }

    /** The bytecode groups this sink shares with the previous and the next
      * part (see [[BytecodeEncoder.fragments]]); none for raw data.
      */
    private[readstat] def fragments(): (BytecodeFragment, BytecodeFragment) =
      if (codec == null) (null, null) else codec.fragments()

    /** Appends another part's shared group fragment (null: none). */
    private[readstat] def merge(f: BytecodeFragment): Unit = if (f != null) codec.merge(f)

    /** Ends the data section: the bytecode end code (252) and the last,
      * zero-padded group. Raw data has no terminator.
      */
    def finish(): Unit = if (codec != null) codec.finish()
  }

  /** Writes the full sav container frame — header, dictionary records,
    * encoding record, zsav blocks, row-count patch-back — around a data
    * section that `data` writes into the stream it is given (raw records
    * or bytecode, including the bytecode end code; for zsav the stream
    * deflates into blocks on up to `threads` threads) and whose row count
    * it returns.
    */
  def writeFramed(
      schema: StructType,
      specs: Array[Spec],
      path: String,
      compress: Boolean,
      valueLabels: Map[String, Map[Double, String]],
      missingValues: Map[String, Seq[Double]] = Map.empty,
      zsav: Boolean = false,
      stringValueLabels: Map[String, Map[String, String]] = Map.empty,
      stringMissingValues: Map[String, Seq[String]] = Map.empty,
      threads: Int = Runtime.getRuntime.availableProcessors)(
      data: java.io.OutputStream => Long): Long = {
    val nominalCaseSize = specs.map(_.widthSegments).sum

    Spill.writeFile(path) { os =>
      var bytesOut = 0L
      def wr(b: Array[Byte]): Unit = { os.write(b); bytesOut += b.length }
      def u32(v: Int): Unit = wr(Spill.le(v, 4))
      def f64le(d: Double): Array[Byte] = Spill.le(java.lang.Double.doubleToLongBits(d), 8)

      // ---- header (row count patched at the end) ----
      val header = new Array[Byte](176)
      (if (zsav) "$FL3" else "$FL2").getBytes(StandardCharsets.US_ASCII).copyToArray(header, 0)
      "@(#) SPSS DATA FILE graft".getBytes(StandardCharsets.US_ASCII).copyToArray(header, 4)
      Spill.putLE(header, 64, 2, 4)
      Spill.putLE(header, 68, nominalCaseSize, 4)
      Spill.putLE(header, 72, if (zsav) 2 else if (compress) 1 else 0, 4)
      Spill.putLE(header, 80, -1, 4) // patched
      Spill.putLE(header, 84, java.lang.Double.doubleToLongBits(100.0), 8)
      wr(header)

      // ---- variable records ----
      def varRecord(typ: Int, name: String, miss: Seq[Double], fmt: Int): Unit = {
        u32(2); u32(typ); u32(0); u32(miss.size)
        u32(fmt); u32(fmt)
        wr(fixed(name.getBytes(StandardCharsets.US_ASCII), 8, ' '.toByte))
        miss.foreach(m => wr(f64le(m)))
      }
      def continuation(): Unit = {
        u32(2); u32(-1); u32(0); u32(0); u32(0); u32(0)
        wr(fixed(Array.emptyByteArray, 8, ' '.toByte))
      }
      specs.foreach { s =>
        val miss = if (s.isString) Seq.empty else missingValues.getOrElse(s.name, Seq.empty).take(3)
        if (s.isString && s.stringLen > 255) {
          // very-long string: one typ-255 variable per 252-byte segment
          val nSeg = (s.stringLen + 251) / 252
          (0 until nSeg).foreach { k =>
            val segName = if (k == 0) s.shortName else s"${s.shortName.take(6)}$k".take(8)
            varRecord(255, segName, Seq.empty, 0)
            (1 until 32).foreach(_ => continuation())
          }
        } else {
          varRecord(if (s.isString) s.stringLen else 0, s.shortName, miss, s.formatType << 16)
          (1 until s.widthSegments).foreach(_ => continuation())
        }
      }

      // ---- numeric value labels ----
      var segOffset = 0
      val offsets = specs.map { s => val o = segOffset; segOffset += s.widthSegments; o }
      specs.zip(offsets).foreach { case (s, off) =>
        valueLabels.get(s.name).filter(_.nonEmpty && !s.isString).foreach { mapping =>
          u32(3); u32(mapping.size)
          mapping.toSeq.sortBy(_._1).foreach { case (v, label) =>
            wr(f64le(v))
            val bytes = label.getBytes(StandardCharsets.UTF_8).take(255)
            wr(Array(bytes.length.toByte))
            val padded = ((bytes.length + 8) / 8) * 8 - 1
            wr(fixed(bytes, padded, ' '.toByte))
          }
          u32(4); u32(1); u32(off + 1)
        }
      }

      // ---- long-string value labels (subtype 21) ----
      val lsvl = specs.filter(s => s.isString && stringValueLabels.get(s.name).exists(_.nonEmpty))
      if (lsvl.nonEmpty) {
        val body = new java.io.ByteArrayOutputStream()
        def bu32(v: Int): Unit = body.write(Spill.le(v, 4))
        lsvl.foreach { s2 =>
          val nm = s2.shortName.getBytes(StandardCharsets.US_ASCII)
          bu32(nm.length); body.write(nm)
          bu32(s2.stringLen)
          val mapping = stringValueLabels(s2.name)
          bu32(mapping.size)
          mapping.toSeq.sortBy(_._1).foreach { case (v, l) =>
            val vb = v.getBytes(StandardCharsets.UTF_8)
            val lb = l.getBytes(StandardCharsets.UTF_8)
            bu32(vb.length); body.write(vb)
            bu32(lb.length); body.write(lb)
          }
        }
        val b = body.toByteArray
        u32(7); u32(21); u32(1); u32(b.length); wr(b)
      }

      // ---- long-string missing values (subtype 22) ----
      val lsmv = specs.filter(s => s.isString && stringMissingValues.get(s.name).exists(_.nonEmpty))
      if (lsmv.nonEmpty) {
        val body = new java.io.ByteArrayOutputStream()
        def bu32(v: Int): Unit = body.write(Spill.le(v, 4))
        lsmv.foreach { s2 =>
          val nm = s2.shortName.getBytes(StandardCharsets.US_ASCII)
          bu32(nm.length); body.write(nm)
          val vals = stringMissingValues(s2.name).take(3)
          body.write(vals.size)
          val width = vals.map(_.getBytes(StandardCharsets.UTF_8).length).max
          bu32(width)
          vals.foreach { v =>
            val vb = v.getBytes(StandardCharsets.UTF_8)
            body.write(vb)
            (vb.length until width).foreach(_ => body.write(' '))
          }
        }
        val b = body.toByteArray
        u32(7); u32(22); u32(1); u32(b.length); wr(b)
      }

      // ---- very long strings record (subtype 14) ----
      val vlsEntries = specs.filter(s => s.isString && s.stringLen > 255)
        .map(s => s"${s.shortName}=${s.stringLen}").mkString("\t")
      if (vlsEntries.nonEmpty) {
        val b = vlsEntries.getBytes(StandardCharsets.US_ASCII)
        u32(7); u32(14); u32(1); u32(b.length); wr(b)
      }

      // ---- long variable names ----
      val lvEntries = specs.filter(s => s.name != s.shortName)
        .map(s => s"${s.shortName}=${s.name}").mkString("\t")
      if (lvEntries.nonEmpty) {
        val b = lvEntries.getBytes(StandardCharsets.UTF_8)
        u32(7); u32(13); u32(1); u32(b.length); wr(b)
      }

      // ---- encoding record ----
      val enc = "UTF-8".getBytes(StandardCharsets.US_ASCII)
      u32(7); u32(20); u32(1); u32(enc.length); wr(enc)

      // ---- dictionary termination ----
      u32(999); u32(0)

      // ---- data ----
      var zsavPatch: Option[(Long, Long, Long)] = None
      val n =
        if (!zsav) data(os)
        else {
          // zheader: its trailer offset and length are patched below
          val zheaderOfs = bytesOut
          wr(new Array[Byte](24))
          val blocks = new ZsavBlockStream(os, threads)
          val rows = try data(blocks) finally blocks.close()
          val ztrailerOfs = zheaderOfs + 24 + blocks.index.map(_._2.toLong).sum
          zsavPatch = Some((zheaderOfs, ztrailerOfs, 24L + 24L * blocks.index.size))
          // ztrailer: bias, zero, block size, block count, then per block its
          // uncompressed and compressed offsets and sizes
          os.write(Spill.le(-100L, 8)); os.write(Spill.le(0L, 8))
          os.write(Spill.le(ZsavBlockStream.BlockBytes, 4)); os.write(Spill.le(blocks.index.size, 4))
          var uOfs = zheaderOfs
          var cOfs = zheaderOfs + 24
          blocks.index.foreach { case (u, c) =>
            os.write(Spill.le(uOfs, 8)); os.write(Spill.le(cOfs, 8))
            os.write(Spill.le(u, 4)); os.write(Spill.le(c, 4))
            uOfs += u
            cOfs += c
          }
          rows
        }
      os.close()

      val raf = new RandomAccessFile(path, "rw")
      try {
        raf.seek(80)
        raf.write(Spill.le(n, 4))
        zsavPatch.foreach { case (zheaderOfs, ztrailerOfs, ztrailerLen) =>
          raf.seek(zheaderOfs)
          raf.write(Spill.le(zheaderOfs, 8)); raf.write(Spill.le(ztrailerOfs, 8))
          raf.write(Spill.le(ztrailerLen, 8))
        }
      } finally raf.close()
      n
    }
  }

  private def fixed(b: Array[Byte], len: Int, pad: Byte): Array[Byte] = {
    val out = new Array[Byte](len)
    java.util.Arrays.fill(out, pad)
    System.arraycopy(b, 0, out, 0, math.min(b.length, len))
    out
  }

  /** The codes and literal payloads of one bytecode group at positions
    * [from, to) — what a part of a parallel commit cannot write itself
    * because the group is shared with the previous or the next part.
    */
  private[readstat] final case class BytecodeFragment(from: Int, to: Int, group: Array[Byte])

  /** Bytecode emitter: groups of 8 control codes, each followed by its
    * literal payloads. Codes: 253 literal, 254 spaces, 255 sysmis,
    * 1..251 = value+bias, 252 end of data, 0 padding. One reused group
    * buffer (8 codes + 64 payload bytes); a group is written when its 8th
    * code arrives.
    *
    * Every row emits exactly `nominalCaseSize` codes, so a part of a
    * parallel commit whose rows start at code position `start` (mod 8)
    * renders on its own: its first, shared group (when `start > 0`) and its
    * unfinished last group are kept as fragments ([[fragments]]) and the
    * stitch merges them with the neighbouring parts' ([[merge]]). No code 0
    * is padded mid-stream, so the bytes equal a sequential encode of the
    * same rows.
    */
  private final class BytecodeEncoder(os: java.io.OutputStream, start: Int = 0) {
    private val bias = 100.0
    private val group = new Array[Byte](72)
    private var ci = start
    private var pay = 0
    private var from = start
    private var head: BytecodeFragment = null

    private def full(): Unit = {
      if (from > 0) head = BytecodeFragment(from, 8, java.util.Arrays.copyOf(group, 8 + pay))
      else os.write(group, 0, 8 + pay)
      java.util.Arrays.fill(group, 0, 8, 0.toByte)
      ci = 0
      pay = 0
      from = 0
    }

    private def code(c: Int): Unit = {
      group(ci) = c.toByte
      ci += 1
      if (ci == 8) full()
    }

    private def literal(src: Array[Byte], off: Int): Unit = {
      System.arraycopy(src, off, group, 8 + pay, 8)
      pay += 8
      code(253)
    }

    def numCell(d: Double): Unit = {
      val c = d + bias
      // the round-trip check (c.toInt - bias == d) is essential: for a tiny
      // |d| the addition ABSORBS d (1e-69 + 100 == 100.0 exactly), so the
      // integrality test alone would encode it as code 100 and decode 0.0
      // (fuzz-caught r6)
      if (c == Math.rint(c) && c >= 1.0 && c <= 251.0 && c.toInt.toDouble - bias == d)
        code(c.toInt)
      else {
        Spill.putLE(group, 8 + pay, java.lang.Double.doubleToLongBits(d), 8)
        pay += 8
        code(253)
      }
    }

    def sysmiss(): Unit = code(255)

    /** The 8 bytes at `off` of `cell` as one string cell. */
    def strCell(cell: Array[Byte], off: Int): Unit = {
      var allSpace = true
      var i = 0
      while (i < 8 && allSpace) { if (cell(off + i) != ' '.toByte) allSpace = false; i += 1 }
      if (allSpace) code(254) else literal(cell, off)
    }

    /** Appends a fragment of another encoder's group; it must start where
      * this encoder's current group stops.
      */
    def merge(f: BytecodeFragment): Unit = {
      require(f.from == ci, s"bytecode stitch: fragment at ${f.from}, group at $ci")
      val p = f.group.length - 8
      System.arraycopy(f.group, 8, group, 8 + pay, p)
      pay += p
      System.arraycopy(f.group, f.from, group, f.from, f.to - f.from)
      ci = f.to
      if (ci == 8) full()
    }

    /** This part's (first shared group, unfinished last group), each null
      * when absent; the first is the only one when the part never completes
      * its first group.
      */
    def fragments(): (BytecodeFragment, BytecodeFragment) = {
      val pending =
        if (ci > from) BytecodeFragment(from, ci, java.util.Arrays.copyOf(group, 8 + pay)) else null
      if (from > 0) (pending, null) else (head, pending)
    }

    /** The end code 252 and the last group, zero-padded. */
    def finish(): Unit = {
      code(252)
      if (ci > 0) {
        while (ci < 8) { group(ci) = 0; ci += 1 }
        os.write(group, 0, 8 + pay)
        ci = 0
        pay = 0
      }
    }
  }

  /** The zsav data section as a stream: bytecode in, zlib blocks out.
    *
    * The stream is cut into blocks of [[ZsavBlockStream.BlockBytes]] (every
    * block but the last full), and each block into chunks of at most
    * [[ZsavBlockStream.ChunkBytes]] that deflate in parallel, pigz-style:
    * a raw deflater at the default level, the previous 32 KB of the block
    * as its preset dictionary, SYNC_FLUSH on every chunk but the block's
    * last. One zlib header and the Adler-32 of the whole block wrap the
    * chunks, so each block is still one standard zlib stream; a block of
    * one chunk is byte-identical to a `DeflaterOutputStream` of it. Chunks
    * are written to `os` in order as they finish; at most `threads + 1` are
    * in flight, and no buffer reaches 2 MB. `index` lists each block's
    * (uncompressed, compressed) size once the stream is closed.
    */
  private final class ZsavBlockStream(os: java.io.OutputStream, threads: Int)
      extends java.io.OutputStream {
    import ZsavBlockStream._

    val index = scala.collection.mutable.ArrayBuffer[(Int, Int)]()

    private final class Chunk(
        val first: Boolean, val last: Boolean, val blockLen: Int, val adler: Int,
        val out: java.util.concurrent.Future[Seq[Array[Byte]]])

    private var chunk = new Array[Byte](ChunkBytes)
    private var fill = 0
    private var inBlock = 0 // bytes of the current block in earlier chunks
    private var prev: Array[Byte] = null // the block's previous chunk: the dictionary
    private val adler = new java.util.zip.Adler32
    private val queue = new java.util.ArrayDeque[Chunk]()
    private var pool: java.util.concurrent.ExecutorService = null
    private var blockOut = 0L
    private val one = new Array[Byte](1)

    private def limit: Int = math.min(ChunkBytes, BlockBytes - inBlock)

    override def write(b: Int): Unit = { one(0) = b.toByte; write(one, 0, 1) }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var o = off
      var n = len
      while (n > 0) {
        // cut lazily: a full chunk is the block's last if the stream ends
        if (fill == limit) cut(closing = false)
        val k = math.min(limit - fill, n)
        System.arraycopy(b, o, chunk, fill, k)
        fill += k
        o += k
        n -= k
      }
    }

    private def cut(closing: Boolean): Unit = {
      val data = chunk
      val len = fill
      val last = closing || inBlock + len == BlockBytes
      val dict = if (inBlock > 0) prev else null
      adler.update(data, 0, len)
      val blockAdler = if (last) adler.getValue.toInt else 0
      val task = new java.util.concurrent.Callable[Seq[Array[Byte]]] {
        def call(): Seq[Array[Byte]] = deflateChunk(data, len, dict, last)
      }
      val out =
        if (threads <= 1 || (closing && queue.isEmpty)) {
          val f = new java.util.concurrent.FutureTask(task)
          f.run()
          f
        } else {
          if (pool == null) pool = graft.sources.readstat.ReadstatWriteSupport.commitPool(threads)
          pool.submit(task)
        }
      queue.add(new Chunk(inBlock == 0, last, inBlock + len, blockAdler, out))
      if (last) { adler.reset(); inBlock = 0; prev = null }
      else { inBlock += len; prev = data }
      chunk = if (closing) null else new Array[Byte](ChunkBytes)
      fill = 0
      while (queue.size > math.max(threads, 1)) drainOne()
    }

    private def drainOne(): Unit = {
      val c = queue.poll()
      val pieces = try c.out.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
      if (c.first) { os.write(0x78); os.write(0x9c); blockOut = 2 }
      pieces.foreach { p => os.write(p); blockOut += p.length }
      if (c.last) {
        os.write(Array((c.adler >>> 24).toByte, (c.adler >>> 16).toByte,
          (c.adler >>> 8).toByte, c.adler.toByte))
        index += ((c.blockLen, (blockOut + 4).toInt))
      }
    }

    override def close(): Unit = {
      try {
        if (chunk != null && (fill > 0 || inBlock > 0)) cut(closing = true)
        chunk = null
        while (!queue.isEmpty) drainOne()
      } finally if (pool != null) { pool.shutdownNow(); pool = null }
    }
  }

  private object ZsavBlockStream {
    /** Uncompressed bytes per zlib block, as SPSS writes them. */
    val BlockBytes: Int = 0x3FF000
    val ChunkBytes: Int = 1 << 20
    private val DictBytes = 32 * 1024

    /** One chunk as raw deflate: NO_FLUSH over the input, then SYNC_FLUSH
      * (more chunks follow in the block) or FINISH (the block's last).
      */
    def deflateChunk(data: Array[Byte], len: Int, dict: Array[Byte], last: Boolean): Seq[Array[Byte]] = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      try {
        if (dict != null) d.setDictionary(dict, dict.length - DictBytes, DictBytes)
        d.setInput(data, 0, len)
        val out = Seq.newBuilder[Array[Byte]]
        val buf = new Array[Byte](64 * 1024)
        def take(n: Int): Unit = if (n > 0) out += java.util.Arrays.copyOf(buf, n)
        while (!d.needsInput) take(d.deflate(buf))
        if (last) {
          d.finish()
          while (!d.finished) take(d.deflate(buf))
        } else {
          var n = buf.length
          while (n == buf.length) {
            n = d.deflate(buf, 0, buf.length, java.util.zip.Deflater.SYNC_FLUSH)
            take(n)
          }
        }
        out.result()
      } finally d.end()
    }
  }
}
