package graft.sources.readstat

import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException,
  File, FileOutputStream, IOException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The sink's spill codec: the executor writes staging part files through
  * [[Spill.Out]], the commit reads them back through [[Spill.In]].
  *
  * A spilled row is its cells in schema order. A numeric cell is its final
  * format bytes (little-endian, sentinels and epoch shifts applied by the
  * format's `spillEncoders`); a string cell is a big-endian i32 byte length
  * (−1 for null) and the UTF-8 bytes, padded at commit once the global
  * width is known. The RLE/RDC sas7bdat record files use the same framing:
  * an i32 length and the record bytes.
  *
  * Both ends buffer in a plain array that one thread owns, so a cell costs
  * a bounds check and a store, not a monitor per byte as through
  * `DataOutputStream` over `BufferedOutputStream`.
  *
  * The local Row writers use the same cells: [[encodeRows]] spills each
  * chunk of rows into memory and hands it to the format's row renderer,
  * the one the commit runs over a part. The object also holds the
  * writers' little-endian helpers and their [[writeFile]].
  */
private[readstat] object Spill {

  /** Buffer size of both ends; a longer string or record bypasses it. */
  val BufferBytes: Int = 1 << 16

  /** Writes one cell of a row; returns its UTF-8 byte length when it is a
    * non-null string, else −1. The part writer keeps each column's max as
    * its width.
    */
  trait Cell { def apply(r: InternalRow, o: Out): Int }

  /** The string cell of column `i`, the same in every format. */
  def string(i: Int): Cell = (r, o) =>
    if (r.isNullAt(i)) { o.int(-1); -1 } else o.utf8(r.getUTF8String(i))

  /** Rows per in-memory chunk of [[encodeRows]]; a chunk also ends once
    * it holds `ChunkBytes`, so its buffer stays at 1 MB (no 2 MB humongous
    * array with the bench's 4 MB G1 regions).
    */
  val ChunkRows: Int = 4096
  private val ChunkBytes = (1 << 20) - BufferBytes

  /** Encodes up to `limit` rows of `rows` for a local writer: each `Row`
    * goes through Spark's lenient Row serializer (`java.sql.Date` or
    * `LocalDate`, `Timestamp` or `Instant`) and the format's `encoders`
    * into an in-memory chunk, and `render(in, rows, firstRow)` turns each
    * chunk into file bytes. Returns the number of rows encoded.
    */
  def encodeRows(schema: StructType, rows: Iterator[Row], encoders: Array[Cell],
      limit: Long = Long.MaxValue)(render: (In, Int, Long) => Unit): Long = {
    val toInternal = serializers.synchronized(serializers.remove(schema)) match {
      case null => ExpressionEncoder(schema, true).createSerializer()
      case s => s
    }
    try {
      val chunk = new Chunk
      val out = new Out(chunk)
      var total = 0L
      var n = 0
      def renderChunk(): Unit = if (n > 0) {
        out.flush()
        render(chunk.in, n, total - n)
        chunk.reset()
        n = 0
      }
      while (total < limit && rows.hasNext) {
        val r = toInternal(rows.next())
        var c = 0
        while (c < encoders.length) { encoders(c)(r, out); c += 1 }
        n += 1
        total += 1
        if (n == ChunkRows || chunk.filled >= ChunkBytes) renderChunk()
      }
      renderChunk()
      total
    } finally serializers.synchronized(serializers.put(schema, toInternal))
  }

  /** Idle Row serializers of the last 16 schemas: a new one generates its
    * projection's code on first use, about 10 ms. A writer takes one out
    * for the duration of a write, so no two threads share one.
    */
  private val serializers =
    new java.util.LinkedHashMap[StructType, ExpressionEncoder.Serializer[Row]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[StructType, ExpressionEncoder.Serializer[Row]]): Boolean = size > 16
    }

  /** An in-memory chunk; `filled` reads its size without `size()`'s lock. */
  private final class Chunk extends ByteArrayOutputStream(BufferBytes) {
    def filled: Int = count
    def in: In = new In(new ByteArrayInputStream(buf, 0, count))
  }

  /** `v`'s low `n` bytes, little-endian, into `b` at `off`. */
  def putLE(b: Array[Byte], off: Int, v: Long, n: Int): Unit = {
    var k = 0
    while (k < n) { b(off + k) = (v >>> (8 * k)).toByte; k += 1 }
  }

  /** `v`'s low `n` bytes, little-endian. */
  def le(v: Long, n: Int): Array[Byte] = { val b = new Array[Byte](n); putLE(b, 0, v, n); b }

  /** Runs `body` on a buffered stream over a new file at `path` and closes
    * it; `body` may close it earlier to patch the file in place. When
    * `body` throws, the stream is closed and the partial file deleted.
    */
  def writeFile[T](path: String)(body: OutputStream => T): T = {
    val os = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    var done = false
    try {
      val r = body(os)
      os.close()
      done = true
      r
    } finally if (!done) {
      try os.close() catch { case _: IOException => () }
      new File(path).delete()
    }
  }

  final class Out(os: OutputStream) {
    private val buf = new Array[Byte](BufferBytes)
    private val le = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    private var pos = 0

    private def room(n: Int): Unit = if (buf.length - pos < n) drain()

    private def drain(): Unit = {
      if (pos > 0) os.write(buf, 0, pos)
      pos = 0
    }

    def byte(v: Int): Unit = { room(1); buf(pos) = v.toByte; pos += 1 }
    def le16(v: Int): Unit = { room(2); le.putShort(pos, v.toShort); pos += 2 }
    def le32(v: Int): Unit = { room(4); le.putInt(pos, v); pos += 4 }
    def le64(v: Long): Unit = { room(8); le.putLong(pos, v); pos += 8 }

    /** Big-endian, as `DataOutputStream.writeInt`: string and record lengths. */
    def int(v: Int): Unit = { room(4); le.putInt(pos, Integer.reverseBytes(v)); pos += 4 }

    def bytes(b: Array[Byte], off: Int, len: Int): Unit = {
      room(len)
      if (len > buf.length) os.write(b, off, len)
      else { System.arraycopy(b, off, buf, pos, len); pos += len }
    }

    /** Length and bytes of a string cell, copied once from the row; returns
      * the byte length.
      */
    def utf8(s: UTF8String): Int = {
      val n = s.numBytes
      int(n)
      room(n)
      if (n > buf.length) s.writeTo(os)
      else { s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos); pos += n }
      n
    }

    def flush(): Unit = { drain(); os.flush() }
    def close(): Unit = try drain() finally os.close()
  }

  /** Reads what [[Out]] wrote; a part that ends early throws
    * `EOFException`.
    */
  final class In(is: InputStream) {
    private val buf = new Array[Byte](BufferBytes)
    private val be = ByteBuffer.wrap(buf)
    private var pos = 0
    private var lim = 0

    /** At least `n` ≤ buffer bytes readable from `pos`. */
    private def need(n: Int): Unit = if (lim - pos < n) {
      System.arraycopy(buf, pos, buf, 0, lim - pos)
      lim -= pos
      pos = 0
      while (lim < n) {
        val k = is.read(buf, lim, buf.length - lim)
        if (k < 0) throw new EOFException(s"spill part ends ${n - lim} bytes early")
        lim += k
      }
    }

    def readInt(): Int = { need(4); val v = be.getInt(pos); pos += 4; v }
    def readLE64(): Long = { need(8); val v = java.lang.Long.reverseBytes(be.getLong(pos)); pos += 8; v }

    def readFully(b: Array[Byte], off: Int, len: Int): Unit = {
      val k = math.min(len, lim - pos)
      System.arraycopy(buf, pos, b, off, k)
      pos += k
      var done = k
      if (len - done > buf.length) {
        while (done < len) {
          val r = is.read(b, off + done, len - done)
          if (r < 0) throw new EOFException(s"spill part ends ${len - done} bytes early")
          done += r
        }
      } else if (done < len) {
        need(len - done)
        System.arraycopy(buf, pos, b, off + done, len - done)
        pos += len - done
      }
    }

    def readFully(b: Array[Byte]): Unit = readFully(b, 0, b.length)
    def close(): Unit = is.close()
  }
}
