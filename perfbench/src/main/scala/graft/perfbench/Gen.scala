package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator for the read workloads.
  *
  * Every cell is a pure function of (seed, row, column), so a file's
  * contents do not depend on how it is written (one thread, many Spark
  * tasks) and the expected aggregates can be computed by a plain loop that
  * never touches a reader. All numerics are integers below 2^20 stored as
  * doubles, so every sum is exact in a double and compares with `==`.
  */
object Gen {
  val Words: Array[String] = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliett", "kilo", "lima", "mike",
    "november", "oscar", "papa")

  val NumCols: Int = 10
  val schema: StructType = StructType(
    (0 until NumCols).map(c => StructField(f"c$c%02d", DoubleType, nullable = true)) ++
      Seq(StructField("c10", StringType, nullable = true),
        StructField("c11", StringType, nullable = true)))
  val stringWidths: Map[String, Int] = Map("c10" -> Words.map(_.length).max, "c11" -> 16)

  /** Columns of the 3-of-12 projection. */
  val projCols: Seq[String] = Seq("c02", "c05", "c11")

  /** The splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline def cell(seed: Long, row: Long, col: Int): Long =
    mix(mix(seed) + row * 16 + col)

  /** c08 and c09 are missing in about 2% of rows. */
  @inline def isNull(seed: Long, row: Long, col: Int): Boolean =
    col >= 8 && java.lang.Long.remainderUnsigned(cell(seed, row, col) >>> 20, 50) == 0

  def numeric(seed: Long, row: Long, col: Int): Double = col match {
    case 0 => row.toDouble
    case 1 => (row % 100).toDouble
    case c => (cell(seed, row, c) & 0xfffff).toDouble
  }

  def row(seed: Long, i: Long): Row = {
    val v = new Array[Any](NumCols + 2)
    var c = 0
    while (c < NumCols) {
      v(c) = if (isNull(seed, i, c)) null else numeric(seed, i, c)
      c += 1
    }
    v(10) = Words((cell(seed, i, 10) & 15).toInt)
    v(11) = f"${cell(seed, i, 11)}%016x"
    Row.fromSeq(v.toSeq)
  }

  def rows(seed: Long, from: Long, until: Long): Iterator[Row] =
    Iterator.range(0, (until - from).toInt).map(k => row(seed, from + k))

  /** Expected answers of the read ops over rows [from, until). */
  final case class Expect(
      rows: Long,
      sums: Seq[Double],
      nonNull: Seq[Long],
      len10: Long,
      len11: Long,
      filterK: Int,
      filterRows: Long,
      filterSum00: Double,
      filterSum03: Double) {
    def +(o: Expect): Expect = Expect(rows + o.rows, sums.zip(o.sums).map(p => p._1 + p._2),
      nonNull.zip(o.nonNull).map(p => p._1 + p._2), len10 + o.len10, len11 + o.len11,
      filterK, filterRows + o.filterRows, filterSum00 + o.filterSum00,
      filterSum03 + o.filterSum03)
  }

  /** The filter op keeps rows with c01 = seed mod 100: 1% of rows. */
  def filterK(seed: Long): Int = java.lang.Long.remainderUnsigned(seed, 100).toInt

  def expect(seed: Long, from: Long, until: Long): Expect = {
    val sums = new Array[Long](NumCols)
    val nn = new Array[Long](NumCols)
    var len10 = 0L
    var fRows = 0L; var f00 = 0L; var f03 = 0L
    val k = filterK(seed)
    var i = from
    while (i < until) {
      var c = 0
      while (c < NumCols) {
        if (!isNull(seed, i, c)) { sums(c) += numeric(seed, i, c).toLong; nn(c) += 1 }
        c += 1
      }
      len10 += Words((cell(seed, i, 10) & 15).toInt).length
      if (i % 100 == k) { fRows += 1; f00 += i; f03 += numeric(seed, i, 3).toLong }
      i += 1
    }
    Expect(until - from, sums.toSeq.map(_.toDouble), nn.toSeq, len10, 16L * (until - from),
      k, fRows, f00.toDouble, f03.toDouble)
  }
}
