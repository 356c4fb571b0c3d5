package graft.tools

import java.io.File

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.readstat.sas.SasFixtureWriter
import graft.sources.readstat.stata.DtaWriter
import graft.util.Sessions

/** Writer validation against an INDEPENDENT reader: emits deterministic
  * fuzz .dta / .sas7bdat files (unicode, boundary doubles, strL-length
  * strings, nulls) plus our own scan's parquet dump of each;
  * `tools/fuzz_crosscheck.py` then reads the binaries with pandas and
  * compares cell-by-cell. A symmetric writer+reader bug (both wrong the
  * same way) round-trips green in FuzzRoundTripSpec but cannot fool an
  * independent parser.
  */
object FuzzFixtures {

  private val asciiPool = "abcdefgh XYZ09_-,."
  private val uniPool = "äöüßéñ中文字αβγ «»"

  /** Shared with FuzzRoundTripSpec so the pandas crosscheck and the
    * round-trip spec fuzz the same value space.
    */
  def randString(r: Random, maxLen: Int): String = {
    val pool = if (r.nextBoolean()) asciiPool else uniPool
    (0 until r.nextInt(maxLen + 1)).map(_ => pool(r.nextInt(pool.length))).mkString
  }

  /** `randString` without trailing spaces: dta str# trims them (reference
    * parity) while strL keeps them — values without them round-trip
    * identically on both paths.
    */
  def randStringNoTrailSpace(r: Random, maxLen: Int): String =
    randString(r, maxLen).replaceAll(" +$", "")

  def randDouble(r: Random): Double = r.nextInt(6) match {
    case 0 => r.nextInt(2000) - 1000.0
    case 1 => (r.nextInt(4000) - 2000) * 0.25
    case 2 => r.nextDouble() * 2 - 1
    case 3 => r.nextDouble() * 1e12 - 5e11
    case 4 => r.nextDouble() * 1e-8
    case _ => math.pow(10, r.nextInt(200) - 100) * (r.nextInt(9) + 1)
  }

  def main(args: Array[String]): Unit = {
    val outRoot = new File(if (args.nonEmpty) args(0) else "/tmp/graft_fuzzfix")
    val filesDir = new File(outRoot, "files")
    val pqDir = new File(outRoot, "parquet")
    filesDir.mkdirs(); pqDir.mkdirs()
    val spark = Sessions.start(Sessions.bench, "graft-fuzz-fixtures")
    import scala.jdk.CollectionConverters._

    for (seed <- 1 to 4; fmt <- Seq("dta", "sas")) {
      val r = new Random(seed * 104729)
      val nRows = 200 + r.nextInt(200)
      val longWidth = if (fmt == "dta" && seed % 2 == 0) 2200 else 120 // strL half the time
      val schema = StructType(Seq(
        StructField("k", DoubleType),
        StructField("d0", DoubleType),
        StructField("s0", StringType),
        StructField("l0", StringType),
        StructField("t0", DateType),
        StructField("ts0", TimestampNTZType)))
      val rows = (0 until nRows).map { i =>
        Row.fromSeq(Seq[Any](
          i.toDouble,
          if (r.nextInt(10) == 0) null else randDouble(r),
          if (r.nextInt(10) == 0) null else randStringNoTrailSpace(r, 30),
          if (r.nextInt(10) == 0) null else randStringNoTrailSpace(r, longWidth),
          if (r.nextInt(10) == 0) null
          else java.time.LocalDate.ofEpochDay(r.nextInt(40000) - 20000L),
          // whole seconds: dta %tc stores ms, SAS DATETIME seconds — both
          // exact at second precision for the pandas compare
          if (r.nextInt(10) == 0) null
          else java.time.LocalDateTime.ofEpochSecond(
            (r.nextInt(2000000000) - 1000000000).toLong, 0, java.time.ZoneOffset.UTC)))
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      val name = s"fuzz${seed}_$fmt"
      val path = new File(filesDir, s"$name.${if (fmt == "dta") "dta" else "sas7bdat"}").getPath
      if (fmt == "dta") DtaWriter.write(df, path)
      else SasFixtureWriter.write(df, path, rle = seed % 2 == 0)
      spark.read.format("readstat").load(path)
        .coalesce(1).write.mode("overwrite").parquet(new File(pqDir, s"$name.parquet").getPath)
    }
    println(s"fuzz fixtures + dumps written under $outRoot")
    spark.stop()
  }
}
