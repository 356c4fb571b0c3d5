package graft.sources

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The frame behind the committed single-container oracle files in
  * `src/test/resources/commit_oracle` (see `generate.py` there for how the
  * files and their pandas-derived expected values were made).
  *
  * 300 rows in 3 fixed partitions of 100. Every partition has nulls, dates
  * and datetimes, and a different max width for `s` (5, 17 and 40 bytes),
  * so each partition's cells are padded to a width it did not see itself.
  * `long` holds a few 3,000-byte values, so the dta column becomes a strL;
  * the sas7bdat files are written without it (a 3,000-byte fixed-width
  * column would make an uncompressed file of ~1 MB).
  */
object CommitOracle {

  val Rows = 300
  val Partitions = 3

  /** File name → (option("compression"), has the strL column). */
  val Files: Seq[(String, Option[String], Boolean)] = Seq(
    ("oracle.dta", None, true),
    ("oracle.sas7bdat", None, false),
    ("oracle_rle.sas7bdat", Some("rle"), false),
    ("oracle_rdc.sas7bdat", Some("rdc"), false))

  val schema: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("x", DoubleType),
    StructField("d", DateType),
    StructField("ts", TimestampNTZType),
    StructField("s", StringType),
    StructField("long", StringType)))

  private val widths = Array(5, 17, 40)

  private def row(i: Int): Row = {
    val part = i / (Rows / Partitions)
    val w = widths(part)
    val x = if (i % 7 == 3) null else java.lang.Double.valueOf(i * 1.25 - 40.0)
    val d = if (i % 11 == 5) null else LocalDate.of(2021, 6, 1).plusDays(i * 3L - 200)
    val ts = if (i % 13 == 8) null
      else LocalDateTime.of(1999, 12, 31, 23, 0, 0).plusSeconds(i * 7919L)
    // the partition's max width is reached once; é keeps the bytes UTF-8
    val s =
      if (i % 17 == 9) null
      else if (i % 100 == 50) utf8Prefix("é" + "q" * 60, w)
      else s"p$part-${i % 10}"
    val long =
      if (i % 19 == 4) null
      else if (i % 60 == 17) ("L" + i) * 1000
      else s"short-$i"
    Row(i, x, d, ts, s, long)
  }

  /** The longest prefix of `s` whose UTF-8 encoding fits `n` bytes. */
  private def utf8Prefix(s: String, n: Int): String = {
    var k = s.length
    while (s.substring(0, k).getBytes("UTF-8").length > n) k -= 1
    s.substring(0, k)
  }

  def frame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize((0 until Rows).map(row), Partitions), schema)

  /** Writes the four oracle files into `dir` through the single-container
    * sink, plus `frame.parquet` (the source values the generator checks
    * pandas against).
    */
  def writeAll(spark: SparkSession, dir: String): Unit = {
    val df = frame(spark)
    Files.foreach { case (name, compression, withLong) =>
      var w = (if (withLong) df else df.drop("long")).write
        .format("readstat").mode("overwrite")
      compression.foreach(c => w = w.option("compression", c))
      w.save(s"$dir/$name")
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/frame.parquet")
  }
}

/** `sbt "Test/runMain graft.sources.CommitOracleGen <dir>"` */
object CommitOracleGen {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/commit_oracle")
    new java.io.File(dir).mkdirs()
    CommitOracle.writeAll(graft.SparkSpec.session, dir)
    graft.SparkSpec.session.stop()
  }
}
