package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.sas.SasFixtureWriter
import graft.sources.readstat.spss.SavWriter
import graft.sources.readstat.stata.DtaWriter

/** The r3 vectorized read path: the scan must produce ColumnarBatches
  * (unboxed OnHeapColumnVector decode) and agree exactly with the row path
  * on every format, and the exact page index must let compressed SAS files
  * plan multi-partition page-aligned reads. The row-vs-columnar checks run
  * on containers the test writes (one per decode path) and on the committed
  * oracle files, so they need no external corpus.
  */
class ColumnarScanSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_col").resolve(name).toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.map(col)
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  test("scan is columnar: ColumnarToRow feeds from the readstat batch scan") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", DoubleType), StructField("s", StringType)))
    val rows = (0 until 100).map(i => Row(i.toDouble, s"s$i"))
    val path = tmp("columnar.sas7bdat")
    SasFixtureWriter.write(spark.createDataFrame(rows.asJava, schema), path, rle = false)
    val df = spark.read.format("readstat").load(path)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected a vectorized scan, got:\n$plan")
    // and the escape hatch restores the row path
    val rowDf = spark.read.format("readstat").option("columnar", "false").load(path)
    assert(!rowDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  /** Containers this repo writes, one per decode path: dta with value
    * labels, dates and a strL column; sav raw, bytecode and zsav; sas7bdat
    * plain and RLE; plus the committed single-container oracle files.
    */
  private lazy val fixtures: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("code", IntegerType),
      StructField("x", DoubleType), StructField("d", DateType),
      StructField("ts", TimestampNTZType), StructField("s", StringType),
      StructField("long", StringType)))
    val rows = (0 until 500).map { i =>
      Row(i, i % 3,
        if (i % 7 == 3) null else java.lang.Double.valueOf(i * 1.25 - 40.0),
        if (i % 11 == 5) null else java.time.LocalDate.of(2021, 6, 1).plusDays(i - 200L),
        if (i % 13 == 8) null else java.time.LocalDateTime.of(1999, 12, 31, 23, 0).plusSeconds(i * 7919L),
        if (i % 17 == 9) null else s"s${i % 23}",
        if (i % 60 == 17) ("L" + i) * 1000 else s"short-$i")
    }
    val df = spark.createDataFrame(rows.asJava, schema).repartition(3)
    val dir = Files.createTempDirectory("graft_col_fixtures")
    def at(name: String): String = dir.resolve(name).toString
    DtaWriter.write(df, at("labels_dates_strl.dta"),
      valueLabels = Map("code" -> Map(0 -> "low", 1 -> "mid", 2 -> "high")))
    SavWriter.write(df, at("raw.sav"), valueLabels = Map("code" -> Map(0.0 -> "low")))
    SavWriter.write(df, at("bytecode.sav"), compress = true)
    SavWriter.write(df, at("deflated.zsav"))
    SasFixtureWriter.write(df.drop("long"), at("plain.sas7bdat"))
    SasFixtureWriter.write(df.drop("long"), at("rle.sas7bdat"), rle = true)
    val oracle = Paths.get(getClass.getResource("/commit_oracle/expected.json").toURI).getParent
    Seq("labels_dates_strl.dta", "raw.sav", "bytecode.sav", "deflated.zsav",
      "plain.sas7bdat", "rle.sas7bdat").map(at) ++
      CommitOracle.Files.map { case (name, _, _) => oracle.resolve(name).toString }
  }

  private def columnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  test("columnar equals row path on every written container format") {
    assert(fixtures.size === 10)
    fixtures.foreach { f =>
      val colDf = spark.read.format("readstat").load(f)
      val rowDf = spark.read.format("readstat").option("columnar", "false").load(f)
      assert(columnar(colDf) && !columnar(rowDf), s"expected one scan of each kind for $f")
      val rows = sortedRows(colDf)
      assert(rows.nonEmpty, f)
      assert(rows === sortedRows(rowDf), s"columnar/row divergence in $f")
    }
  }

  test("informativeNulls=struct falls back to the row path and still reads") {
    import scala.jdk.CollectionConverters._
    // Stata int32 sentinels: . = 0x7fffffe5, .a = +1, .c = +3
    val path = tmp("tagged.dta")
    DtaWriter.write(spark.createDataFrame(
      Seq(Row(7), Row(0x7fffffe5 + 1), Row(null), Row(0x7fffffe5 + 3)).asJava,
      StructType(Seq(StructField("x", IntegerType)))), path)
    val df = spark.read.format("readstat").option("informativeNulls", "struct").load(path)
    assert(!columnar(df))
    assert(df.selectExpr("x.value", "x.null_indicator").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq ===
      Seq((Some(7), None), (None, Some(".a")), (None, None), (None, Some(".c"))))
  }

  test("inferSchema-narrowed reads: the conforming row path equals the columnar path") {
    val path = tmp("narrow.dta")
    DtaWriter.write(spark.range(3000).select(
      (col("id") % 2).cast("double").as("flag"),
      (col("id") % 100 - 50).cast("double").as("small"),
      (col("id") * 1000).cast("double").as("mid"),
      when(col("id") % 9 === 4, lit(null)).otherwise(col("id") / 7.0).as("frac"),
      concat(lit("s"), col("id") % 5).as("s")).repartition(3), path)
    val narrowed = spark.read.format("readstat").option("inferSchema", "true")
      .option("minRowsPerPartition", "500").option("maxPartitionBytes", "16384").load(path)
    assert(narrowed.schema.map(_.dataType) ===
      Seq(BooleanType, ByteType, IntegerType, DoubleType, StringType))
    assert(narrowed.rdd.getNumPartitions > 1)
    val natural = spark.read.format("readstat").load(path)
    assert(!columnar(narrowed) && columnar(natural))
    val cast = natural.select(narrowed.schema.map(f => col(f.name).cast(f.dataType)): _*)
    assert(sortedRows(narrowed) === sortedRows(cast))
    // a projection of unnarrowed columns needs no conforming: columnar again
    assert(columnar(narrowed.select("frac", "s")))
  }

  test("RLE-compressed file plans multiple page-aligned partitions via the exact index") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", DoubleType), StructField("s", StringType)))
    val rows = (0 until 20000).map(i => Row(i.toDouble, s"ssssssssssssssssssss$i"))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("big_rle.sas7bdat")
    SasFixtureWriter.write(df, path, rle = true)

    val par = spark.read.format("readstat")
      .option("maxPartitionBytes", (64 * 1024).toString)
      .option("minRowsPerPartition", "100")
      .load(path)
    assert(par.rdd.getNumPartitions > 2,
      s"compressed file should partition by page, got ${par.rdd.getNumPartitions}")
    val seq = spark.read.format("readstat").load(path)
    assert(par.count() === 20000)
    assert(sortedRows(par) === sortedRows(seq))
    assert(par.agg(sum("id")).collect()(0).getDouble(0) === 19999.0 * 20000 / 2)
  }
}
