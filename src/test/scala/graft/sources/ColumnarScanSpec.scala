package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.sas.SasFixtureWriter

/** The r3 vectorized read path: the scan must produce ColumnarBatches
  * (unboxed OnHeapColumnVector decode) and agree exactly with the row path
  * on every format, and the exact page index must let compressed SAS files
  * plan multi-partition page-aligned reads.
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

  test("columnar equals row path on real corpus files (all three formats)") {
    val files = Seq(
      "/root/reference/tests/sas/data/test.sas7bdat",
      "/root/reference/tests/sas/data/data_AHS2013/owner.sas7bdat", // MIX prefix
      "/root/reference/tests/stata/data/sample.dta",                // labels+dates
      "/root/reference/tests/spss/data/sample_large.sav")
    files.filter(new File(_).isFile).foreach { f =>
      val colDf = spark.read.format("readstat").load(f)
      val rowDf = spark.read.format("readstat").option("columnar", "false").load(f)
      assert(sortedRows(colDf) === sortedRows(rowDf), s"columnar/row divergence in $f")
    }
  }

  test("informativeNulls=struct falls back to the row path and still reads") {
    val f = "/root/reference/tests/sas/data/info_nulls_test_data.sas7bdat"
    assume(new File(f).isFile)
    val df = spark.read.format("readstat")
      .option("informativeNulls", "struct").load(f)
    assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(df.count() > 0)
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
