package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.{Compress, ReadstatMetadata}
import graft.sources.readstat.sas.SasScriptWriter
import graft.sources.readstat.stata.DtaWriter

class CompressAndMetadataSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_cm").resolve(name).toString

  test("compressDf narrows doubles to bool/byte/short/int and timestamps to dates") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("flag", DoubleType), StructField("small", DoubleType),
      StructField("mid", DoubleType), StructField("wide", DoubleType),
      StructField("frac", DoubleType), StructField("ts", TimestampNTZType),
      StructField("numstr", StringType)))
    val rows = Seq(
      Row(1.0, 100.0, 30000.0, 3e9, 1.5, java.time.LocalDateTime.parse("2020-01-01T00:00"), "12.5"),
      Row(0.0, -100.0, -30000.0, -3e9, 2.0, java.time.LocalDateTime.parse("2021-06-15T00:00"), "7"),
      Row(null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val out = Compress.compressDf(df,
      Compress.CompressOptions(stringToNumeric = true))
    val types = out.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("flag") === BooleanType)
    assert(types("small") === ByteType)
    assert(types("mid") === ShortType)
    assert(types("wide") === DoubleType) // 3e9 exceeds int32 bounds
    assert(types("frac") === DoubleType) // fractional stays
    assert(types("ts") === DateType)     // all-midnight
    assert(types("numstr") === DoubleType)
    assert(out.count() === 3)
  }

  test("compressDf keeps non-midnight timestamps") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("ts", TimestampNTZType)))
    val rows = Seq(Row(java.time.LocalDateTime.parse("2020-01-01T10:30")))
    val df = spark.createDataFrame(rows.asJava, schema)
    assert(Compress.compressDf(df).schema("ts").dataType === TimestampNTZType)
  }

  test("option(compress) narrows the scan like the library call (r4)") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("small", DoubleType), StructField("wide", DoubleType),
      StructField("ts", TimestampNTZType), StructField("numstr", StringType)))
    val rows = Seq(
      Row(100.0, 3e9, java.time.LocalDateTime.parse("2020-01-01T00:00"), "12.5"),
      Row(-100.0, -3e9, java.time.LocalDateTime.parse("2021-06-15T00:00"), "7"))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("copt.dta")
    DtaWriter.write(df, path)

    // default toggles: numeric + datetimeToDate on, stringToNumeric off —
    // matches Compress.compressDf defaults with full (non-Stata) bounds
    val c1 = spark.read.format("readstat").option("compress", "true").load(path)
    val t1 = c1.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(t1("small") === ByteType)
    assert(t1("wide") === DoubleType)
    assert(t1("ts") === DateType)
    assert(t1("numstr") === StringType)
    assert(c1.count() === 2)

    // cols restriction: only the named column narrows
    val c2 = spark.read.format("readstat")
      .option("compress", "true").option("compressColumns", "ts").load(path)
    val t2 = c2.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(t2("small") === DoubleType)
    assert(t2("ts") === DateType)

    // stringToNumeric toggle
    val c3 = spark.read.format("readstat")
      .option("compress", "true").option("compressStringToNumeric", "true")
      .option("compressDatetimeToDate", "false").load(path)
    val t3 = c3.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(t3("numstr") === DoubleType)
    assert(t3("ts") === TimestampNTZType)
    assert(c3.select("numstr").collect().map(_.getDouble(0)).sorted.toSeq === Seq(7.0, 12.5))
  }

  test("metadata probe returns per-column facts without reading data") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("x", DoubleType), StructField("s", StringType)))
    val df = spark.createDataFrame(Seq(Row(1.0, "a"), Row(2.0, "b")).asJava, schema)
    val path = tmp("meta.dta")
    DtaWriter.write(df, path)
    val meta = ReadstatMetadata.describe(spark, path)
    val got = meta.orderBy("column_index")
      .select("column_name", "storage_type", "spark_type", "row_count")
      .collect().map(_.toSeq)
    assert(got(0) === Seq("x", "double", "double", 2L))
    assert(got(1)(0) === "s")
    assert(got(1)(2) === "string")
  }

  test("metadata probe reads sav, zsav and sas7bdat files") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("x", DoubleType), StructField("s", StringType)))
    val df = spark.createDataFrame(Seq(Row(1.0, "a"), Row(2.0, "b"), Row(3.0, "c")).asJava, schema)
    Seq("sav" -> "sav", "zsav" -> "zsav", "sas7bdat" -> "sas7bdat 64-bit").foreach { case (ext, format) =>
      val path = tmp(s"meta.$ext")
      df.coalesce(1).write.format("readstat").mode("overwrite").save(path)
      val got = ReadstatMetadata.describe(spark, path).orderBy("column_index")
        .select("column_name", "spark_type", "row_count", "format").collect().map(_.toSeq)
      assert(got.toSeq === Seq(Seq("x", "double", 3L, format), Seq("s", "string", 3L, format)), ext)
    }
  }

  test("dta sortlist round-trips and surfaces in the metadata probe (O3)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(50).select(
      col("id").cast("double").as("a"),
      (col("id") % 7).cast("double").as("b"),
      (col("id") % 3).cast("double").as("c"))
      .orderBy("c", "a")
    val path = tmp("sorted.dta")
    graft.sources.readstat.stata.DtaWriter.writeRows(
      df.schema, df.collect().iterator, path,
      stringWidths = Map.empty, sortedBy = Seq("c", "a"))
    val meta = graft.sources.readstat.ReadstatMetadata.describe(spark, path)
      .select("column_name", "sort_key_pos").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(meta == Map("a" -> 2, "b" -> 0, "c" -> 1))
  }

  test("sas script sink emits csv + proc format script") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", DoubleType), StructField("status", IntegerType)))
    val df = spark.createDataFrame(Seq(Row(1.0, 1), Row(2.0, 2)).asJava, schema)
    val csv = tmp("out.csv"); val sas = tmp("load.sas")
    SasScriptWriter.write(df, csv, sas,
      valueLabels = Map("status" -> Map(1 -> "Active", 2 -> "Closed")),
      variableLabels = Map("id" -> "identifier"))
    val csvText = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(csv)))
    assert(csvText.startsWith("id,status"))
    val sasText = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sas)))
    assert(sasText.contains("proc format"))
    assert(sasText.contains("\"Active\""))
    assert(sasText.contains("label"))
    assert(sasText.contains("infile"))
  }
}
