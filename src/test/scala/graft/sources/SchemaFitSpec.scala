package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.stata.DtaWriter

/** One schema-fit rule for every readstat read: a file added to or
  * rewritten in a loaded directory, and every file under a user-given
  * schema, must fit the table the relation pinned, or the next action
  * fails on the driver with the load's named mismatch error — never a
  * task-side NullPointerException, "no such column" or ClassCastException,
  * and never a silent read.
  */
class SchemaFitSpec extends SparkSpec {

  /** A 2-file dta directory of (x double, s string), 10 rows a file. */
  private def dir(): Path = {
    val d = Files.createTempDirectory("graft_fit")
    Seq("a.dta" -> 0, "b.dta" -> 10).foreach { case (name, from) =>
      DtaWriter.write(xs(from, 10), d.resolve(name).toString)
    }
    d
  }

  private def xs(from: Int, n: Int): DataFrame =
    spark.range(from, from + n).select(
      col("id").cast("double").as("x"), concat(lit("s"), col("id")).as("s"))

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def causes(t: Throwable): Seq[Throwable] =
    Option(t).toSeq.flatMap(x => x +: causes(x.getCause))

  /** `action` fails on the driver with the named mismatch error naming
    * `file` and `field`: no task ran into the misfit.
    */
  private def assertMismatch(file: String, field: String)(action: => Any): Unit = {
    val e = intercept[Exception](action)
    val ms = messages(e)
    assert(ms.exists(m => m.contains("schema mismatch") && m.contains(file) && m.contains(field)),
      s"expected the named mismatch error for $file ($field), got: $ms")
    assert(!causes(e).exists(_.isInstanceOf[SparkException]),
      s"the misfit must fail on the driver, not in a task: $ms")
  }

  test("type drift after load fails the next action with the load's mismatch error") {
    val d = dir()
    val df = spark.read.format("readstat").load(d.toString)
    assert(df.agg(sum("x")).collect()(0).getDouble(0) === (0 until 20).sum.toDouble)
    DtaWriter.write(spark.range(3).select(col("id").cast("string").as("x"),
      lit("t").as("s")), d.resolve("c.dta").toString)
    assertMismatch("c.dta", "x:string")(df.agg(sum("x")).collect())
    // a fresh load names the same misfit
    assertMismatch("c.dta", "x:string")(spark.read.format("readstat").load(d.toString))
  }

  test("a file missing a column after load fails the next action with the mismatch error") {
    val d = dir()
    val df = spark.read.format("readstat").load(d.toString)
    assert(df.count() === 20)
    DtaWriter.write(spark.range(3).select(col("id").cast("double").as("x")),
      d.resolve("c.dta").toString)
    assertMismatch("c.dta", "s:string")(df.collect())
  }

  test("a file with an extra column after load fails the next action, as a load would") {
    val d = dir()
    val df = spark.read.format("readstat").load(d.toString)
    assert(df.count() === 20)
    DtaWriter.write(xs(20, 3).withColumn("extra", lit(1.0)), d.resolve("c.dta").toString)
    assertMismatch("c.dta", "extra:double")(df.select("x").collect())
    assertMismatch("c.dta", "extra:double")(df.count())
  }

  test("a user-given schema over disagreeing files is the named error, not a ClassCastException") {
    val d = dir()
    DtaWriter.write(spark.range(3).select(col("id").cast("string").as("x"),
      lit("t").as("s")), d.resolve("c.dta").toString)
    val user = StructType(Seq(StructField("x", DoubleType), StructField("s", StringType)))
    val e = intercept[Exception] {
      spark.read.format("readstat").schema(user).load(d.toString).agg(sum("x")).collect()
    }
    assert(!causes(e).exists(_.isInstanceOf[ClassCastException]), messages(e).toString)
    assert(messages(e).exists(m => m.contains("schema mismatch") && m.contains("x:string")),
      s"expected the named mismatch error, got: ${messages(e)}")
  }

  test("a user-given schema pins the files' columns at the first scan: a consistent rewrite misfits") {
    val d = dir()
    val user = StructType(Seq(StructField("x", DoubleType), StructField("s", StringType)))
    val df = spark.read.format("readstat").schema(user).load(d.toString)
    assert(df.agg(sum("x")).collect()(0).getDouble(0) === (0 until 20).sum.toDouble)
    // every file now carries x as parseable strings: a fresh user-schema
    // load would parse them, but this relation pinned x as double
    Seq("a.dta", "b.dta").foreach { name =>
      DtaWriter.write(spark.range(3).select(col("id").cast("string").as("x"),
        lit("t").as("s")), d.resolve(name).toString)
    }
    assertMismatch(".dta", "x:string")(df.agg(sum("x")).collect())
  }

  test("mergeSchema: a narrower file added after load widens and null-fills") {
    val d = dir()
    val df = spark.read.format("readstat").option("mergeSchema", "true").load(d.toString)
    assert(df.count() === 20)
    DtaWriter.write(spark.range(100, 103).select(col("id").cast("int").as("x")),
      d.resolve("c.dta").toString)
    val rows = df.select("x", "s").collect()
    assert(rows.length === 23)
    val added = rows.filter(_.getDouble(0) >= 100.0)
    assert(added.map(_.getDouble(0)).sorted.toSeq === Seq(100.0, 101.0, 102.0))
    assert(added.forall(_.isNullAt(1)))
    assert(df.filter(col("x") >= 100.0).count() === 3)
  }

  test("mergeSchema: a wider file added after load fails the next action with the mismatch error") {
    val d = dir()
    val df = spark.read.format("readstat").option("mergeSchema", "true").load(d.toString)
    assert(df.count() === 20)
    DtaWriter.write(xs(20, 3).withColumn("extra", lit(1.0)), d.resolve("c.dta").toString)
    assertMismatch("c.dta", "extra")(df.collect())
  }
}
