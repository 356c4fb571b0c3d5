package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.sas.{SasFixtureWriter, SasModule}
import graft.sources.readstat.stata.DtaWriter

/** The plan-once contract: a load lists its files and parses each file's
  * metadata once; later actions on the same DataFrame plan from that
  * relation's file index and read no file bytes, while files added or
  * rewritten after the load are still seen by the next action.
  */
class PlanOnceSpec extends SparkSpec {

  private val Files20 = 20
  private val RowsPerFile = 30

  private val schema = StructType(Seq(
    StructField("x", DoubleType), StructField("s", StringType)))

  /** Bytes read through the local (`file`) Hadoop file system, all threads. */
  private def fileBytesRead: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  private def bytesReadBy[T](f: => T): (T, Long) = {
    val b0 = fileBytesRead
    val v = f
    (v, fileBytesRead - b0)
  }

  private def frame(rows: Int, from: Int = 0): DataFrame =
    spark.createDataFrame(
      (from until from + rows).map(i => Row(i.toDouble, s"s$i")).asJava, schema)

  /** A directory of `Files20` containers written by the directory sink. */
  private def dir(format: String, extra: Map[String, String] = Map.empty): String = {
    val p = Files.createTempDirectory("graft_planonce").resolve(format).toString
    frame(Files20 * RowsPerFile).repartition(Files20).write.format("readstat")
      .option("format", format).options(extra).mode("overwrite").save(p)
    p
  }

  private def containers(d: String): Seq[Path] =
    Files.list(Paths.get(d)).iterator().asScala.toSeq
      .filter(f => !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.endsWith(".crc"))

  private val dirs = Seq(
    "dta" -> Map.empty[String, String],
    "sav" -> Map.empty[String, String],
    "zsav" -> Map.empty[String, String],
    "sas7bdat" -> Map("compression" -> "rle"))

  dirs.foreach { case (format, extra) =>
    test(s"$format: after load, count() and planning an aggregate read no file bytes") {
      val d = dir(format, extra)
      assert(containers(d).size >= Files20)
      val df = spark.read.format("readstat").load(d)
      val (n, countBytes) = bytesReadBy(df.count())
      assert(n === Files20 * RowsPerFile)
      assert(countBytes === 0L, s"count() after load read $countBytes bytes")
      val agg = df.agg(sum("x"))
      val (_, planBytes) = bytesReadBy(agg.queryExecution.executedPlan)
      assert(planBytes === 0L, s"planning an aggregate read $planBytes bytes")
      val total = (0 until Files20 * RowsPerFile).sum.toDouble
      assert(agg.collect()(0).getDouble(0) === total)
    }
  }

  test("a SAS directory past the metadata memo: load parses each file once, count() reads nothing") {
    val root = Files.createTempDirectory("graft_planonce_overcap")
    val templates = (0 until 4).map { k =>
      val t = root.resolve(s"template-$k.sas7bdat")
      SasFixtureWriter.write(frame(2, 2 * k), t.toString, rle = true)
      t
    }
    val d = Files.createDirectories(root.resolve("many"))
    val nFiles = 4200
    assert(nFiles > SasModule.MemoEntries)
    (0 until nFiles).foreach { k =>
      Files.createLink(d.resolve(f"part-$k%05d.sas7bdat"), templates(k % templates.size))
    }
    val dirBytes = (0 until nFiles).map(k => Files.size(templates(k % templates.size))).sum
    val (df, loadBytes) = bytesReadBy(spark.read.format("readstat").load(d.toString))
    assert(loadBytes <= dirBytes, s"load read $loadBytes bytes of a $dirBytes-byte directory")
    val (n, countBytes) = bytesReadBy(df.count())
    assert(n === 2L * nFiles)
    assert(countBytes === 0L, s"count() after load read $countBytes bytes")
  }

  test("a file rewritten in place between two actions changes the next count()") {
    val d = dir("dta")
    val df = spark.read.format("readstat").load(d)
    assert(df.count() === Files20 * RowsPerFile)
    val victim = containers(d).filter(_.toString.endsWith(".dta")).min.toString
    val expected = Files20 * RowsPerFile - spark.read.format("readstat").load(victim).count() + 1000
    DtaWriter.write(frame(1000), victim)
    assert(df.count() === expected)
    assert(df.agg(count(lit(1))).collect()(0).getLong(0) === expected)
  }

  test("a file added after load appears in the next count()") {
    val d = dir("dta")
    val df = spark.read.format("readstat").load(d)
    assert(df.count() === Files20 * RowsPerFile)
    DtaWriter.write(frame(11), Paths.get(d).resolve("zz-added.dta").toString)
    assert(df.count() === Files20 * RowsPerFile + 11)
  }

  test("PERMISSIVE: a file quarantined at load stays out of later actions without failing them") {
    val d = dir("dta")
    Files.write(Paths.get(d).resolve("bad.dta"), Array.fill[Byte](4096)(0x5A))
    val badDir = Files.createTempDirectory("graft_planonce_bad")
    // one JSON record per quarantined file (plus the local file system's .crc)
    def records: Seq[Path] = Files.list(badDir).iterator().asScala.toSeq
    def reports: Seq[Path] = records.filter(_.getFileName.toString.endsWith(".json"))
    val df = spark.read.format("readstat")
      .option("mode", "PERMISSIVE").option("badFilesPath", badDir.toString).load(d)
    assert(reports.size === 1, "the load quarantines the corrupt file")
    records.foreach(Files.delete)
    val total = (0 until Files20 * RowsPerFile).sum.toDouble
    assert(df.count() === Files20 * RowsPerFile)
    assert(df.agg(sum("x")).collect()(0).getDouble(0) === total)
    assert(reports.isEmpty, "later actions neither re-parse nor re-report the quarantined file")
  }

  test("FAILFAST: a corrupt file added after load is parsed once by the failing action, with the same error") {
    val d = dir("dta")
    val df = spark.read.format("readstat").load(d)
    assert(df.count() === Files20 * RowsPerFile)
    val bad = Paths.get(d).resolve("zz-bad.dta")
    Files.write(bad, Array.fill[Byte](4096)(0x5A))
    def root(t: Throwable): Throwable = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val (direct, parseBytes) =
      bytesReadBy(intercept[Exception](spark.read.format("readstat").load(bad.toString)))
    assert(parseBytes > 0L)
    // a join asks the scan for its statistics before it plans partitions
    val joined = df.join(spark.range(3).select(col("id").cast("double").as("x")), "x")
    val (failed, actionBytes) = bytesReadBy(intercept[Exception](joined.collect()))
    assert(root(failed).getClass === root(direct).getClass)
    assert(root(failed).getMessage === root(direct).getMessage)
    assert(actionBytes === parseBytes,
      s"the failing action read $actionBytes bytes; one parse of the corrupt file reads $parseBytes")
  }
}
