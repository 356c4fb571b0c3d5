package graft.sources.readstat

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.readstat.stata.DtaWriter

/** A readstat scan ships the session's Hadoop conf as one broadcast per
  * SparkContext, made again only when the conf's entries change. Local
  * mode hands tasks the driver's own broadcast value, so the conf a
  * factory ships is read from a serialized and deserialized copy, as an
  * executor of a cluster would see it.
  */
class ConfBroadcastSpec extends SparkSpec {

  private lazy val path: String = {
    val p = Files.createTempDirectory("graft_conf_bc").resolve("f.dta").toString
    DtaWriter.write(spark.range(10).select(col("id").cast("double").as("x")), p)
    p
  }

  private def factoryOf(df: DataFrame): ReadstatReaderFactory =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.readerFactory }
      .getOrElse(fail("no batch scan in plan")).asInstanceOf[ReadstatReaderFactory]

  private def shipped(f: ReadstatReaderFactory): org.apache.hadoop.conf.Configuration = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(f.hadoopConf.value)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[SerializableHadoopConf].value
  }

  test("scans share one conf broadcast until the conf changes") {
    val key = "graft.conf.bc.probe"
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.unset(key)
    val f1 = factoryOf(spark.read.format("readstat").load(path).agg(sum("x")))
    val f2 = factoryOf(spark.read.format("readstat").load(path).select("x"))
    assert(f1.hadoopConf.id === f2.hadoopConf.id, "an unchanged conf is broadcast once")
    assert(shipped(f1).get(key) === null)

    hconf.set(key, "v1")
    try {
      val f3 = factoryOf(spark.read.format("readstat").load(path).select("x"))
      assert(f3.hadoopConf.id !== f1.hadoopConf.id)
      assert(shipped(f3).get(key) === "v1")
      // the earlier broadcast is a copy: the change did not leak into it
      assert(shipped(f1).get(key) === null)
      assert(spark.read.format("readstat").load(path).agg(sum("x")).collect()(0).getDouble(0) === 45.0)

      hconf.set(key, "v2")
      val f4 = factoryOf(spark.read.format("readstat").load(path).select("x"))
      assert(shipped(f4).get(key) === "v2", "a changed value is shipped too")
    } finally hconf.unset(key)
  }
}
