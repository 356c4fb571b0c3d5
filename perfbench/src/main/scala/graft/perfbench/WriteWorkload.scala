package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.readstat._

/** Writes one cached, seeded frame through every sink shape: single
  * containers (executor encode + driver assembly) and directories of
  * containers (assembly on the executors). Outputs are read back and
  * compared after the timed passes.
  */
final class WriteWorkload(seed: Long) extends Workload {
  import WriteWorkload._

  val name = "write"
  val rows: Int = 100000

  private val labels = Map(0 -> "none", 1 -> "low", 2 -> "medium", 3 -> "high", 4 -> "extreme")
  private val labelsJson = labels.map { case (k, v) => s""""$k":"$v"""" }
    .mkString("""{"w_lab":{""", ",", "}}")

  /** (label, target name, writer options). */
  private val targets = Seq(
    ("dta", "single.dta", Map.empty[String, String]),
    ("savbc", "single.sav", Map("compression" -> "bytecode")),
    ("zsav", "single.zsav", Map.empty[String, String]),
    ("sas_rle", "single.sas7bdat", Map("compression" -> "rle")),
    ("dir_dta", "dir_dta", Map("format" -> "dta")),
    ("dir_savbc", "dir_sav", Map("format" -> "sav", "compression" -> "bytecode")),
    ("dir_zsav", "dir_zsav", Map("format" -> "zsav")),
    ("dir_sas_rle", "dir_sas", Map("format" -> "sas7bdat", "compression" -> "rle")))

  private var dir: Path = _
  private var frame: DataFrame = _
  private var expected: (Long, BigDecimal) = _
  private var logicalBytes: Long = 0L
  private var print: String = ""

  /** The common read-back shape: numerics as doubles, strings with null
    * and "" alike, one xxhash64 per row.
    */
  private def canonical(df: DataFrame): DataFrame = {
    val canon: Seq[Column] = schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) coalesce(rtrim(col(f.name)), lit(""))
      else col(f.name).cast(DoubleType)
    }
    df.select(xxhash64(canon: _*).cast(DecimalType(38, 0)).as("h"))
  }

  /** Row count and hash sum: an order-independent digest. */
  private def digests(g: org.apache.spark.sql.RelationalGroupedDataset): Array[Row] =
    g.agg(count(lit(1)), sum(col("h"))).collect()

  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = digests(canonical(df).groupBy())(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def setup(spark: SparkSession, d: Path): Unit = {
    dir = d
    val parts = spark.sparkContext.defaultParallelism * 2
    val s = seed // a local, so the closure does not capture the workload
    val rdd = spark.sparkContext.range(0, rows.toLong, 1, parts).map(i => row(s, i.toInt))
    frame = spark.createDataFrame(rdd, schema).persist(StorageLevel.MEMORY_ONLY)
    expected = digest(frame)
    val r = frame.agg(
      sum(octet_length(col("w_s_lo"))), sum(octet_length(col("w_s_hi")))).collect()(0)
    logicalBytes = rows.toLong * 6 * 8 + r.getLong(0) + r.getLong(1)
    print = s"${expected._1}:${expected._2}"
  }

  def fingerprints: Seq[(String, String)] = Seq("frame" -> print)

  private def writer(opts: Map[String, String]) =
    frame.write.format("readstat").mode("overwrite").options(opts + ("valueLabels" -> labelsJson))

  def pass(spark: SparkSession): Seq[Op] = targets.map { case (label, target, opts) =>
    val p = dir.resolve(target)
    val kind = if (target.startsWith("dir_")) "write_dir" else "write_single"
    Op(name, s"$label.write", kind, 0.0, () => writer(opts).save(p.toString), _ =>
      if (Workload.bytes(p) > 0) None else Some(s"$label wrote no bytes to $p"))
  }

  /** Reads every output back in one job and compares its digest with the
    * frame's.
    */
  override def finalChecks(spark: SparkSession): Seq[(String, Option[String])] = {
    val backs = targets.map { case (label, target, _) =>
      canonical(spark.read.format("readstat").option("valueLabelsAsStrings", "false")
        .load(dir.resolve(target).toString)).withColumn("label", lit(label))
    }
    val got = digests(backs.reduce(_ union _).groupBy("label"))
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    targets.map { case (label, _, _) =>
      s"$label.readback" -> (got.get(label) match {
        case Some(d) if d == expected => None
        case other => Some(s"$label read-back digest $other, expected $expected")
      })
    }
  }

  def metrics(passes: Seq[PassResult]): Map[String, Metric] = {
    // every pass writes the same bytes: the outputs are deterministic
    val bytes = outputBytes.toDouble
    Map(
      "write_single_s" -> Metric.sumOfMedians(passes, "s", _.kind == "write_single"),
      "write_dir_s" -> Metric.sumOfMedians(passes, "s", _.kind == "write_dir"),
      "write_mb_s" -> Metric(bytes / 1e6 / Metric.opMedianSum(passes), "MB/s", passes.size),
      "write_amp" -> Metric(bytes / (targets.size.toDouble * logicalBytes), "ratio", 1))
  }

  private def outputBytes: Long = targets.map(t => Workload.bytes(dir.resolve(t._2))).sum

  override def counts: Map[String, Double] = Map("write.logical_bytes" -> logicalBytes.toDouble) ++
    targets.map { case (label, target, _) =>
      s"output.$label.bytes" -> Workload.bytes(dir.resolve(target)).toDouble
    }

  // ------------------------------------------------------------ layers

  def layers(spark: SparkSession, trace: Trace, ledger: Ledger,
      traced: PassResult): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    val local = frame.collect()
    val strW = Map("w_s_lo" -> lowCard.map(_.length).max,
      "w_s_hi" -> local.iterator.map(r => if (r.isNullAt(7)) 1 else r.getString(7).length).max)
    val dLabels = Map("w_lab" -> labels)
    val sLabels = Map("w_lab" -> labels.map { case (k, v) => k.toDouble -> v })
    val enc = dir.resolve("encode")
    Files.createDirectories(enc)
    trace.span("layer.encode", "encode") {
      def probe(name: String, file: String)(w: String => Unit): Unit = {
        val p = enc.resolve(file)
        val s = trace.span(s"encode.$name")(ReadWorkload.timeMedian(3)(w(p.toString)))
        out(s"encode.$name.mb_s") = Files.size(p) / 1e6 / s
      }
      probe("dta", "e.dta")(p =>
        stata.DtaWriter.writeRows(schema, local.iterator, p, strW, dLabels))
      probe("sav", "e.sav")(p =>
        spss.SavWriter.writeRows(schema, local.iterator, p, strW, compress = false, sLabels))
      probe("savbc", "e_bc.sav")(p =>
        spss.SavWriter.writeRows(schema, local.iterator, p, strW, compress = true, sLabels))
      probe("zsav", "e.zsav")(p =>
        spss.SavWriter.writeRows(schema, local.iterator, p, strW, compress = false, sLabels,
          zsav = true))
      probe("sas", "e.sas7bdat")(p =>
        sas.SasFixtureWriter.writeRowsStreaming(schema, local.iterator, p, strW, rows.toLong))
    }
    Workload.deleteTree(enc)
    // one traced write of each shape, attributed through the listener
    var taskS = 0.0; var commitS = 0.0; var bytes = 0L; var files = 0L
    trace.span("layer.write", "write") {
      targets.foreach { case (label, target, opts) =>
        val p = dir.resolve(target)
        val (endMs, w, _) = ledger.window {
          trace.span(s"write.$label")(writer(opts).save(p.toString))
          System.currentTimeMillis()
        }
        taskS += w.taskS
        commitS += math.max(0L, endMs - w.lastTaskEndMs) / 1e3
        bytes += Workload.bytes(p)
        files += Workload.files(p).size
      }
    }
    out("write.task_s") = taskS
    out("write.commit_s") = commitS
    out("write.bytes") = bytes.toDouble
    out("write.files") = files.toDouble
    out.toMap
  }
}

object WriteWorkload {
  val schema: StructType = StructType(Seq(
    StructField("w_id", IntegerType), StructField("w_lab", IntegerType),
    StructField("w_int", IntegerType), StructField("w_d1", DoubleType),
    StructField("w_d2", DoubleType), StructField("w_d3", DoubleType),
    StructField("w_s_lo", StringType), StructField("w_s_hi", StringType)))

  private val lowCard = Array("north", "south", "east", "west", "centre", "offshore")

  /** About 5% of the cells of every column but w_id are missing. */
  def row(seed: Long, i: Int): Row = {
    def h(c: Int): Long = Gen.mix(Gen.mix(seed) + i.toLong * 8 + c)
    def miss(c: Int): Boolean = java.lang.Long.remainderUnsigned(h(c) >>> 32, 20) == 0
    def num[T](c: Int)(v: Long => T): Any = if (miss(c)) null else v(h(c) & 0xffffffffL)
    Row(i,
      num(1)(v => (v % 5).toInt),
      num(2)(v => (v % 2000000).toInt - 1000000),
      num(3)(v => (v % 1000000) / 64.0),
      num(4)(v => (v % 4096) / 8.0 - 256.0),
      num(5)(v => v.toDouble * 1024.0),
      if (miss(6)) null else lowCard((h(6) % lowCard.length).abs.toInt),
      if (miss(7)) null else f"id-${h(7) & 0xffffffffffL}%x")
  }
}
