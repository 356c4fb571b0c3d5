package graft.sources.readstat

import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.readstat.stata.DtaWriter

/** Small files pack into about one partition per core by Spark's file
  * source rule ([[Packing]]), and one reader walks a packed partition's
  * files in order. A packed read returns exactly the rows of an unpacked
  * one: raising `spark.sql.files.minPartitionNum` far past the range count
  * shrinks the split size to the open cost, which leaves every range in a
  * partition of its own.
  */
class PackedPartitionSpec extends SparkSpec {

  private val Files16 = 16
  private val RowsPerFile = 400

  /** `n` dta files of `RowsPerFile` rows: key `k`, value `x`, string `s`. */
  private def corpus(n: Int = Files16): Path = {
    val dir = Files.createTempDirectory("graft_packed")
    (0 until n).foreach { i =>
      DtaWriter.write(spark.range(i * RowsPerFile, (i + 1) * RowsPerFile).select(
        (col("id") % 100).cast("int").as("k"),
        col("id").cast("double").as("x"),
        concat(lit("s"), col("id")).as("s")), dir.resolve(f"part-$i%02d.dta").toString)
    }
    dir
  }

  private lazy val dir: Path = corpus()

  private def load(d: Path, opts: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("readstat").options(opts).load(d.toString)

  /** `body` with every range in a partition of its own. */
  private def unpacked[T](body: => T): T = {
    spark.conf.set("spark.sql.files.minPartitionNum", "100000")
    try body finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no batch scan in plan"))

  test("16 files of 400 rows on 4 cores plan at most 4 partitions") {
    assert(spark.sparkContext.defaultParallelism === 4)
    val packed = load(dir).rdd.getNumPartitions
    assert(packed >= 1 && packed <= 4, s"packed into $packed partitions")
    assert(unpacked(load(dir).rdd.getNumPartitions) === Files16)
  }

  private def indexed(d: Path): Seq[ReadstatFileIndex.PlannedFile] =
    new ReadstatFileIndex(Seq(d.toString), ReadstatOptions.from(Map.empty[String, String].asJava))
      .plan().files

  private def packed(fs: Seq[ReadstatFileIndex.PlannedFile]): Seq[ReadstatPackedPartition] =
    Packing.partitions(fs, 128L << 20).toSeq.map(_.asInstanceOf[ReadstatPackedPartition])

  test("the plan does not depend on the listing order") {
    val files = indexed(dir)
    val base = packed(files)
    assert(base.size <= 4)
    assert(base.flatMap(_.ranges).map(_.path).sorted === files.map(_.path).sorted,
      "every file is planned exactly once")
    val rnd = new scala.util.Random(11)
    (0 until 5).foreach(_ => assert(packed(rnd.shuffle(files)).map(_.ranges) === base.map(_.ranges)))
  }

  test("a task deserializes only its own files' plans") {
    val files = indexed(dir)
    val parts = packed(files)
    parts.foreach(p => assert(p.plans.keySet === p.ranges.map(_.path).toSet))
    assert(parts.map(_.plans.size).sum === Files16, "each small file's plan ships once")
    // the factory, which every task deserializes, grows with no file
    def bytes(o: AnyRef): Int = {
      val buf = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(buf)
      out.writeObject(o)
      out.close()
      buf.size
    }
    val opts = ReadstatOptions.from(Map.empty[String, String].asJava)
    val conf = SerializableHadoopConf.current(spark.sparkContext)
    val schema = files.head.plan.schema
    assert(bytes(new ReadstatReaderFactory(schema, opts, files, conf)) ===
      bytes(new ReadstatReaderFactory(schema, opts, files.take(1), conf)))
  }

  test("a plan with a large strL table is one broadcast per parse, shared by every action") {
    val d = Files.createTempDirectory("graft_packed_strl")
    val long = 3000 // past str2045, so the column is a strL
    DtaWriter.write(spark.range(RowsPerFile).select(col("id").cast("double").as("x"),
      concat(lit("v"), col("id"), expr(s"repeat('y', $long)")).as("s")),
      d.resolve("strl.dta").toString)
    DtaWriter.write(spark.range(RowsPerFile).select(col("id").cast("double").as("x"),
      concat(lit("v"), col("id")).as("s")), d.resolve("small.dta").toString)
    val files = indexed(d)
    assert(files.map(f => f.path.endsWith("strl.dta") -> Packing.shared(f)).toSet ===
      Set(true -> true, false -> false))
    val df = load(d)
    val parts = scanOf(df).inputPartitions.map(_.asInstanceOf[ReadstatPackedPartition])
    assert(parts.flatMap(_.plans.keys).map(p => new org.apache.hadoop.fs.Path(p).getName).toSet ===
      Set("small.dta"), "the strL file's plan rides in no partition")
    def broadcastIds(q: DataFrame): Seq[Long] = {
      val f = scanOf(q).readerFactory.asInstanceOf[ReadstatReaderFactory]
      f.sharedPlans.values.map(_.id).toSeq
    }
    val first = broadcastIds(df)
    assert(first.size === 1)
    assert(broadcastIds(df.select("s")) === first, "a second action reuses the broadcast")
    val strs = df.where(col("x") < 1000).select("s").collect().map(_.getString(0)).toSet
    assert(strs.count(_.length > long) === RowsPerFile)
    assert(strs.contains("v7" + "y" * long) && strs.contains("v7"))
  }

  test("a large file's ranges stay one partition each") {
    val big = Files.createTempDirectory("graft_packed_big").resolve("big.dta")
    DtaWriter.write(spark.range(50000).select(col("id").cast("double").as("x")), big.toString)
    val opts = Map("maxPartitionBytes" -> "65536")
    val ranges = ReadstatFormats.forPath(big.toString, ReadstatOptions.from(opts.asJava))
      .partitionRanges(big.toString, ReadstatOptions.from(opts.asJava))
    assert(ranges.size > 4)
    val df = spark.read.format("readstat").options(opts).load(big.toString)
    assert(df.rdd.getNumPartitions === ranges.size)
    // the ranges come out in row order
    assert(df.collect().map(_.getDouble(0)).toSeq === (0 until 50000).map(_.toDouble))
  }

  test("packed results equal an unpacked read, row and columnar") {
    Seq("true", "false").foreach { columnar =>
      val opts = Map("columnar" -> columnar)
      val packed = load(dir, opts)
      assert(packed.queryExecution.executedPlan.toString.contains("ColumnarToRow") ===
        (columnar == "true"))
      val rows = sorted(packed)
      assert(rows.size === Files16 * RowsPerFile)
      assert(rows === unpacked(sorted(load(dir, opts))), s"columnar=$columnar")
      assert(packed.agg(sum("x")).collect()(0).getDouble(0) ===
        (0 until Files16 * RowsPerFile).map(_.toDouble).sum)
    }
  }

  test("PERMISSIVE: a corrupt file in a packed partition drops only its own rows") {
    val d = corpus()
    // a file that parses its metadata but is cut inside its data: it sorts
    // first in its partition, so the files after it must still arrive
    val bad = d.resolve("a-trunc.dta")
    DtaWriter.write(spark.range(RowsPerFile).select(
      lit(-1).cast("int").as("k"), (col("id") - 100000).cast("double").as("x"),
      concat(lit("t"), col("id")).as("s")), bad.toString)
    val bytes = Files.readAllBytes(bad)
    Files.write(bad, java.util.Arrays.copyOf(bytes, (bytes.length * 0.6).toInt),
      StandardOpenOption.TRUNCATE_EXISTING)
    val badDir = Files.createTempDirectory("graft_packed_bad").toString
    val df = load(d, Map("mode" -> "PERMISSIVE", "badFilesPath" -> badDir))
    val parts = scanOf(df).inputPartitions.map(_.asInstanceOf[ReadstatPackedPartition])
    val shared = parts.find(_.ranges.exists(_.path.endsWith("a-trunc.dta")))
      .getOrElse(fail("the truncated file was not planned"))
    assert(shared.ranges.size > 1 && shared.ranges.head.path.endsWith("a-trunc.dta"))
    val xs = df.select("x").collect().map(_.getDouble(0)).sorted
    assert(xs.filter(_ >= 0).toSeq === (0 until Files16 * RowsPerFile).map(_.toDouble),
      "every good file arrives whole")
    val prefix = xs.filter(_ < 0)
    assert(prefix.length < RowsPerFile, "the truncated file yields at most a strict prefix")
    assert(prefix.toSeq === (0 until prefix.length).map(i => i - 100000.0))
    val body = new java.io.File(badDir).listFiles()
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(body.contains("a-trunc.dta") && body.contains("\"read\""), body)
  }

  test("PERMISSIVE: a zsav cut before its trailer drops only its own rows") {
    // the zsav cursor reads the block index at the end of the file as it
    // opens, so this file fails before its first row
    val d = Files.createTempDirectory("graft_packed_zsav").resolve("z")
    spark.range(Files16 * RowsPerFile).select(col("id").cast("double").as("x"))
      .repartition(Files16).write.format("readstat").option("format", "zsav").mode("overwrite")
      .save(d.toString)
    val files = Files.list(d).iterator().asScala.filter(_.toString.endsWith(".zsav")).toSeq.sorted
    val bad = files.head
    val lost = spark.read.format("readstat").load(bad.toString).collect().map(_.getDouble(0)).toSet
    val bytes = Files.readAllBytes(bad)
    Files.write(bad, java.util.Arrays.copyOf(bytes, bytes.length / 2),
      StandardOpenOption.TRUNCATE_EXISTING)
    val badDir = Files.createTempDirectory("graft_packed_zsav_bad").toString
    val df = load(d, Map("mode" -> "PERMISSIVE", "badFilesPath" -> badDir))
    assert(df.rdd.getNumPartitions < files.size, "the zsav files share partitions")
    val xs = df.collect().map(_.getDouble(0)).sorted.toSeq
    assert(xs === (0 until Files16 * RowsPerFile).map(_.toDouble).filterNot(lost))
    val body = new java.io.File(badDir).listFiles()
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(body.contains(bad.getFileName.toString) && body.contains("\"read\""), body)
    // a cursor that fails as it opens closes its stream: 300 failed opens
    // would otherwise leave 300 descriptors open until a GC
    val opts = ReadstatOptions.from(Map.empty[String, String].asJava)
    val plan = spss.SavModule.parse(ReadstatIO.stamp(bad.toString), opts)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val before = os.getOpenFileDescriptorCount
    (0 until 300).foreach { _ =>
      intercept[Exception](spss.SavModule.reader(
        ReadstatInputPartition(bad.toString, "zsav", 0, plan.ranges.head._2),
        plan.context, plan.schema, opts))
    }
    assert(os.getOpenFileDescriptorCount - before < 100)
  }

  test("limit and offset give the same rows packed and unpacked") {
    Seq((None, Some(700)), (Some(450), Some(500)), (Some(6390), None)).foreach {
      case (offset, limit) =>
        def q: DataFrame = {
          val o = offset.fold(load(dir))(n => load(dir).offset(n))
          limit.fold(o)(n => o.limit(n))
        }
        val desc = scanOf(q).scan.description()
        assert(desc.contains(s"limit=${limit.map(_ + offset.getOrElse(0))}") &&
          desc.contains(s"offset=${offset.getOrElse(0)}"), desc)
        val rows = sorted(q)
        assert(rows === unpacked(sorted(q)), s"offset=$offset limit=$limit")
        assert(rows.size === math.min(limit.getOrElse(Int.MaxValue),
          Files16 * RowsPerFile - offset.getOrElse(0)))
    }
  }

  test("a runtime In filter gives the same rows packed and unpacked") {
    val dimPath = Files.createTempDirectory("graft_packed_dim").resolve("dim.parquet").toString
    spark.range(100).select(col("id").cast("int").as("k"),
      when(col("id") < 3, 1).otherwise(0).as("flag")).write.mode("overwrite").parquet(dimPath)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def joined: DataFrame =
        load(dir).join(spark.read.parquet(dimPath).filter(col("flag") === 1), "k")
      val qe = joined.queryExecution
      assert(qe.executedPlan.toString.contains("dynamicpruning"))
      val n = qe.executedPlan.executeCollect().length
      val scan = qe.executedPlan.collectFirst {
        case b: BatchScanExec if b.scan.isInstanceOf[ReadstatScan] => b
      }.get
      assert(scan.inputPartitions.size <= 4)
      assert(scan.metrics("numOutputRows").value === 3L * Files16 * RowsPerFile / 100,
        "the runtime filter reached every packed file's decoder")
      assert(n === 3 * Files16 * RowsPerFile / 100)
      assert(sorted(joined) === unpacked(sorted(joined)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
