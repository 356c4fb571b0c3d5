package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.readstat._

/** The read workload. Each dataset is one container or one directory of
  * containers with known contents (see [[Gen]]); a pass runs load, a
  * full-column aggregate, a 3-of-12 projection, a 1%-selective filter and
  * count() on every dataset, except datasets marked `loadCountOnly`.
  *
  * It has two halves: large uncompressed containers, where decode
  * dominates (bigscan), and many small compressed containers, where
  * per-file planning and task launch dominate (manyfiles), plus one
  * directory of more small SAS files than the SAS metadata cache holds.
  */
object ReadWorkload {

  /** `cached`: the dataset's metadata fits the SAS metadata cache, so an
    * untimed load before its timed one re-fills the entries the
    * over-capacity directory evicted.
    */
  final case class Dataset(label: String, path: Path, opts: Map[String, String],
      expect: Gen.Expect, loadCountOnly: Boolean = false, cached: Boolean = false) {
    lazy val bytes: Long = Workload.bytes(path)
    def mb: Double = bytes / 1e6
    def files: Seq[Path] = Workload.files(path)
  }

  /** bigscan rows per container; about 100 bytes a row in every format. */
  val BigRows: Int = 400000
  /** Row-range partitions of 4 MB give each bigscan container about as
    * many partitions as a 1 GB file gets at the default 128 MB.
    */
  private val BigOpts = Map("maxPartitionBytes" -> (4L << 20).toString)

  val FilesPerDir: Int = 16
  val RowsPerFile: Int = 400
  /** More than `SasModule.metaCache`'s 4,096 entries. */
  val OverCapFiles: Int = 4120
  private val OverCapTemplates = 8

  private val Dirs = Seq(
    ("sas_rle", Map("format" -> "sas7bdat", "compression" -> "rle")),
    ("sas_rdc", Map("format" -> "sas7bdat", "compression" -> "rdc")),
    ("savbc", Map("format" -> "sav", "compression" -> "bytecode")),
    ("zsav", Map("format" -> "zsav")))

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Median seconds of `n` runs of `f`. */
  def timeMedian(n: Int)(f: => Unit): Double = Stats.median((1 to n).map(_ => timed(f)._2))
}

final class ReadWorkload(seed: Long) extends Workload {
  import ReadWorkload._

  val name = "read"
  private var datasets: Seq[Dataset] = Nil
  private var prints: Seq[(String, String)] = Nil

  /** The over-capacity directory comes first in a pass: it evicts every
    * other SAS entry, and the untimed load before each `cached` dataset's
    * timed load then puts its entries back.
    */
  private def generate(spark: SparkSession, dir: Path): Seq[Dataset] =
    overCap(dir) +: (bigFiles(dir) ++ smallDirs(spark, dir))

  /** Large uncompressed containers: decode and columnar assembly. */
  private def bigFiles(dir: Path): Seq[Dataset] = {
    val exp = Gen.expect(seed, 0, BigRows)
    val targets = Seq("dta" -> "big.dta", "sas" -> "big.sas7bdat", "sav" -> "big.sav")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(targets.size)
    try {
      val fs = targets.map { case (label, file) =>
        val p = dir.resolve(file)
        pool.submit(new java.util.concurrent.Callable[Dataset] {
          def call(): Dataset = {
            val it = Gen.rows(seed, 0, BigRows)
            label match {
              case "dta" => stata.DtaWriter.writeRows(Gen.schema, it, p.toString, Gen.stringWidths)
              case "sas" => sas.SasFixtureWriter.writeRowsStreaming(
                Gen.schema, it, p.toString, Gen.stringWidths, BigRows.toLong)
              case "sav" => spss.SavWriter.writeRows(Gen.schema, it, p.toString,
                Gen.stringWidths, compress = false, valueLabels = Map.empty)
            }
            Dataset(label, p, BigOpts, exp, cached = true)
          }
        })
      }
      fs.map(_.get())
    } finally pool.shutdown()
  }

  /** Directories of small compressed containers, written through the
    * directory-of-containers sink.
    */
  private def smallDirs(spark: SparkSession, dir: Path): Seq[Dataset] = {
    val n = FilesPerDir.toLong * RowsPerFile
    Dirs.zipWithIndex.map { case ((label, wopts), i) =>
      val salt = seed * 1009 + i
      val p = dir.resolve(label)
      val rdd = spark.sparkContext.range(0, n, 1, FilesPerDir).map(r => Gen.row(salt, r))
      spark.createDataFrame(rdd, Gen.schema).write.format("readstat")
        .options(wopts).mode("overwrite").save(p.toString)
      Dataset(label, p, Map.empty, Gen.expect(salt, 0, n))
    }
  }

  /** Hard links to a few distinct small containers: its ops only parse
    * metadata, which the SAS module caches by path, so every link is a
    * distinct cache entry.
    */
  private def overCap(dir: Path): Dataset = {
    val ocSalt = seed * 1009 + 99
    val oc = dir.resolve("sas_overcap")
    val tdir = dir.resolve("sas_overcap_templates")
    Files.createDirectories(oc)
    Files.createDirectories(tdir)
    val templates = (0 until OverCapTemplates).map { k =>
      val t = tdir.resolve(f"template-$k%02d.sas7bdat")
      sas.SasFixtureWriter.writeRowsStreaming(Gen.schema, Gen.rows(ocSalt, 2L * k, 2L * k + 2),
        t.toString, Gen.stringWidths, 2L)
      t
    }
    (0 until OverCapFiles).foreach { k =>
      Files.createLink(oc.resolve(f"part-$k%05d.sas7bdat"), templates(k % OverCapTemplates))
    }
    val ocExpect = (0 until OverCapFiles).map { k =>
      val t = k % OverCapTemplates
      Gen.expect(ocSalt, 2L * t, 2L * t + 2)
    }.reduce(_ + _)
    Dataset("sas_overcap", oc, Map.empty, ocExpect, loadCountOnly = true)
  }

  def setup(spark: SparkSession, dir: Path): Unit = {
    datasets = generate(spark, dir)
    // the links share their templates' bytes, whose digest is its own entry
    prints = datasets.map(d => d.label -> Workload.digest(d.path, d.label != "sas_overcap")) :+
      ("sas_overcap_templates" -> Workload.digest(dir.resolve("sas_overcap_templates")))
  }

  def fingerprints: Seq[(String, String)] = prints

  override def counts: Map[String, Double] =
    datasets.flatMap(d => Seq(s"input.${d.label}.bytes" -> d.bytes.toDouble,
      s"input.${d.label}.files" -> d.files.size.toDouble)).toMap

  private def load(spark: SparkSession, d: Dataset): DataFrame =
    spark.read.format("readstat").options(d.opts).load(d.path.toString)

  private def fullAgg(df: DataFrame): Seq[Any] = {
    val cols = Seq(count(lit(1))) ++ (0 until Gen.NumCols).map(c => sum(col(f"c$c%02d"))) ++
      Seq(count(col("c08")), count(col("c09")), sum(length(col("c10"))), sum(length(col("c11"))))
    df.agg(cols.head, cols.tail: _*).collect()(0).toSeq
  }

  private def fullExpected(e: Gen.Expect): Seq[Any] =
    Seq(e.rows) ++ e.sums ++ Seq(e.nonNull(8), e.nonNull(9), e.len10, e.len11)

  def pass(spark: SparkSession): Seq[Op] = datasets.flatMap { d =>
    var df: DataFrame = null
    val e = d.expect
    val loadOp = Op(name, s"${d.label}.load", "load", 0.0,
      () => { df = load(spark, d); df.schema.fieldNames.toSeq },
      Workload.expectEq(s"${d.label} schema")(Gen.schema.fieldNames.toSeq),
      prep = () => if (d.cached) load(spark, d))
    val countOp = Op(name, s"${d.label}.count", "count", 0.0, () => df.count(),
      Workload.expectEq(s"${d.label} count")(e.rows))
    if (d.loadCountOnly) Seq(loadOp, countOp)
    else Seq(
      loadOp,
      Op(name, s"${d.label}.full", "full", d.mb, () => fullAgg(df),
        Workload.expectEq(s"${d.label} full aggregate")(fullExpected(e))),
      Op(name, s"${d.label}.proj", "proj", d.mb,
        () => df.agg(sum(col("c02")), sum(col("c05")), sum(length(col("c11"))))
          .collect()(0).toSeq,
        Workload.expectEq(s"${d.label} projected aggregate")(Seq(e.sums(2), e.sums(5), e.len11))),
      Op(name, s"${d.label}.filter", "filter", d.mb,
        () => df.where(col("c01") === e.filterK.toDouble)
          .agg(count(lit(1)), sum(col("c00")), sum(col("c03"))).collect()(0).toSeq,
        Workload.expectEq(s"${d.label} filtered aggregate")(
          Seq(e.filterRows, e.filterSum00, e.filterSum03))),
      countOp)
  }

  def metrics(passes: Seq[PassResult]): Map[String, Metric] = {
    def kind(k: String) = Metric.sumOfMedians(passes, "s", _.kind == k)
    val reads: Op => Boolean = op => Set("full", "proj", "filter")(op.kind)
    val mb = passes.head.ops.filter(r => reads(r.op)).map(_.op.mb).sum
    Map(
      "load_s" -> kind("load"),
      "count_s" -> kind("count"),
      "full_read_s" -> kind("full"),
      "proj_read_s" -> kind("proj"),
      "filter_read_s" -> kind("filter"),
      "read_mb_s" -> Metric(mb / Metric.opMedianSum(passes, reads), "MB/s", passes.size))
  }

  // ------------------------------------------------------------ layers

  def layers(spark: SparkSession, trace: Trace, ledger: Ledger,
    traced: PassResult): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    val readable = datasets.filterNot(_.loadCountOnly)
    trace.span("layer.decode", "decode") {
      readable.foreach { d =>
        val files = d.files
        val mb = files.map(Files.size).sum / 1e6
        val full = trace.span(s"decode.${d.label}")(timeMedian(3)(files.foreach(f =>
          decodeFile(f, d.opts, Gen.schema.fieldNames.toSeq, d.expect.rows / files.size))))
        out(s"decode.${d.label}.mb_s") = mb / full
        if (files.size == 1) {
          val proj = trace.span(s"decode.${d.label}.proj")(timeMedian(3)(
            decodeFile(files.head, d.opts, Gen.projCols, d.expect.rows)))
          out(s"decode.${d.label}.proj_mb_s") = mb / proj
        }
      }
    }
    trace.span("layer.meta", "meta") {
      readable.groupBy(d => metaFamily(d.files.head)).foreach { case (fam, ds) =>
        val f = ds.head.files.head
        val (ms, bytes) = trace.span(s"meta.$fam")(metaProbe(f))
        out(s"meta.$fam.parse_ms") = ms
        out(s"meta.$fam.bytes") = bytes.toDouble
      }
    }
    trace.span("layer.plan", "plan") {
      var infer = 0.0; var parts = 0.0; var factory = 0.0
      var nParts = 0L; var nFiles = 0L; var bytes = 0L; var container = 0L
      datasets.foreach { d =>
        if (d.cached) load(spark, d)
        val b0 = Ledger.fsBytesRead
        val m = new CaseInsensitiveStringMap((d.opts + ("path" -> d.path.toString)).asJava)
        val src = new ReadstatDataSource
        val t0 = System.nanoTime()
        val schema = trace.span("plan.infer_schema")(src.inferSchema(m))
        val t1 = System.nanoTime()
        val batch = trace.span("plan.partitions") {
          val b = src.getTable(schema, Array.empty, m.asCaseSensitiveMap())
            .asInstanceOf[ReadstatTable].newScanBuilder(m).build().toBatch
          nParts += b.planInputPartitions().length
          b
        }
        val t2 = System.nanoTime()
        trace.span("plan.reader_factory")(batch.createReaderFactory())
        val t3 = System.nanoTime()
        infer += (t1 - t0) / 1e9; parts += (t2 - t1) / 1e9; factory += (t3 - t2) / 1e9
        val read = Ledger.fsBytesRead - b0
        out(s"plan.${d.label}.bytes") = read.toDouble
        bytes += read
        container += d.bytes
        nFiles += d.files.size
      }
      out("plan.infer_schema_s") = infer
      out("plan.partitions_s") = parts
      out("plan.reader_factory_s") = factory
      out("plan.partitions") = nParts.toDouble
      out("plan.files") = nFiles.toDouble
      out("plan.read_amp") = bytes.toDouble / container
    }
    trace.span("layer.scan", "scan") {
      var secs = 0.0; var batches = 0L; var bytes = 0L; var container = 0L
      var filtRows = 0L; var allRows = 0L
      readable.foreach { d =>
        val df = load(spark, d)
        val b0 = Ledger.fsBytesRead
        val ((nb, _), s) = trace.span(s"scan.${d.label}")(timed(drainScan(df)))
        bytes += Ledger.fsBytesRead - b0
        secs += s; batches += nb; container += d.bytes
        val (_, fr) = trace.span(s"scan.${d.label}.filter")(
          drainScan(df.where(col("c01") === d.expect.filterK.toDouble)))
        filtRows += fr; allRows += d.expect.rows
      }
      out("scan.batch_s") = secs
      out("scan.batches") = batches.toDouble
      out("scan.rows_out_ratio") = filtRows.toDouble / allRows
      out("scan.read_amp") = bytes.toDouble / container
    }
    out.toMap
  }

  private def metaFamily(p: Path): String = {
    val n = p.getFileName.toString
    if (n.endsWith(".dta")) "dta" else if (n.endsWith(".sas7bdat")) "sas" else "sav"
  }

  /** Median ms of five metadata parses of `p` and the FS bytes one read. */
  private def metaProbe(p: Path): (Double, Long) = {
    def once(): Unit = {
      val path = p.toString
      metaFamily(p) match {
        case "dta" =>
          val in = new java.io.BufferedInputStream(ReadstatIO.open(path), 1 << 20)
          try stata.Dta.parseMetadata(stata.Dta.ByteReader(in)) finally in.close()
        case "sas" =>
          val in = new java.io.BufferedInputStream(ReadstatIO.open(path), 1 << 20)
          try sas.Sas.parseMetadata(in) finally in.close()
        case _ =>
          spss.Sav.parseMetadata(
            () => new java.io.BufferedInputStream(ReadstatIO.open(path), 1 << 20))
      }
    }
    val b0 = Ledger.fsBytesRead
    once()
    val bytes = Ledger.fsBytesRead - b0
    (timeMedian(5)(once()) * 1e3, bytes)
  }

  /** Drives one whole-file partition through the format's columnar path
    * on this thread, with no Spark job.
    */
  private def decodeFile(p: Path, opts: Map[String, String], cols: Seq[String],
      expectRows: Long): Unit = {
    val path = p.toString
    val o = ReadstatOptions.from(opts.asJava)
    val module = ReadstatFormats.forPath(path, o)
    val full = module.schema(path, o)
    val required = org.apache.spark.sql.types.StructType(cols.map(full(_)))
    val nRows = module.partitionRanges(path, o).map(_._2).sum
    val part = ReadstatInputPartition(path, ReadstatOptions.detectFormat(path, o.format), 0L, nRows)
    val (cursor, apps) = module.columnar(part, module.fileContext(path, o), required, o)
      .getOrElse(throw new IllegalStateException(s"no columnar path for $path"))
    val reader = new ReadstatColumnarReader(cursor, apps, required)
    var n = 0L
    try while (reader.next()) n += reader.get().numRows() finally reader.close()
    if (n != expectRows) throw new IllegalStateException(
      s"decode of $path returned $n rows, expected $expectRows")
  }

  /** Drains the scan's columnar RDD with nothing on top; (batches, rows). */
  private def drainScan(df: DataFrame): (Long, Long) = {
    val scan = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(throw new IllegalStateException("no BatchScanExec in plan"))
    scan.executeColumnar().mapPartitions { it =>
      var b = 0L; var r = 0L
      it.foreach { cb => b += 1; r += cb.numRows() }
      Iterator((b, r))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
