package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One operation of a pass. `run` is the timed part; `check` judges its
  * result afterwards, untimed, and returns an error message on a mismatch.
  * `kind` groups ops into the end-to-end metrics (load, full, write_single…).
  */
final case class Op(workload: String, name: String, kind: String, mb: Double,
    run: () => Any, check: Any => Option[String], prep: () => Unit = () => ())

final case class OpResult(op: Op, secs: Double, engine: EngineWindow, error: Option[String])

final case class PassResult(ops: Seq[OpResult], secs: Double, engine: EngineWindow)

/** End-to-end metric: a median over `n` samples. Runs take three samples,
  * too few for any percentile with ten samples beyond it.
  */
final case class Metric(value: Double, unit: String, n: Int)

object Metric {
  def of(xs: Seq[Double], unit: String): Metric = Metric(Stats.median(xs), unit, xs.size)

  /** Each op's median over the passes, summed over the ops `keep` selects:
    * the time of one pass over those ops with per-op noise removed.
    */
  def opMedianSum(passes: Seq[PassResult], keep: Op => Boolean = _ => true,
      f: OpResult => Double = _.secs): Double =
    passes.flatMap(_.ops).filter(r => keep(r.op)).groupBy(_.op.name).values
      .map(rs => Stats.median(rs.map(f))).sum

  def sumOfMedians(passes: Seq[PassResult], unit: String, keep: Op => Boolean = _ => true,
      f: OpResult => Double = _.secs): Metric =
    Metric(opMedianSum(passes, keep, f), unit, passes.size)
}

/** Shared surface of the workloads. */
trait Workload {
  def name: String

  /** Generates (or verifies) the inputs under `dir`; runs once per set-up. */
  def setup(spark: SparkSession, dir: Path): Unit

  /** Digest of every input file, taken at set-up. */
  def fingerprints: Seq[(String, String)]

  /** A fresh pass: ops are built per pass so state (a loaded frame) never
    * leaks from one pass into the next.
    */
  def pass(spark: SparkSession): Seq[Op]

  /** Untimed checks run once after the timed passes (read-back of written
    * outputs); each entry is (check name, error).
    */
  def finalChecks(spark: SparkSession): Seq[(String, Option[String])] = Seq.empty

  /** Workload-specific end-to-end metrics from the timed passes. */
  def metrics(passes: Seq[PassResult]): Map[String, Metric]

  /** Per-layer probes of the traced run (name → value); `traced` is the
    * traced pass.
    */
  def layers(spark: SparkSession, trace: Trace, ledger: Ledger,
      traced: PassResult): Map[String, Double]

  /** Whether `op` came from this workload's `pass`. */
  def owns(op: Op): Boolean = op.workload == name

  /** Deterministic quantities (byte counts, file counts) of this workload. */
  def counts: Map[String, Double] = Map.empty

  /** Writes what the checks after this JVM need (the oracle inputs) under `work`. */
  def dump(spark: SparkSession, work: Path): Unit = ()
}

/** Several workloads run as one: set-ups, passes, checks and metrics are
  * concatenated in order.
  */
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  def setup(spark: SparkSession, dir: Path): Unit = parts.foreach { w =>
    val d = dir.resolve(w.name)
    Files.createDirectories(d)
    w.setup(spark, d)
  }
  def fingerprints: Seq[(String, String)] = parts.flatMap(_.fingerprints)
  def pass(spark: SparkSession): Seq[Op] = parts.flatMap(_.pass(spark))
  override def finalChecks(spark: SparkSession): Seq[(String, Option[String])] =
    parts.flatMap(_.finalChecks(spark))
  def metrics(passes: Seq[PassResult]): Map[String, Metric] = parts.flatMap { w =>
    val mine = passes.map(p => p.copy(ops = p.ops.filter(r => w.owns(r.op))))
    w.metrics(mine)
  }.toMap
  def layers(spark: SparkSession, trace: Trace, ledger: Ledger,
      traced: PassResult): Map[String, Double] = parts.flatMap { w =>
    w.layers(spark, trace, ledger, traced.copy(ops = traced.ops.filter(r => w.owns(r.op))))
  }.toMap
  override def counts: Map[String, Double] = parts.flatMap(_.counts).toMap
  override def dump(spark: SparkSession, work: Path): Unit = parts.foreach(_.dump(spark, work))
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "read" => new ReadWorkload(seed)
    case "write" => new Composite("write", Seq(new WriteWorkload(seed), new OperatorsWorkload))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Files under `root` (or `root` itself), sorted by path. */
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else if (Files.isRegularFile(root)) Seq(root)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .filterNot(_.getFileName.toString.endsWith(".crc")).toSeq.sortBy(_.toString)
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).map(Files.size).sum

  /** SHA-256 over the relative names and (unless `contents` is false) the
    * contents of every file under `root`.
    */
  def digest(root: Path, contents: Boolean = true): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    files(root).foreach { f =>
      md.update(root.relativize(f).toString.getBytes("UTF-8"))
      if (contents) {
        val in = Files.newInputStream(f)
        try {
          var n = in.read(buf)
          while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Compares a collected value with the expected one. */
  def expectEq(what: String)(expected: Any): Any => Option[String] = got =>
    if (got == expected) None else Some(s"$what: got $got, expected $expected")
}
