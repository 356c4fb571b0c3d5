package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload's inputs several
  * times, warm up, run timed passes for the requested seconds (or, with
  * `--trace 1`, a traced pass between two untraced ones, then the layer
  * probes), check every output, and write a result file for `run.py`.
  *
  * {{{
  * java -cp … graft.perfbench.Main --workload read --seed 1 --seconds 10 \
  *   --trace 0 --work <scratch dir> --out <result.json>
  * }}}
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. The first pays a cold
    * session start; with five, the median falls among the warm ones.
    */
  val SetupReps = 5
  /** Timed passes at least, however short `--seconds` is; every op's time
    * is its median over the passes.
    */
  val MinPasses = 3
  val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val res = scala.collection.mutable.LinkedHashMap[String, Any]()
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var phaseT = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - phaseT) / 1e9
      phaseT = now
    }
    res("workload") = workload
    res("seed") = seed
    res("trace") = traced
    res("nproc") = cores
    res("max_heap_mb") = Runtime.getRuntime.maxMemory / 1e6
    res("calibrate_before") = calibration()
    val steal0 = stealSeconds()
    phase("calibrate_before")

    val wl = Workload(workload, seed)
    val inputs = work.resolve("inputs")
    val failures = ArrayBuffer[(String, String)]()
    var attempted = 0

    // ---- set-up, several times; every set-up must produce the same bytes
    var spark: SparkSession = null
    val setupTimes = ArrayBuffer[Double]()
    val sessionTimes = ArrayBuffer[Double]()
    val prints = ArrayBuffer[Seq[(String, String)]]()
    for (_ <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      Workload.deleteTree(inputs)
      Files.createDirectories(inputs)
      val t0 = System.nanoTime()
      spark = newSession(cores, work)
      sessionTimes += (System.nanoTime() - t0) / 1e9
      wl.setup(spark, inputs)
      setupTimes += (System.nanoTime() - t0) / 1e9
      prints += wl.fingerprints
    }
    attempted += 1
    if (prints.distinct.size != 1)
      failures += ("setup" -> s"set-ups of the same seed wrote different inputs: ${prints.distinct}")
    res("fingerprints") = prints.head.toMap
    res("setup_reps_s") = setupTimes
    res("session_start_s") = sessionTimes
    phase("setup")

    val ledger = new Ledger(spark)
    val trace = new Trace(traced)

    def runPass(withTrace: Boolean): PassResult = {
      val (results, engine, _) = ledger.window {
        wl.pass(spark).map { op =>
          op.prep()
          val tr = if (withTrace) trace else new Trace(false)
          val (v, ew, secs) = ledger.window(tr.span(op.name, op.name) {
            try Right(op.run()) catch { case NonFatal(e) => Left(e) }
          })
          val err = v match {
            case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
            case Right(x) =>
              try op.check(x) catch { case NonFatal(e) => Some(s"check failed: $e") }
          }
          attempted += 1
          err.foreach(m => failures += (op.name -> m))
          OpResult(op, secs, ew, err)
        }
      }
      PassResult(results, results.map(_.secs).sum, engine)
    }

    // warm-up: JIT, codegen, caches; checked, not timed. One pass leaves the
    // next pass about a quarter slower than the steady state.
    val warm = (1 to WarmupPasses).map(_ => runPass(withTrace = false))
    res("warmup_passes_s") = warm.map(_.secs)
    phase("warmup")

    val passes = ArrayBuffer[PassResult]()
    val t0 = System.nanoTime()
    if (!traced) {
      while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds)
        passes += runPass(withTrace = false)
    } else {
      // untraced, traced, untraced: the overhead ratio compares the traced
      // pass with the median of the two passes around it
      passes += runPass(withTrace = false)
      val tp = runPass(withTrace = true)
      passes += runPass(withTrace = false)
      val overhead = tp.secs / Stats.median(passes.map(_.secs).toSeq)
      res("trace_overhead") = overhead
      val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
      layers ++= engineLayers(tp, cores)
      try layers ++= wl.layers(spark, trace, ledger, tp)
      catch { case NonFatal(e) =>
        attempted += 1
        failures += ("layers" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      layers("trace.overhead") = overhead
      res("layers") = layers
      res("self_times") = trace.selfTimes.map { case (k, (t, s)) =>
        k -> Map("total_s" -> t, "self_s" -> s) }
      trace.write(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".trace.jsonl"))
    }

    phase("passes")
    wl.finalChecks(spark).foreach { case (name, err) =>
      attempted += 1
      err.foreach(m => failures += (name -> m))
    }
    wl.dump(spark, work)

    phase("checks")
    val metrics = scala.collection.mutable.LinkedHashMap[String, Metric]()
    metrics("setup_s") = Metric.of(setupTimes.toSeq, "s")
    metrics("wall_s") = Metric.sumOfMedians(passes.toSeq, "s")
    metrics("task_s") = Metric.sumOfMedians(passes.toSeq, "s", f = _.engine.taskS)
    metrics ++= wl.metrics(passes.toSeq)
    res("counts") = wl.counts ++ Map("engine.tasks" -> passes.head.engine.tasks.size.toDouble)
    spark.stop()
    phase("stop")
    res("cpu_steal_s") = stealSeconds() - steal0
    res("calibrate_after") = calibration()
    phase("calibrate_after")
    res("phases_s") = phases
    metrics("peak_rss_mb") = Metric(peakRssMb(), "MB", 1)
    res("metrics") = metrics.map { case (k, m) =>
      k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n)
    }
    res("passes") = passes.map(p => Map("secs" -> p.secs, "task_s" -> p.engine.taskS,
      "ops" -> p.ops.map(r => Map("op" -> r.op.name, "kind" -> r.op.kind, "secs" -> r.secs))))
    res("attempted") = attempted
    res("failures") = failures.map { case (op, e) => Map("op" -> op, "error" -> e) }
    Files.write(out, Json.render(res).getBytes("UTF-8"))
  }

  def newSession(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The engine layer of one pass, from the listener. */
  def engineLayers(p: PassResult, cores: Int): Map[String, Double] = {
    val e = p.engine
    Map(
      "engine.tasks" -> e.tasks.size.toDouble,
      "engine.stages" -> e.stages.toDouble,
      "engine.jobs" -> e.jobs.toDouble,
      "engine.util" -> e.taskS / (p.secs * cores),
      "engine.sched_delay_s" -> e.schedDelayS,
      "engine.deser_s" -> e.deserS,
      "engine.gc_s" -> e.gcS,
      "engine.cpu_s" -> e.cpuS,
      "engine.shuffle_mb" -> e.shuffleMb,
      "engine.spill_mb" -> e.spillMb,
      "engine.task_skew" -> e.taskSkew)
  }

  /** The repo's own contention probes: single-thread and all-core. */
  def calibration(): Map[String, Double] =
    Map("seq_s" -> graft.Bench.calibrate(), "par_s" -> graft.Bench.calibratePar())

  /** CPU time the hypervisor gave to other guests, summed over all CPUs
    * since boot (the `steal` column of /proc/stat); 0 where unavailable.
    */
  def stealSeconds(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100 else 0.0
    } catch { case NonFatal(_) => 0.0 }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble * 1024 / 1e6
  }
}
