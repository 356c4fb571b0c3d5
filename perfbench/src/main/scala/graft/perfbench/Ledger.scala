package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One finished task, as the listener saw it. Times in seconds. */
final case class TaskRec(
    stageKey: String,
    endMs: Long,
    run: Double,
    duration: Double,
    cpu: Double,
    deser: Double,
    gc: Double,
    schedDelay: Double,
    shuffleBytes: Long,
    spillBytes: Long)

/** Engine totals over one window of the run (a pass, an op). */
final case class EngineWindow(
    tasks: Seq[TaskRec],
    stages: Int,
    jobs: Int,
    fsBytesRead: Long) {
  def taskS: Double = tasks.map(_.run).sum
  def cpuS: Double = tasks.map(_.cpu).sum
  def deserS: Double = tasks.map(_.deser).sum
  def gcS: Double = tasks.map(_.gc).sum
  def schedDelayS: Double = tasks.map(_.schedDelay).sum
  def shuffleMb: Double = tasks.map(_.shuffleBytes).sum / 1e6
  def spillMb: Double = tasks.map(_.spillBytes).sum / 1e6
  def lastTaskEndMs: Long = if (tasks.isEmpty) 0L else tasks.map(_.endMs).max

  /** Worst stage's max ÷ median task duration, over stages with at least
    * two tasks (1.0 when no stage qualifies).
    */
  def taskSkew: Double = {
    val per = tasks.groupBy(_.stageKey).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.duration).sorted
      val med = Stats.median(d)
      if (med <= 0) 1.0 else d.last / med
    }
    if (per.isEmpty) 1.0 else per.max
  }
}

/** Records every task, stage and job of the session through a
  * `SparkListener`, plus Hadoop file-system byte counters; `window` runs a
  * block and returns what the engine did while it ran.
  */
final class Ledger(spark: SparkSession) {
  private val recs = ArrayBuffer[TaskRec]()
  private var stages = 0
  private var jobs = 0

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      val run = m.executorRunTime / 1e3
      val deser = m.executorDeserializeTime / 1e3
      val dur = info.duration / 1e3
      val sched = math.max(0.0, dur - run - deser - m.resultSerializationTime / 1e3 -
        (if (info.gettingResult) (info.finishTime - info.gettingResultTime) / 1e3 else 0.0))
      val r = TaskRec(
        stageKey = s"${e.stageId}.${e.stageAttemptId}",
        endMs = info.finishTime,
        run = run,
        duration = dur,
        cpu = m.executorCpuTime / 1e9,
        deser = deser,
        gc = m.jvmGCTime / 1e3,
        schedDelay = sched,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
      Ledger.this.synchronized { recs += r }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Ledger.this.synchronized { stages += 1 }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Ledger.this.synchronized { jobs += 1 }
  }
  spark.sparkContext.addSparkListener(listener)

  private def mark(): (Int, Int, Int, Long) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized((recs.size, stages, jobs, Ledger.fsBytesRead))
  }

  def window[T](f: => T): (T, EngineWindow, Double) = {
    val a = mark()
    val t0 = System.nanoTime()
    val out = f
    val secs = (System.nanoTime() - t0) / 1e9
    val b = mark()
    val w = synchronized(EngineWindow(recs.slice(a._1, b._1).toList, b._2 - a._2,
      b._3 - a._3, b._4 - a._4))
    (out, w, secs)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Ledger {
  @annotation.nowarn("cat=deprecation")
  private def stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
  /** Bytes read through Hadoop file systems by every thread of this JVM. */
  def fsBytesRead: Long = stats.map(_.getBytesRead).sum
}
