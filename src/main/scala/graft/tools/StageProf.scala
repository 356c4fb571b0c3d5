package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.util.Sessions

/** Per-stage attribution for one query at bench config (r16 optimization
  * evidence): one untimed warm run (codegen/JIT), then one measured run
  * with a task listener, printing each stage's task count, summed task
  * time, max task, and the first line of its call-site name — the
  * "which operator owns the wall" question the bench's single number
  * cannot answer. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 ... StageProf /root/testdata/sf0.1 q112_delta_dedup
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProf <sfDir> <query...>")
    val (d, names) = (args(0), args.drop(1).toSeq)
    val spark = Sessions.start(Sessions.bench, "graft-stageprof")
    for (q <- names) {
      val fn = graft.SparkEntry.queries(q)
      spark.catalog.clearCache()
      fn(spark, d).count() // warm
      spark.catalog.clearCache()
      val taskTime = new ConcurrentHashMap[Int, (Long, Long, Int)]()
      val stageName = new ConcurrentHashMap[Int, String]()
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          taskTime.merge(t.stageId, (t.taskInfo.duration, t.taskInfo.duration, 1),
            (a, b) => (a._1 + b._1, math.max(a._2, b._2), a._3 + b._3))
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val graftFrames = s.stageInfo.details.linesIterator
            .filter(l => l.contains("graft.") && !l.contains("tools.StageProf"))
            .take(2).mkString(" <- ").trim
          val head = s.stageInfo.name.takeWhile(_ != '\n')
          stageName.put(s.stageInfo.stageId,
            if (graftFrames.nonEmpty) s"$head | $graftFrames" else head)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, d).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $q wall $wall%.2f s ==")
      import scala.jdk.CollectionConverters._
      val rows = taskTime.asScala.toSeq.sortBy(-_._2._1).take(20)
      for ((sid, (sum, mx, n)) <- rows)
        println(f"  stage $sid%4d  sum ${sum / 1e3}%7.2f s  max ${mx / 1e3}%6.2f s  " +
          f"tasks $n%4d  ${stageName.getOrDefault(sid, "?").take(90)}")
    }
    spark.stop()
  }
}
