package graft.sources.readstat

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.readstat.stata.DtaWriter

/** A micro-batch's reader factory ships the plans (decode contexts
  * included) of that batch's files only, not of every file the stream has
  * discovered, so its broadcast does not grow with the stream's age.
  */
class StreamFactorySpec extends SparkSpec {

  private def arrive(dir: Path, name: String, from: Int, n: Int): Unit = {
    val staged = Files.createTempDirectory("graft_stage").resolve(name)
    DtaWriter.write(spark.range(from, from + n).select(col("id").cast("double").as("x")),
      staged.toString)
    Files.move(staged, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  test("each micro-batch's reader factory holds exactly that batch's files") {
    val dir = Files.createTempDirectory("graft_stream_factory")
    arrive(dir, "f00.dta", 0, 10)
    val q = spark.readStream.format("readstat").load(dir.toString)
      .writeStream.format("memory").queryName("rs_factory").outputMode("append").start()
    try {
      (0 until 11).foreach { k =>
        if (k > 0) arrive(dir, f"f$k%02d.dta", 10 * k, 10)
        q.processAllAvailable()
        val scan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
          .executedPlan.collectFirst { case m: MicroBatchScanExec => m }
          .getOrElse(fail(s"no micro-batch scan in batch $k"))
        val shipped = scan.readerFactory.asInstanceOf[ReadstatReaderFactory].plannedPaths
        assert(shipped.map(p => new HPath(p).getName) === Set(f"f$k%02d.dta"), s"batch $k")
        assert(spark.table("rs_factory").count() === 10L * (k + 1))
      }
    } finally q.stop()
  }
}
