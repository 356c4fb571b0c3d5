package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.readstat.{ReadstatFormats, ReadstatOptions}

/** MIX-page files must not degrade to a single partition: the MIX prefix
  * scans sequentially as partition 0, DATA partitions seek past it
  * (reference `data_reader_at_row` `src/sas/reader.rs:364-435`). Uses a
  * real-world MIX-prefixed file (27,570 rows, 424 on the MIX page).
  */
class MixPagePartitionSpec extends SparkSpec {

  private val mixFile = "/root/reference/tests/sas/data/data_AHS2013/owner.sas7bdat"

  private def haveCorpus = new java.io.File(mixFile).isFile

  test("MIX-prefixed file plans multiple partitions when sized down") {
    assume(haveCorpus, s"needs the MIX-page file $mixFile (absent)")
    val opts = ReadstatOptions.from {
      val m = new java.util.HashMap[String, String]()
      m.put("maxPartitionBytes", (64 * 1024).toString)
      m.put("minRowsPerPartition", "1000")
      m
    }
    val ranges = ReadstatFormats.forName("sas7bdat").partitionRanges(mixFile, opts)
    assert(ranges.length > 2, s"expected a multi-partition plan, got $ranges")
    assert(ranges.map(_._2).sum == 27570L)
    // every cut lands on a page boundary of the exact page index: the MIX
    // page carries 424 rows, DATA pages 577 (real counts from the metadata
    // walk, not the 582 capacity formula) — so each non-zero start is
    // 424 + k*577
    assert(ranges.tail.forall { case (s, _) => (s - 424L) % 577L == 0 },
      s"non-page-aligned partition starts: $ranges")
  }

  test("partitioned read equals sequential read on a MIX file") {
    assume(haveCorpus, s"needs the MIX-page file $mixFile (absent)")
    val seq = spark.read.format("readstat")
      .load(mixFile)
    val par = spark.read.format("readstat")
      .option("maxPartitionBytes", (64 * 1024).toString)
      .option("minRowsPerPartition", "1000")
      .load(mixFile)
    assert(par.rdd.getNumPartitions > 2)
    assert(par.count() == 27570L)
    // order-insensitive full-content comparison
    val cols = seq.columns.map(col)
    val h1 = seq.select(cols: _*).orderBy(cols: _*).collect().map(_.toString).toSeq
    val h2 = par.select(cols: _*).orderBy(cols: _*).collect().map(_.toString).toSeq
    assert(h1 == h2)
  }
}
