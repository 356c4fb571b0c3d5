package graft.sources.readstat

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.internal.SQLConf

/** One task's share of a readstat scan: row ranges of one or more files,
  * read in order by one reader ([[PackedReader]]), and the plans of those
  * files that ride in the partition (every file whose decode context is
  * not shared, see [[Packing.shared]]).
  */
final case class ReadstatPackedPartition(
    ranges: Seq[ReadstatInputPartition],
    plans: Map[String, ReadstatFormats.FilePlan]) extends InputPartition

/** Packs a scan's row ranges into partitions with the rule Spark's own file
  * sources use, so a directory of small files runs about one task per core
  * instead of one task per file, while a large file's ranges stay one
  * partition each.
  *
  * A range weighs its file's length scaled by its share of the file's
  * rows. The split size is Spark's `FilePartition.maxSplitBytes` over the
  * ranges' weights (each plus `spark.sql.files.openCostInBytes`), capped
  * by the readstat `maxPartitionBytes`. Ranges are sorted largest first
  * (ties by path, then row start) and handed to Spark's
  * `FilePartition.getFilePartitions`, which fills each partition until the
  * next range would overflow the split size and re-packs when the count
  * passes `spark.sql.files.maxPartitionNum`. So the plan does not depend
  * on the listing order.
  *
  * Each file's plan travels with the one partition that reads a small file
  * (so a task deserializes its own files' plans only), or, when its
  * context is large, once per executor as a broadcast ([[shared]]).
  */
object Packing {

  /** A decode context with at least this many bytes of bulk tables (a
    * Stata strL/GSO table) is shared rather than copied into each
    * partition that reads its file: each task deserializes its own copy of
    * its partition, so a copy per task would multiply the table by the
    * executor's cores (SURVEY.md §7.4 risk 4). Spark itself warns at task
    * sizes of about this much.
    */
  val SharedContextBytes: Long = 1L << 20

  /** Whether `f`'s plan ships as one broadcast per executor. */
  private[readstat] def shared(f: ReadstatFileIndex.PlannedFile): Boolean =
    f.plan.context.bulkBytes >= SharedContextBytes

  /** The broadcasts of `files`' shared plans by path, each made once per
    * parsed file ([[ReadstatFileIndex.PlannedFile.sharedPlan]]).
    */
  private[readstat] def sharedPlans(files: Seq[ReadstatFileIndex.PlannedFile]): Map[String, Broadcast[ReadstatFormats.FilePlan]] = {
    val big = files.filter(shared)
    if (big.isEmpty) Map.empty
    else {
      val sc = SparkSession.active.sparkContext
      big.map(f => f.path -> f.sharedPlan(sc)).toMap
    }
  }

  /** A row range and its weight in bytes, open cost excluded. */
  private final case class Weighted(range: ReadstatInputPartition, bytes: Long)

  /** The partitions of `files` after skipping `offset` rows and keeping at
    * most `limit` (both counted in listing order, before packing).
    */
  private[readstat] def partitions(
      files: Seq[ReadstatFileIndex.PlannedFile],
      maxPartitionBytes: Long,
      offset: Long = 0L,
      limit: Option[Long] = None): Array[InputPartition] = {
    val session = SparkSession.active
    val openCost = SQLConf.get.filesOpenCostInBytes
    val ranges = weighted(files, offset, limit)
      .sortBy(w => (-w.bytes, w.range.path, w.range.rowStart)).toIndexedSeq
    val total = ranges.map(_.bytes + openCost).sum
    val split = math.min(maxPartitionBytes, FilePartition.maxSplitBytes(session, total))
    // Spark packs stand-ins: a range as a file whose length is its weight
    // and whose start is its index in `ranges`
    val standIns = ranges.indices.map(i =>
      PartitionedFile(InternalRow.empty, SparkPath.fromUrlString(ranges(i).range.path), i, ranges(i).bytes))
    val carried = files.filterNot(shared).map(f => f.path -> f.plan).toMap
    // each partition lists its ranges in (path, row start) order, and
    // partitions follow their first range, so a single file's ranges come
    // out in row order
    FilePartition.getFilePartitions(session, standIns, split)
      .map(_.files.map(f => ranges(f.start.toInt).range).sortBy(r => (r.path, r.rowStart)).toSeq)
      .sortBy(rs => (rs.head.path, rs.head.rowStart))
      .map(rs => ReadstatPackedPartition(rs,
        rs.iterator.map(_.path).distinct.flatMap(p => carried.get(p).map(p -> _)).toMap))
      .toArray
  }

  /** `files`' non-empty row ranges after `offset` and `limit`, weighed. */
  private def weighted(
      files: Seq[ReadstatFileIndex.PlannedFile],
      offset: Long,
      limit: Option[Long]): Seq[Weighted] = {
    val out = ArrayBuffer[Weighted]()
    var skip = offset
    var remaining = limit.getOrElse(Long.MaxValue)
    files.foreach { f =>
      val fileRows = f.plan.ranges.map(_._2).sum
      for ((start, count) <- f.plan.ranges if remaining > 0) {
        val skipped = math.min(skip, count)
        skip -= skipped
        val c = math.min(count - skipped, remaining)
        if (c > 0) {
          remaining -= c
          val bytes = (math.max(0L, f.len).toDouble * c / math.max(1L, fileRows)).toLong
          out += Weighted(ReadstatInputPartition(f.path, f.format, start + skipped, c), bytes)
        }
      }
    }
    out.toSeq
  }
}

/** Reads a packed partition's ranges one after another, opening each
  * range's reader only when the one before it is drained and closed. Each
  * range keeps its own reader, so a columnar batch never spans two files
  * and a PERMISSIVE stop ends only its own file's range.
  */
private[readstat] final class PackedReader[T](
    ranges: Seq[ReadstatInputPartition],
    open: ReadstatInputPartition => PartitionReader[T])
  extends PartitionReader[T] {
  private val rest = ranges.iterator
  private var current: PartitionReader[T] = _

  override def next(): Boolean = {
    var found = false
    while (!found && (current != null || rest.hasNext)) {
      if (current == null) current = open(rest.next())
      found = current.next()
      if (!found) {
        current.close()
        current = null
      }
    }
    found
  }

  override def get(): T = current.get()

  override def close(): Unit = if (current != null) {
    current.close()
    current = null
  }
}
