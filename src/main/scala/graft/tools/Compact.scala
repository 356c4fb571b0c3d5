package graft.tools

import graft.sources.readstat.Compaction
import graft.util.Sessions

/** Sink-directory maintenance: `runMain graft.tools.Compact <dir>
  * [--keep N] [--target-mb M]` — fold a streaming sink's accumulated
  * `part-e<epoch>-<pid>` containers (and any previous compact sets) into a
  * handful of consolidated containers. Atomic for concurrent batch readers
  * via the `compact-e<lo>-e<hi>.done` marker; see
  * [[graft.sources.readstat.Compaction]] for the swap discipline and the
  * tailing-reader contract. Safe to re-run any time: an interrupted run's
  * leftovers are swept first, a directory with nothing to fold is a no-op.
  */
object Compact {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Compact <sinkDir> [--keep N] [--target-mb M]")
    def flag(name: String, dflt: Long): Long = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) args(i + 1).toLong else dflt
    }
    val keep = flag("--keep", 1L).toInt
    val targetBytes = flag("--target-mb", 128L) << 20
    val spark = Sessions.start(Sessions.bench, "graft-compact")
    try {
      Compaction.compact(spark, args(0), keep, targetBytes) match {
        case Some(r) => println(s"[compact] folded ${r.foldedEpochs} epochs + " +
          s"${r.foldedSets} prior sets (${r.inputFiles} files) -> " +
          s"${r.outputFiles} containers, ${r.rows} rows: ${args(0)}")
        case None => println(s"[compact] nothing to fold: ${args(0)}")
      }
    } finally spark.stop()
  }
}
