package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{IvfPqIndexStore, SimilarityOps}
import graft.streaming.IndexMaintenance
import graft.util.Sessions

/** IVF-PQ index-directory administration: the operator-facing face of the
  * q122→q133 lifecycle.
  *
  * {{{
  *   runMain graft.tools.IndexAdmin status  <indexDir>
  *   runMain graft.tools.IndexAdmin audit   <indexDir> <embeddingsParquet> [--frac F] [--dist D]
  *   runMain graft.tools.IndexAdmin rebuild <indexDir> <embeddingsParquet> [--if-stale] [--keep N]
  *   runMain graft.tools.IndexAdmin release-lease <indexDir>
  *   runMain graft.tools.IndexAdmin compact-manifest <manifestDir> [--if-oversized] [--epochs N] [--keep N]
  * }}}
  *
  * `status` prints the committed version, build id, lease holder, and the
  * ledger-driven appended-mass report. `audit` runs the ledger-cohort
  * staleness audit ([[SimilarityOps.ivfPqLedgerStalenessAudit]]).
  * `rebuild` actuates unconditionally, or through the audit gate with
  * `--if-stale` ([[SimilarityOps.rebuildIfStale]] — the scheduled job a
  * deployment cron-runs). `release-lease` is the named-error recovery path
  * after a crashed maintainer. The embeddings parquet must carry the
  * corpus (vec_id, embedding ARRAY, label) the index serves — a rebuild
  * retrains over it.
  */
object IndexAdmin {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IndexAdmin <status|audit|rebuild|release-lease> <indexDir> [corpus] [flags]")
    val (cmd, dir) = (args(0), args(1))
    def flag(name: String, dflt: Double): Double = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) args(i + 1).toDouble else dflt
    }
    val spark = Sessions.start(Sessions.bench, "graft-index-admin")

    /** the corpus in the audit/rebuild shape (the fixture embeddings
      * schema; production lakes point this at their vector table) */
    def corpus(path: String) = {
      graft.functions.VectorFunctions.register(spark)
      val df = spark.read.parquet(path)
      df.select(col("vec_id"),
          expr("CAST(embedding AS ARRAY<DOUBLE>)").as("e"),
          col("label"))
        .withColumn("nrm", sqrt(expr("graft_dot(e, e)")))
    }

    try cmd match {
      case "status" =>
        val v = IvfPqIndexStore.committedVersion(spark, dir)
        val rdir = IvfPqIndexStore.resolveRead(spark, dir)
        println(s"[index] dir=$dir committed_version=$v resolved=$rdir")
        println(s"[index] build_id=${IvfPqIndexStore.buildId(spark, rdir)}")
        println(s"[index] lease=${IvfPqIndexStore.leaseHolder(spark, dir).getOrElse("<none>")}")
        val codesPath = new org.apache.hadoop.fs.Path(s"$rdir/codes")
        if (codesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(codesPath))
          IndexMaintenance.appendedMassReport(spark, dir).show(false)
        else println(s"[index] no codes table at $rdir — index not built yet")
      case "audit" =>
        require(args.length >= 3, "audit needs <indexDir> <embeddingsParquet>")
        SimilarityOps.ivfPqLedgerStalenessAudit(corpus(args(2)), dir,
          flag("--frac", 0.3), flag("--dist", 1.5)).show(false)
      case "rebuild" =>
        require(args.length >= 3, "rebuild needs <indexDir> <embeddingsParquet>")
        val keep = flag("--keep", 1.0).toInt
        if (args.contains("--if-stale")) {
          val ran = SimilarityOps.rebuildIfStale(corpus(args(2)), dir,
            flag("--frac", 0.3), flag("--dist", 1.5), keep)
          println(if (ran) s"[index] stale — rebuilt and swapped: $dir"
                  else s"[index] healthy — no rebuild: $dir")
        } else {
          SimilarityOps.rebuildIvfPqIndexFrom(corpus(args(2)), dir, keep)
          println(s"[index] rebuilt and swapped: $dir " +
            s"(now v${IvfPqIndexStore.committedVersion(spark, dir)})")
        }
      case "release-lease" =>
        IvfPqIndexStore.releaseLease(spark, dir)
        println(s"[index] lease released: $dir")
      case "compact-manifest" =>
        // dedup-manifest compaction (the cron-able standalone actuation;
        // the maintenance sink also self-compacts on its epoch bar):
        // unconditional, or through the unfolded-epoch-backlog gate
        if (args.contains("--if-oversized")) {
          val bar = flag("--epochs", 256.0).toInt
          val ran = graft.streaming.DedupManifest.compactIfOversized(
            spark, dir, bar, flag("--keep", 1.0).toInt)
          println(if (ran) s"[manifest] oversized — compacted and swapped: $dir"
                  else s"[manifest] under the $bar-epoch backlog bar — no compaction: $dir")
        } else {
          graft.streaming.DedupManifest.compactManifest(spark, dir,
            flag("--keep", 1.0).toInt)
          println(s"[manifest] compacted and swapped: $dir " +
            s"(now v${IvfPqIndexStore.committedVersion(spark, dir)})")
        }
      case other => sys.error(s"unknown command: $other")
    } finally spark.stop()
  }
}
