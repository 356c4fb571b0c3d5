package graft

import java.io.File

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** 10× dedup-chain scale smoke (r5 verdict #5): generates a synthetic
  * documents corpus 10× the sf0.1 fixture (same columns: doc_id, text,
  * lang, source, n_chars; ~45–60-word docs with planted near-duplicates),
  * runs the near-dup chain (q34/q35/q36/q40) once each at the default 16g
  * heap, and writes `SCALE_SMOKE.json` with wall times and task-duration
  * spread — the bounded-bucket plan-shape arguments are only believable if
  * no task goes an order of magnitude past the median at scale.
  *
  * Straggler metric: `max_task_sec / max(median_task_sec, 0.1)` — the
  * 100 ms floor keeps millisecond scheduling noise on tiny tasks from
  * reading as skew.
  *
  * Adversarial hot-key section (r6 verdict #2): a second corpus plants 20%
  * of all documents on ONE simhash value and ONE boilerplate shingle set
  * (identical text), then re-runs q34/q36/q40. This exercises exactly the
  * degenerate-corpus claims argued from plan shape in DedupOps: q34's
  * df-guard must drop the boilerplate shingles BEFORE the self-join, and
  * q36/q40's hot key must stay row-shaped (streamed join output, AQE skew
  * split) instead of OOMing one task. The hot key's pair OUTPUT is
  * inherently quadratic in the hot-doc count — that is the operator's
  * contract — so the skew corpus is sized down (default 10k docs → 2k hot
  * → ~2M output pairs) to keep the smoke's wall time bounded while still
  * concentrating ~20% of the corpus on single keys.
  */
object ScaleSmoke {

  // q49 (estimator) and q43 (IVF search) joined r9: the two newest scale
  // claims — candidate-bounded estimation and bucketed ANN probing — get a
  // 10× data point like the rest of the chain (their recall/quality floors
  // are pinned at fixed size by DedupOpsSpec/SimilarityOpsSpec)
  // q67/q69 joined late-r9: the two newest operators with JOIN stages
  // (broadcast eval-gram join, vocab-frequency join) — the row-local rest
  // of the r9 additions (q58/q60/q63/q64/q68) have no distribution risk
  // worth a smoke slot
  // q62/q65/q70 joined r10: the two composed-pipeline scale claims that
  // had no 10× data point (r9 verdict #3) and the new bucket-bounded
  // IVF-PQ search (its probe join must stay flat when lists grow 10×)
  // q71 joined late-r10: the window explode is the corpus's token count —
  // the largest shuffle input of any dedup operator — and the planted
  // near-dups (every 33rd doc shares all but its tail token) give it real
  // duplicated windows to find at 10×. q72/q73 are compositions of
  // already-smoked stages (q41-style assign+mean aggs; the q45 chain plus
  // three equi-joins) with no new distribution risk.
  // q74/q75 joined late-r10: q74 is q67's decontamination through the
  // Bloom-prefilter plan (the probe filter's task spread at 10× is the
  // claim); q75's join-back is window-table-sized on BOTH sides — the
  // largest new shuffle of the round. q76 shares q75's explode+dfreq
  // stages with only a top-20 on top, so it gets no separate slot.
  private val smokeQueries = Seq(
    "q34_ngram_jaccard", "q35_minhash_lsh", "q36_simhash",
    "q40_lsh_jaccard_verified", "q45_dedup_clusters",
    "q49_minhash_estimate", "q43_ivf_search", "q66_pq_adc_topk",
    "q67_decontam_flags", "q69_unigram_surprisal",
    "q62_embedding_clusters", "q65_cluster_reps", "q70_ivfpq_topk",
    "q71_window_dedup", "q74_bloom_decontam", "q75_boilerplate_frac",
    "q79_decontam_frac",
    // q86 joined late-r10: its pair stage is an equi-join on the coarse
    // cell, so the 10× embeddings corpus (10 cells × 2k vectors) drives
    // the largest within-cell pair block of the ANN chain — the smoke
    // checks the cell-bounded claim holds when cells grow 10×
    "q86_semdedup",
    // q88/q90 joined r10e: q88's bigram explode is a token-stream-sized
    // shuffle (the q71 class) with a model-table join back; q90's one
    // corpus-scale exchange collects each gram's source SET and generates
    // pairs row-locally — the set-stays-source-bounded claim (an
    // ObjectHashAggregate over a corpus-sized explode) needs a 10× data
    // point. q87/q89 are row-local/linear with no distribution risk worth
    // a slot.
    "q88_bigram_surprisal", "q90_source_overlap",
    // q95 joined r10f: its window-hash candidate self-join is the one new
    // pair stage of the round (q40's discipline applied to containment) —
    // the planted every-33rd near-dups share most windows, so the
    // candidate and verify stages both have real work at 10×. Its skew
    // behavior is q40/q71's (hot window keys, quadratic pair OUTPUT on
    // boilerplate — the documented contract), already covered by
    // skew_q40/skew_q71.
    "q95_containment_verified",
    // q96/q97 joined r11: q96's real-BPE chain explodes the corpus once
    // into (doc, word, tf) and runs the merge loop over DISTINCT words
    // only — the vocab-bounded-compute claim needs a 10× corpus point
    // (vocab grows sublinearly in docs, so wall should too); q97's
    // epoch-1 training is two combiner aggs under a broadcast ≤65,536-row
    // weight table — the model-state-never-corpus-sized claim at 10×
    "q96_bpe_real_tokens", "q97_train_quality",
    // q108 joined r11g: the trigram explode is the largest token-stream
    // shuffle of the LM family (3 words per position vs q88's 2) and the
    // scoring side adds FIVE model-table joins chained off the one tf
    // exchange — the reuse pin (PlanShapeSpec) says the corpus explodes
    // once; the 10× point checks the join chain stays n-gram-vocab-sized
    "q108_trigram_backoff",
    // q112 joined r11g: the delta-driven claim (arrival batch drives all
    // pair work; history contributes only linear fp/band tables) has its
    // stress at 10× where history is 40k docs and the batch 10k — the
    // band join and verify stage must stay batch-bounded
    "q112_delta_dedup",
    // q113 joined r11g: the composed waterfall — its stages are smoked
    // piecewise elsewhere, but the composition (one persisted scan
    // feeding three row-local consumers + the fp shuffle + the broadcast
    // decontam probe) deserves its own end-to-end 10× wall
    "q113_pipeline_waterfall",
    // q119/q120 joined r11i: q119's corpus×probe BNLJ is deliberate (tiny
    // broadcast build side) but its cost is |corpus|×|probes| dots — the
    // stays-corpus-linear-at-fixed-probe-count claim needs a 10× vectors
    // point; q120 rides q96's vocab chain plus a second per-source agg —
    // the vocab-bounded claim re-checked through the report shape (q121
    // shares the same chain with only a broadcast total on top, no slot)
    "q119_semantic_decontam", "q120_tokenizer_fit",
    // q123 joined r11j: the per-cluster prototype rank is a window over
    // corpus/k rows in ONE task (the q103 hot-stratum class — the
    // documented escape is the same quantile prefilter), so the 10×
    // vectors point watches that partition's growth directly. q122 is
    // q70's already-smoked stages plus parquet round-trip IO — no new
    // distribution risk, no slot.
    "q123_prototype_select",
    // q105/q106 joined r12 (the r11 verdict's weak finding): the
    // perceptual-hash band join now carries the 1-Bucket-Theta split —
    // these 10× slots watch the (band, v) bucket stage's task spread the
    // way q44/q62's slots watch the RP-LSH one. The DEGENERATE corpus
    // (every doc one dHash) gets its own gated section below.
    "q105_image_neardup", "q106_audio_neardup",
    // q125 joined r12: the composed MEDIA waterfall (the q113 discipline)
    // — stages are smoked piecewise (q87-shape digest agg, the guarded
    // q105/q106 band join, q45's CC), but the composition's end-to-end
    // 10× wall and task spread deserve their own slot. On the smoke
    // corpus doc_ids run 0..n−1, so exact groups are n/300-sized and the
    // survivor set is exactly 300 docs per kind — the perceptual stage is
    // small by construction; the exact election carries the 10× load.
    "q125_media_waterfall",
    // r13 additions: q127's audit is a linear codes⋈corpus re-score (the
    // cid exchange's task spread at 10× vectors is the claim); q129's
    // exact-truth side is the q37 broadcast-probe class (|q|×corpus
    // row-local dots) feeding a per-query top-k — both also pay the
    // one-time q126 index build on the smoke corpus inside their first
    // wall, which is the honest composed cost. q128 is the full
    // text+media composition — its end-to-end 10× wall rides on q113's
    // and q125's already-smoked stages plus two doc-keyed joins.
    "q127_ivfpq_staleness_audit", "q128_multimodal_verdict",
    "q129_ann_recall_audit",
    // q135 joined r14: the index-served near-dup verdict is the first
    // query whose QUERY side is batch-sized (the whole q126 arriving
    // cohort, 2.5k vectors at 10×) — its probe/LUT tables are
    // |batch|-bounded by design and the broadcast(probeLut) hint must
    // stay sane as the batch grows; the codes side is the already-smoked
    // partition-pruned scan
    "q135_index_neardup_batch",
    // r14 additions: q137's scored stream is corpus×|queries| with TWO
    // linear consumers (deliberately unpersisted — the scaladoc's claim
    // that re-scanning beats caching needs the 10× wall to stay ~2× one
    // q37-class scan, and the rank side must plant its map-side
    // WindowGroupLimit); q138's full-outer manifest join is the round's
    // one new corpus-keyed shuffle (digest projections on both sides, the
    // join's task spread at 10× docs is the claim); q139's claim is the
    // strongest of the three — ZERO corpus-sized shuffle (row-local norm
    // fold + map-side partial agg to ≤ labels×dim rows), so its smoke
    // watches that no stage's task count or spread grows with the corpus
    "q137_hard_negatives", "q138_snapshot_diff", "q139_embedding_health",
    // q143 is q112 with the history side read off the incremental
    // manifest instead of recomputed — its first-run wall pays the
    // one-time manifest init (the q127 honest-composed-cost convention);
    // the claim the slot watches is that the DELTA stages' task spread is
    // q112's (same core) while the history fp/minhash stages are gone
    "q143_manifest_delta_dedup",
    // r15 additions: q144's claim is that scoring work is |matching
    // (query, doc, term) triples| off ONE corpus explode (q48's tf table
    // + a broadcast eval-term join + a map-side WindowGroupLimit — no
    // global sort, nothing corpus×corpus); q145's refine joins the
    // broadcast ADC shortlist against the corpus once — the slot watches
    // that the refine stage stays |queries|·k·overFetch-bounded while
    // the shortlist search rides q122's already-smoked stages
    "q144_bm25_topk", "q145_ivfpq_refined_search",
    // q142's claim is the sort-free first-hit rank: the only Window is
    // the top-10 one (map-side WindowGroupLimit), so no task may hold a
    // corpus-sized per-query sort — the 10× vectors point watches exactly
    // the hot-partition shape the rank-algebra formulation exists to
    // avoid (q141/q140 are the q139 row-local class — no slots)
    "q142_retrieval_quality")

  // q45 on the skew corpus is the distributed-CC stressor: the boilerplate
  // block yields ~2M candidate edges in ONE dense component — far past the
  // adaptive local threshold, so the star iteration itself runs against a
  // hot component
  // q71 on the skew corpus: the 20%-identical boilerplate concentrates
  // every boilerplate window hash on one key with ~2k docs — the window
  // count groupBy and the join back both take a hot key that must stay
  // row-shaped (streamed/AQE-split), the exact q36/q40 discipline
  // q75 on the skew corpus: the 20%-identical boilerplate makes every
  // boilerplate window hash a hot key through BOTH the dfreq groupBy and
  // the join back — and unlike q71 the join keeps all windows, so the hot
  // key's join output is the full 2k-doc × shared-window block
  // q88 on the skew corpus: the 20%-identical boilerplate concentrates
  // every boilerplate bigram on one (w1, w2) key with ~2k docs — the
  // corpus bigram count groupBy takes it as a map-side-combinable
  // partial, and the tf2⋈su join back fans 2k per-doc rows against ONE
  // model row, which must stay row-shaped (the q75 discipline). q90's
  // hot grams are a fixed ~46-window set shared by all sources — a
  // constant-sized fan-out, no slot needed.
  private val skewQueries = Seq(
    "q34_ngram_jaccard", "q36_simhash", "q40_lsh_jaccard_verified",
    "q45_dedup_clusters", "q71_window_dedup", "q75_boilerplate_frac",
    "q88_bigram_surprisal")

  /** Alarm bar for the worst in-stage straggler ratio: a bounded-bucket
    * plan whose max task runs ≥10× its stage median has a hot task, which
    * at 1000 executors is the difference between "done" and "one straggler
    * holds the stage" (README §scale-smoke).
    */
  private val stragglerBar = 10.0

  /** Wall-DOMINANCE bar (r16, the r15 verdict's #1): the straggler metric
    * is within-stage, so a stage that is ONE wave of long tasks — or one
    * task outright — reads clean (a one-task stage is its own median; 32
    * even 55 s tasks on 32 cores have straggler ~1). r15's q135 posted
    * max_task 142.1 s of a 143.95 s wall with straggler 1.53. Under this
    * smoke's forced-split config (1 MB advisory, 1 MB file splits) any
    * stage still holding `max_task/wall > 0.5` on a ≥5 s wall is
    * compute-bound work that size-based scheduling failed to split — the
    * rpLshCandidates blind spot — so the case re-measures like a
    * straggler breach and, when the shape is deterministic, posts
    * `_wall_dominated:1` with its `_dom` ratio so the artifact
    * adjudicates itself. The 5 s floor keeps single-wave SHORT stages
    * (any sub-second query whose one shuffle is a single wave at this
    * corpus size) from flagging: those split fine at scale; the signal
    * is long tasks that stay long.
    */
  private val domBar = 0.5
  private val domWallFloor = 5.0

  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_DOCS", "50000").toInt
    // four reducer waves per core and 1 MB splits (r16, see
    // `Sessions.smoke`): at shuffle.partitions = cores every exchange-fed
    // stage is ONE wave of long tasks, so max_task ≈ wall however even the
    // work is — the shape the dominance gate exists to catch only when it
    // is structural
    val spark = Sessions.start(Sessions.smoke, "graft-scalesmoke")

    val nSkewDocs = sys.env.getOrElse("SPARK_GRAFT_SKEW_DOCS", "10000").toInt

    def ensureTable(dir: File, file: String, n: Int,
        gen: (SparkSession, Int) => org.apache.spark.sql.DataFrame): Unit = {
      val path = new File(dir, file)
      // a partial cached table (interrupted previous run) must regenerate,
      // not crash every subsequent run
      val cachedOk = path.exists() &&
        (try spark.read.parquet(path.getPath).count() == n
         catch { case _: Exception => false })
      if (!cachedOk) {
        dir.mkdirs()
        // write ~500 rows per row group, RANGE-partitioned on the id
        // (r16): a 32-partition write makes 32 fat row groups, and
        // maxPartitionBytes cannot split INSIDE a row group — so every
        // corpus scan was pinned to ONE 32-task wave regardless of the
        // 1 MB split config, and the 50× q113 point posted max_task ≈
        // wall (med = max across all 32 tasks: the even, linear
        // scan+project wave, not a hot task). Real lakes have thousands
        // of row groups; emulate that, as the split config already
        // intends. Range (not round-robin) keeps ids contiguous per row
        // group so min/max stats still prune id-predicate scans (the
        // eval-set `doc_id < 10` subqueries) — a round-robin layout made
        // every such scan touch every group, 62 empty 9 ms tasks beside
        // one 3 s task reading as a 30× in-stage straggler.
        val df = gen(spark, n)
        df.repartitionByRange(math.max(32, n / 500), col(df.columns.head))
          .write.mode("overwrite").parquet(path.getPath)
        System.err.println(s"[scalesmoke] generated $n rows at $path")
      }
    }

    // 10× the sf0.1 embeddings fixture (2,000 vectors), for q43
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_SMOKE_VECS", "20000").toInt

    val dir = new File("/tmp/graft_scale")
    ensureTable(dir, "documents.parquet", nDocs, generate)
    ensureTable(dir, "embeddings.parquet", nVecs, generateEmbeddings)
    val skewDir = new File("/tmp/graft_scale_skew")
    ensureTable(skewDir, "documents.parquet", nSkewDocs, generateSkew)
    // hot-SOURCE corpus (80% of docs in ONE source) for the q57 packing
    // stressor — the skew corpus keeps uniform sources on purpose (its
    // queries stress hot VALUES, not hot partition keys). Sized 10× the
    // main smoke corpus: the stall being measured is ONE task
    // sorting+cumsumming the dominant source, which only becomes visible
    // when that task is seconds, not milliseconds.
    val nHotDocs = sys.env.getOrElse("SPARK_GRAFT_HOTSRC_DOCS", "500000").toInt
    val hotSrcDir = new File("/tmp/graft_scale_hotsrc")
    ensureTable(hotSrcDir, "documents.parquet", nHotDocs, generateHotSource)

    // task-duration listener: collects (stageId, wall) per task — straggler
    // ratios are computed WITHIN a stage (peers doing the same work), so
    // pipeline structure (cheap stages vs expensive stages) doesn't read
    // as skew
    val durations = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long, Long)]())
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        // records processed, from whichever side fed the task — used to
        // EXCLUDE zero-record tasks from the stage median: a parquet file
        // smaller than the split size yields splits with no row group
        // (64 of the hotsrc corpus's 96 scan splits read nothing and
        // finish in ~15 ms), and a straggler ratio of the real tasks
        // against that empty-split median reads as skew when the working
        // tasks are perfectly even
        val m = t.taskMetrics
        val recs =
          (if (m != null) m.inputMetrics.recordsRead else 0L) +
            (if (m != null) m.shuffleReadMetrics.recordsRead else 0L)
        durations.add((t.stageId, t.taskInfo.duration, recs))
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        // the callsite name is a useless lambda in local mode — the RDD
        // operation scopes (Exchange / WholeStageCodegen(n) / ...) are
        // what actually identify a stage's role in the plan
        val scopes = s.stageInfo.rddInfos
          .flatMap(r => r.scope.map(_.name)).distinct.mkString("+")
        stageNames.put(s.stageInfo.stageId,
          if (scopes.nonEmpty) scopes
          else s.stageInfo.name.takeWhile(_ != '\n'))
      }
    })

    // JVM warm-up before anything is timed (r16, the Bench warm-run
    // convention applied to the smoke): the session's FIRST measured case
    // used to carry the whole-stage-codegen compile + JIT storm of a
    // fresh JVM plus the corpus-generation aftermath (q34 posted 192 s in
    // one window vs 14.5 s isolated), and the first parallel calibration
    // probe carried its own loop's JIT (1.04 s vs the ~0.45 steady state)
    // — which then seeded the ratcheting contention reference high enough
    // that the first case could never flag. One throwaway probe pair and
    // one untimed corpus pass absorb both constants.
    Bench.calibrate(): Unit
    Bench.calibratePar(): Unit
    try {
      spark.read.parquet(new File(dir, "documents.parquet").getPath)
        .selectExpr("sum(length(text))").collect(): Unit
      spark.read.parquet(new File(dir, "embeddings.parquet").getPath)
        .selectExpr("sum(size(embedding))").collect(): Unit
    } catch { case _: Exception => () }
    // settle the corpus-generation garbage before the first timed case —
    // the GC guard retries a thrashed window, but starting clean is free
    System.gc()
    // same fixed-cost single-threaded probe as Bench: a contended smoke
    // window (host-level, invisible from inside the VM) inflates it, so
    // the artifact carries its own contention evidence instead of needing
    // a manual isolated re-run to adjudicate (the recurring r7–r9 pattern)
    val calPre = Bench.calibrate()
    // the parallel probe is the one that matters here: today's observed
    // failure mode is host CPU oversubscription that leaves one thread at
    // full speed while 32-wide stage throughput drops 3–4×
    val calParPre = Bench.calibratePar()
    val out = new StringBuilder
    out.append(s"""{"docs":$nDocs,"vecs":$nVecs,"skew_docs":$nSkewDocs,"hotsrc_docs":$nHotDocs,"cpus":${Sessions.cores}""")
    out.append(f""","calibration_pre_sec":$calPre%.3f,"calibration_par_pre_sec":$calParPre%.3f""")
    var worstStraggler = 0.0

    case class Measure(wall: Double, rows: Long, nTasks: Int, maxT: Double,
        straggler: Double, slowStages: String, gcFrac: Double = 0.0)

    // total stop-the-world GC milliseconds so far, summed over collectors —
    // the delta across a measured window, divided by the wall, is the
    // GC-thrash guard's input (r16): a heap-pressured window inflates
    // every Spark task near-uniformly (allocation stalls) while the
    // allocation-free calibration spin loop barely notices, so neither
    // the straggler, dominance, nor contention bars can see it. One such
    // window posted the 10× q62 at 229.7 s (vs 34–44 s in a fresh JVM on
    // the same corpus, same plan) with every bar green.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }

    def measureOnce(corpusDir: File,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Measure = {
      spark.catalog.clearCache()
      durations.clear()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val res = fn(spark, corpusDir.getPath)
      val rows = res.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val gcFrac = (gcMillis() - gc0) / 1e3 / math.max(wall, 1e-3)
      // caller-owns-cache contract; outside the timed window so *_sec stays
      // comparable with prior-round artifacts (query time, not teardown)
      res.unpersist(blocking = true)
      // drain listener events before reading durations (the bus is async
      // and private; settle-poll instead)
      var last = -1
      while (durations.size() != last) { last = durations.size(); Thread.sleep(300) }
      val all = durations.toArray(new Array[(Int, Long, Long)](0))
      val byStage = all.groupBy(_._1).view
        .mapValues { ts =>
          // median over WORKING tasks only (see the listener comment); a
          // stage where every task read zero records keeps them all
          val working = ts.filter(_._3 > 0)
          val use = if (working.nonEmpty) working else ts
          (ts.length, use.map(_._2.toDouble / 1000).sorted)
        }.toSeq
      val nTasks = byStage.map(_._2._1).sum
      val maxT = byStage.map(_._2._2.last).max
      // per-stage straggler: max vs its own stage's median (≥100 ms floor —
      // millisecond scheduling noise is not skew)
      val straggler = byStage
        .map { case (_, (_, ds)) => ds.last / math.max(ds(ds.length / 2), 0.1) }.max
      val slowStages = byStage.sortBy(-_._2._2.last).take(3)
        .map { case (sid, (n, ds)) =>
          val nm = Option(stageNames.get(sid)).getOrElse("?")
          f"[$nm n=$n working=${ds.length} max=${ds.last}%.2f med=${ds(ds.length / 2)}%.3f]"
        }.mkString(" ")
      Measure(wall, rows, nTasks, maxT, straggler, slowStages, gcFrac)
    }

    val walls = scala.collection.mutable.Map[String, Double]()

    // Contention-guarded windows (r15): the straggler bar is WITHIN-stage,
    // so host-level CPU oversubscription that slows every task uniformly
    // sails through it — this round's first 50× q143 point read a ×14.19
    // "growth" (exponent 1.65) in a window whose parallel calibration ran
    // 0.657→0.955 vs the 0.43 clean constant, while a contention-insulated
    // re-measure of the same code read ×1.71 (exponent 0.33, linear-at-
    // worst, candidate counts exactly ×5). Every case now brackets its
    // measurement with the all-core probe and re-measures (≤3 attempts,
    // fastest wall kept — contention only inflates) when either probe
    // exceeds 1.5× the session's best; a window still contended after
    // retries is recorded `_contended:1` so the artifact adjudicates
    // itself instead of posting a contention artifact as a growth exponent
    // (the BENCH_r14 lesson, applied to the smoke).
    var bestCalPar = calParPre
    def measureGuarded(corpusDir: File,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Measure, Boolean) = {
      val pre = Bench.calibratePar()
      bestCalPar = math.min(bestCalPar, pre)
      val m = measureOnce(corpusDir, fn)
      val post = Bench.calibratePar()
      bestCalPar = math.min(bestCalPar, post)
      // BOTH brackets must breach (r16): external host contention is
      // sustained — it elevates the pre AND post probes — while the JVM's
      // own post-query tail (shuffle cleanup, GC of the case's garbage)
      // elevates only the post probe. The r16 warm-up fix exposed the
      // either-breach version as oversensitive: the session best now comes
      // from the pristine pre-suite moment, so mid-suite probes carrying
      // ~0.2 s of steady background churn breached 1.5× on nearly every
      // case, retried 3×, and stamped the whole artifact [CONTENDED] on a
      // host with nothing else running.
      (m, pre > 1.5 * bestCalPar && post > 1.5 * bestCalPar)
    }

    def runCase(q: String, corpusDir: File, prefix: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        gated: Boolean = true): Unit = {
      // breach-triggered retry (≤3 attempts): a REAL hot task — one bucket
      // doing orders of magnitude more work than its stage peers — is
      // deterministic and reproduces on every attempt, so retrying never
      // launders actual plan skew past the bar (straggler term, gated
      // cases only); a contended or one-off-paused window is the
      // non-reproducing case retries exist to separate (contention term,
      // every case). The kept window prefers bar-clean, then fastest.
      var best = measureGuarded(corpusDir, fn)
      var attempts = 1
      def dom(m: Measure): Double = if (m.wall > 0) m.maxT / m.wall else 0.0
      def domBreach(m: Measure): Boolean =
        m.wall >= domWallFloor && dom(m) > domBar
      // GC-thrash guard (r16): >30% of the wall in stop-the-world GC is a
      // heap-state artifact of THIS JVM's history, not the operator —
      // retry (a post-full-GC re-run measures the settled heap), and
      // record the fraction so a window that stays thrashed adjudicates
      // itself in the artifact.
      def gcBreach(m: Measure): Boolean = m.wall >= 2.0 && m.gcFrac > 0.30
      def breached(x: (Measure, Boolean)): Boolean =
        (gated && (x._1.straggler >= stragglerBar || domBreach(x._1) ||
          gcBreach(x._1))) || x._2
      while (breached(best) && attempts < 3) {
        System.err.println(
          f"[scalesmoke] $prefix$q: attempt $attempts breached " +
            f"(straggler ${best._1.straggler}%.2f, dom ${dom(best._1)}%.2f, " +
            f"contended=${best._2}) — retrying")
        val cand = measureGuarded(corpusDir, fn)
        best = Seq(best, cand).minBy(x => (breached(x), x._1.wall))
        attempts += 1
      }
      val (m, contended) = best
      if (gated) worstStraggler = math.max(worstStraggler, m.straggler)
      val wallDominated = gated && domBreach(m)
      val gcThrashed = gated && gcBreach(m)
      System.err.println(
        f"[scalesmoke] $prefix$q: ${m.wall}%.2f s, ${m.rows} rows, ${m.nTasks} tasks, " +
          f"max task ${m.maxT}%.3f s, worst in-stage straggler ${m.straggler}%.2f, " +
          f"dom ${dom(m)}%.2f, gc ${m.gcFrac}%.2f" +
          (if (attempts > 1) s" (attempt $attempts)" else "") +
          (if (contended) " [CONTENDED]" else "") +
          (if (wallDominated) " [WALL-DOMINATED]" else "") +
          (if (gcThrashed) " [GC-THRASHED]" else "") +
          s"; slowest stages ${m.slowStages}")
      out.append(f""","$prefix${q}_sec":${m.wall}%.2f,"$prefix${q}_rows":${m.rows}""")
      out.append(f""","$prefix${q}_tasks":${m.nTasks},"$prefix${q}_max_task_sec":${m.maxT}%.3f""")
      out.append(f""","$prefix${q}_straggler":${m.straggler}%.2f""")
      out.append(f""","$prefix${q}_dom":${dom(m)}%.2f""")
      if (attempts > 1) out.append(s""","$prefix${q}_attempts":$attempts""")
      if (contended) out.append(s""","$prefix${q}_contended":1""")
      if (wallDominated) out.append(s""","$prefix${q}_wall_dominated":1""")
      if (gcThrashed) out.append(f""","$prefix${q}_gc_thrashed":${m.gcFrac}%.2f""")
      walls(prefix + q) = m.wall
    }

    def runQuery(q: String, corpusDir: File, prefix: String): Unit =
      runCase(q, corpusDir, prefix, SparkEntry.queries(q))

    val selected = if (args.nonEmpty) smokeQueries.filter(args.contains) else smokeQueries
    for (q <- selected) runQuery(q, dir, "")
    val selectedSkew = if (args.nonEmpty) skewQueries.filter(args.contains) else skewQueries
    for (q <- selectedSkew) runQuery(q, skewDir, "skew_")

    // q62 growth exponent (r10 verdict #6; restructured r16 when the AUTO
    // band width became the registered default — the r15 verdict's #4):
    // the heaviest 10× smoke entry (composed RP-LSH verify + CC) gets a
    // 20× embeddings point. The REGISTERED query now self-selects b
    // (8 at 10×, 9 at 20× — the auto_b gate below), so its 10×→20× growth
    // is the knob's own scaling story (sub-quadratic; the r15 window
    // measured auto 65.8 s vs fixed-b 158–258 s). The FIXED-b8 run is the
    // diagnostic: per-band candidates grow ~n²/2^b, so fixed-width growth
    // IS quadratic (the pair-mass gate pins ×4.00), and documenting that
    // is the finding (the q57 unsharded discipline) — deliberately not
    // growth-gated. At 100 TB you size b to log2(corpus/target-bucket),
    // which is what the auto default now does for you.
    if (args.isEmpty || args.contains("q62_embedding_clusters")) {
      val dir20 = new File("/tmp/graft_scale_vecs20x")
      ensureTable(dir20, "embeddings.parquet", nVecs * 2, generateEmbeddings)
      runQuery("q62_embedding_clusters", dir20, "vecs20x_")
      for (w10 <- walls.get("q62_embedding_clusters");
           w20 <- walls.get("vecs20x_q62_embedding_clusters")) {
        val growth = w20 / w10
        out.append(f""","vecs20x_q62_growth":$growth%.2f""")
        System.err.println(f"[scalesmoke] q62 (auto b) 10x->20x growth: $growth%.2f " +
          "(diagnostic; the +1-bit knob should hold this ~2x on a calm window)")
      }
      runCase("q62_clusters_b8fixed", dir20, "vecs20x_",
        (s, p) => operators.GraphOps.embeddingClustersAt(s, p, L = 6, b = 8))
      for (w10 <- walls.get("q62_embedding_clusters");
           w20 <- walls.get("vecs20x_q62_clusters_b8fixed")) {
        val growth = w20 / w10
        out.append(f""","vecs20x_q62_b8fixed_growth":$growth%.2f""")
        System.err.println(f"[scalesmoke] q62 10x->20x growth at fixed b=8: $growth%.2f " +
          "(diagnostic; quadratic by design at fixed width — the auto default's counterfactual)")
      }
      // q70 rides the same 20x corpus (r11): the r10 verdict noted its 10x
      // cost is index-build-dominated (codebook + codes) with a flat
      // query side — the 20x point quantifies that: build work is linear
      // in vectors, so the wall should grow ~2x, not the probe side's
      // output-bounded constant. Straggler-gated only (the shared bar).
      runQuery("q70_ivfpq_topk", dir20, "vecs20x_")
      for (w10 <- walls.get("q70_ivfpq_topk");
           w20 <- walls.get("vecs20x_q70_ivfpq_topk")) {
        out.append(f""","vecs20x_q70_growth":${w20 / w10}%.2f""")
        System.err.println(f"[scalesmoke] q70 10x->20x growth: ${w20 / w10}%.2f (diagnostic; linear index build expected ~2x)")
      }
      // wall ratio of the two 20x runs — DIAGNOSTIC only as of the r11
      // blocked bucket join. History: the r11 gate required the knobbed
      // run to beat fixed-b by >=25% on the same data in the same window
      // (with breach-triggered b9 re-measure after one contended window
      // read 0.76 vs the 0.75 bar). The blocked join then leveled the
      // fixed-b schedule (no AQE starve, no hot-bucket wall) and clean
      // windows started reading 0.74 — the gate was one contention blip
      // from flaking EITHER way, because the wall ratio never measured
      // the knob directly: this corpus's candidate mass is ~87%
      // within-cluster TRUE near-dup pairs (cos≈0.9 keeps colliding with
      // p≈1−θ/π≈0.86 per extra bit), which the knob must not and cannot
      // shrink. The hard gates below measure the knob on the quantity it
      // actually controls, with zero machine-noise term.
      for (wFixed <- walls.get("vecs20x_q62_clusters_b8fixed");
           wKnob <- walls.get("vecs20x_q62_embedding_clusters")) {
        val ratio = wKnob / wFixed
        out.append(f""","vecs20x_q62_auto_vs_fixed":$ratio%.2f""")
        System.err.println(f"[scalesmoke] q62 20x auto (b=9) vs fixed b=8 wall ratio: $ratio%.2f (diagnostic)")
      }

      // DETERMINISTIC band-width-knob gates (r11e): the RP-LSH pair MASS
      // Σ_buckets k·(k−1)/2 is the exact pre-distinct row count the
      // bucket pair join generates — the operator's true scale cost —
      // and with md5-derived hyperplanes it is a pure function of
      // (corpus, L, b): no wall-clock term, no retries, costs one linear
      // aggregation per probe (rpLshSigsAt + groupBy — never quadratic).
      def pairMass(d: File, b: Int): Long =
        operators.SimilarityOps.rpLshSigsAt(spark, d.getPath, 6, b)
          .groupBy("band", "sig").count()
          .agg(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L)))
          .collect()(0).getLong(0)
      // Gate 1 — the PREMISE: at fixed b, mass grows quadratically with
      // the corpus (bucket count fixed → occupancy ∝ n → mass ∝ n²).
      // Measured 4.00x at 10x→20x; brackets guard the generator and the
      // geometry against silent drift that would invalidate the story.
      val m10 = pairMass(dir, 8)
      val m20 = pairMass(dir20, 8)
      val g = m20.toDouble / m10
      out.append(s""","q62_pair_mass_10x_b8":$m10,"q62_pair_mass_20x_b8":$m20""")
      out.append(f""","q62_pair_mass_growth_b8":$g%.2f""")
      System.err.println(f"[scalesmoke] q62 pair mass 10x->20x at fixed b=8: $g%.2f (gate: 3.3-4.7)")
      require(g >= 3.3 && g <= 4.7,
        f"fixed-b pair mass grew $g%.2f x at 2x corpus — the quadratic premise " +
          "behind the band-width knob no longer holds on this corpus")
      // Gate 2 — the KNOB: +1 bit halves the RANDOM-collision mass. On
      // the clustered corpus the measured b9/b8 ratio is 0.86 — ~87% of
      // its mass is within-cluster true-near-dup pairs the knob cannot
      // touch — so the halving claim is pinned where it applies: a
      // noise-only corpus (same generator minus the cluster term) whose
      // mass is ALL background. Measured 0.528 vs the theoretical 0.5
      // (survivorship skews retention slightly above p̄ per bit); 0.6
      // bar leaves margin for geometry tweaks while still failing any
      // change that breaks the knob's mechanism.
      val m20b9 = pairMass(dir20, 9)
      out.append(s""","q62_pair_mass_20x_b9":$m20b9""")
      System.err.println(f"[scalesmoke] q62 20x pair mass b9/b8: ${m20b9.toDouble / m20}%.3f " +
        "(diagnostic: cluster-dominated, see noise gate)")
      val noiseDir = new File("/tmp/graft_scale_noise")
      ensureTable(noiseDir, "embeddings.parquet", nVecs * 2, generateNoiseEmbeddings)
      val nm8 = pairMass(noiseDir, 8)
      val nm9 = pairMass(noiseDir, 9)
      val nr = nm9.toDouble / math.max(nm8, 1L)
      out.append(s""","noise_pair_mass_b8":$nm8,"noise_pair_mass_b9":$nm9""")
      out.append(f""","noise_pair_mass_b9_ratio":$nr%.3f""")
      System.err.println(f"[scalesmoke] noise-corpus pair mass b9/b8: $nr%.3f (gate: <=0.6)")
      require(nr <= 0.6,
        f"+1 sign bit cut background pair mass to only $nr%.3f x (theory ~0.5, " +
          "measured 0.528) — the band-width knob's mechanism is broken")

      // AUTO band width (r12, closing the r11 "still a MANUAL knob"
      // finding): b now self-selects from the corpus's measured bit
      // marginals (SimilarityOps.autoBandBits — background-mass model
      // B̂(b)/n vs the 768/vec budget, recall-floor-capped). The HARD
      // gate: with NO env knob, the 10× corpus must pick the
      // oracle-adjudicated b=8 and the 20× corpus b=9 — the +1 bit per
      // corpus doubling the wall/mass gates above justify. Deterministic
      // (md5 hyperplanes, exact integer marginals), so no retry logic.
      // Measured B̂/n at selection time: 10× 403 (≤768 → stay), 20× 806
      // (>768 → widen) → 426 (≤768 → stop); the model's noise-corpus
      // prediction (469/vec) sits within 15% of that corpus's MEASURED
      // true mass (551/vec) — the independent-bits premise holds where
      // all mass is background.
      val bAuto10 = operators.SimilarityOps.autoBandBitsAt(spark, dir.getPath, 6)
      val bAuto20 = operators.SimilarityOps.autoBandBitsAt(spark, dir20.getPath, 6)
      out.append(s""","auto_b_10x":$bAuto10,"auto_b_20x":$bAuto20""")
      System.err.println(s"[scalesmoke] auto band width: 10x=$bAuto10, 20x=$bAuto20 " +
        "(gate: 8 and 9 — +1 bit per corpus doubling, self-selected)")
      require(bAuto10 == 8 && bAuto20 == 9,
        s"auto band width picked ($bAuto10, $bAuto20) instead of (8, 9) — " +
          "the measured-marginal background model drifted from the smoke corpora")
      // (the auto-geometry 20× wall is the REGISTERED q62 run above —
      // since r16 the default IS the auto path, so it needs no extra slot)
    }

    // q35 auto band GEOMETRY (r13, verdict #8 — the MinHash sibling of the
    // RP-LSH width knob above): lshGeometryAuto measures the corpus's
    // near-dup similarity by lane agreement (ĵ) and picks the most
    // precise (bands × rows) factorization of the 8-lane budget whose
    // S-curve capture at ĵ clears the 0.9 recall floor. HARD gate on the
    // 10× planted corpus: the ~0.9-Jaccard planted neighbors must
    // register (ĵ ≥ 0.8) and the pick must satisfy its own feasibility
    // rule — capture(chosen) ≥ 0.9 with every MORE precise factorization
    // infeasible. Deterministic (md5 lanes, integer agreement counts), so
    // no retry logic; PairPlanSpec pins plan equality with the manual
    // setting at fixed size.
    if (args.isEmpty || args.contains("q35_minhash_lsh")) {
      val docs10 = spark.read.parquet(new File(dir, "documents.parquet").getPath)
      val g = operators.DedupOps.lshGeometryAuto(docs10)
      out.append(s""","auto_lsh_bands":${g.bands},"auto_lsh_rows":${g.rows},"auto_lsh_jhat":${g.jhat}""")
      System.err.println(f"[scalesmoke] auto LSH geometry: ${g.bands}x${g.rows} at jhat=${g.jhat}%.4f")
      def capture(b: Int, r: Int) = 1.0 - math.pow(1.0 - math.pow(g.jhat, r), b)
      def thr(b: Int, r: Int) = math.pow(1.0 / b, 1.0 / r)
      require(g.jhat >= 0.8, s"planted ~0.9-Jaccard neighbors did not register: $g")
      require(capture(g.bands, g.rows) >= 0.9,
        s"auto pick $g misses its own recall floor")
      require((1 to 8).filter(8 % _ == 0).forall(b =>
        thr(b, 8 / b) <= thr(g.bands, g.rows) || capture(b, 8 / b) < 0.9),
        s"a more precise feasible factorization was skipped: $g")
    }

    // q88 growth exponent (r11 close-out #4): the heaviest remaining 10×
    // smoke entry after q62. Its two corpus-scale stages are both LINEAR —
    // the bigram explode is the token stream, and the model tables chain
    // off one exchange whose key space (distinct bigrams) grows
    // sublinearly — so doubling the corpus should ≈double the wall, unlike
    // q62's fixed-geometry quadratic. Diagnostic-only ratio (the q70
    // discipline: the 10× denominator swings with machine state);
    // straggler-gated through the shared bar.
    if (args.isEmpty || args.contains("q88_bigram_surprisal")) {
      val docs20 = new File("/tmp/graft_scale_docs20x")
      ensureTable(docs20, "documents.parquet", nDocs * 2, generate)
      runQuery("q88_bigram_surprisal", docs20, "docs20x_")
      for (w10 <- walls.get("q88_bigram_surprisal");
           w20 <- walls.get("docs20x_q88_bigram_surprisal")) {
        out.append(f""","docs20x_q88_growth":${w20 / w10}%.2f""")
        System.err.println(f"[scalesmoke] q88 10x->20x growth: ${w20 / w10}%.2f " +
          "(diagnostic; linear explode + sublinear model tables expected ~2x)")
      }
    }

    // q108 growth exponent (r11g, the q88 discipline): same linear-explode
    // + sublinear-model-tables shape one n-gram order up, plus the
    // held-out split — the model side only aggregates HALF the corpus, so
    // growth should track q88's ≈2× with a smaller model constant.
    // Diagnostic ratio, straggler-gated through the shared bar.
    if (args.isEmpty || args.contains("q108_trigram_backoff")) {
      val docs20 = new File("/tmp/graft_scale_docs20x")
      ensureTable(docs20, "documents.parquet", nDocs * 2, generate)
      runQuery("q108_trigram_backoff", docs20, "docs20x_")
      for (w10 <- walls.get("q108_trigram_backoff");
           w20 <- walls.get("docs20x_q108_trigram_backoff")) {
        out.append(f""","docs20x_q108_growth":${w20 / w10}%.2f""")
        System.err.println(f"[scalesmoke] q108 10x->20x growth: ${w20 / w10}%.2f " +
          "(diagnostic; linear explode + sublinear half-corpus model expected ~2x)")
      }
    }

    // q112 20× (r13 verdict #8): delta dedup is the daily-dump workhorse
    // and had only a 10× point. At 20× history is ~80k docs and the
    // arrival batch ~20k — the band join and the verify stage must stay
    // batch-bounded (gated through the shared straggler bar). The second
    // run exercises the r13 BROADCAST GUARD's degrade path AT SIZE: a
    // 1-id bar forces the candidate-id join onto the shuffle plan, which
    // must (a) hold the same straggler bar and (b) return the identical
    // result set — the pure-re-plan contract DeltaDedupSpec pins at unit
    // scale, re-checked here where the exchange actually carries data.
    if (args.isEmpty || args.contains("q112_delta_dedup")) {
      val docs20 = new File("/tmp/graft_scale_docs20x")
      ensureTable(docs20, "documents.parquet", nDocs * 2, generate)
      runQuery("q112_delta_dedup", docs20, "docs20x_")
      for (w10 <- walls.get("q112_delta_dedup");
           w20 <- walls.get("docs20x_q112_delta_dedup")) {
        out.append(f""","docs20x_q112_growth":${w20 / w10}%.2f""")
        System.err.println(f"[scalesmoke] q112 10x->20x growth: ${w20 / w10}%.2f " +
          "(diagnostic; linear fp/band tables + batch-bounded pair work expected ~2x)")
      }
      runCase("q112_delta_dedup_degraded", docs20, "docs20x_",
        (s, p) => operators.DedupOps.deltaDedupFrom(
          graft.util.Tables.documents(s, p), maxBroadcastIds = 1L))
      // pure-re-plan check at size: an order-independent xor of per-row
      // hashes over the FULL disposition rows (row COUNT is one-per-arrival
      // by construction and would prove nothing). Untimed — correctness
      // evidence, not a wall measurement.
      def q112Hash(bar: Long): Long = {
        val df = operators.DedupOps.deltaDedupFrom(
          graft.util.Tables.documents(spark, docs20.getPath), maxBroadcastIds = bar)
        val h = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(coalesce(expr("bit_xor(h)"), lit(0L))).collect()(0).getLong(0)
        df.unpersist(blocking = false)
        h
      }
      val degradeEqual = q112Hash(Long.MaxValue) == q112Hash(1L)
      out.append(s""","docs20x_q112_degrade_rows_equal":${if (degradeEqual) 1 else 0}""")
      System.err.println(if (degradeEqual)
        "[scalesmoke] q112 degraded shuffle plan returned the identical disposition set"
      else "[scalesmoke] q112 degrade RESULT MISMATCH between broadcast and shuffle plans")
    }

    // 50× composed-pipeline tier (r15, the r14 verdict's #4): the brief
    // grades for 100× scale but composed evidence stopped at 20× on
    // COMPONENT operators — the composed q113/q143 paths had only 10×
    // points. The text waterfall and the manifest-served delta dedup get
    // 50× corpora (250k docs) under the shared straggler bar, with growth
    // EXPONENTS recorded (wall ∝ n^e, e = log(w50/w10)/log 5: 1.0 is
    // linear, the composed claim; sub-linear means the smaller point was
    // constant-dominated). Heap note: the 50× corpus is ~125 MB of
    // parquet — far inside this JVM; the binding constraint at a real
    // 100× is executor count, which is exactly what the straggler bar
    // proxies.
    if (args.isEmpty || args.contains("q113_pipeline_waterfall")) {
      val docs50 = new File("/tmp/graft_scale_docs50x")
      ensureTable(docs50, "documents.parquet", nDocs * 5, generate)
      runQuery("q113_pipeline_waterfall", docs50, "docs50x_")
      for (w10 <- walls.get("q113_pipeline_waterfall");
           w50 <- walls.get("docs50x_q113_pipeline_waterfall")) {
        val e = math.log(w50 / w10) / math.log(5.0)
        out.append(f""","docs50x_q113_growth":${w50 / w10}%.2f,"docs50x_q113_exponent":$e%.2f""")
        System.err.println(f"[scalesmoke] q113 10x->50x growth: ${w50 / w10}%.2f " +
          f"(exponent $e%.2f; composed linear waterfall expected ~1.0)")
      }
    }

    // q143's 50× point measures the SERVE path — the production claim is
    // per-dump cost ∝ |batch|, with the one-time manifest init amortized
    // across every dump it serves. The JVM memo pays that init on the
    // first invocation per corpus, so each corpus is warmed once untimed
    // and the timed points at BOTH ends are clean serves (the Bench
    // warm-run convention; without it the exponent would mix a linear
    // init into one end only and read as whatever the mix happens to be).
    // Adjudicated r15: candidate counts scale exactly ×5 (302→1514) and a
    // contention-insulated local[4] pair reads growth ×1.71 / exponent
    // 0.33 — a ×14.19 first reading was a host-contended window, which is
    // what the measureGuarded bracket above now catches in-artifact.
    if (args.isEmpty || args.contains("q143_manifest_delta_dedup")) {
      val docs50 = new File("/tmp/graft_scale_docs50x")
      ensureTable(docs50, "documents.parquet", nDocs * 5, generate)
      val q143fn = SparkEntry.queries("q143_manifest_delta_dedup")
      def warm(p: File): Unit = {
        val df = q143fn(spark, p.getPath)
        df.count(): Unit
        df.unpersist(blocking = true): Unit
      }
      warm(dir)
      runCase("q143_serve", dir, "docs10x_", q143fn)
      warm(docs50)
      runCase("q143_serve", docs50, "docs50x_", q143fn)
      for (w10 <- walls.get("docs10x_q143_serve");
           w50 <- walls.get("docs50x_q143_serve")) {
        val e = math.log(w50 / w10) / math.log(5.0)
        out.append(f""","docs50x_q143_growth":${w50 / w10}%.2f,"docs50x_q143_exponent":$e%.2f""")
        System.err.println(f"[scalesmoke] q143 serve 10x->50x growth: ${w50 / w10}%.2f " +
          f"(exponent $e%.2f; batch-driven pair work over a manifest-read " +
          "history — both sides scale with the corpus here, so ~linear expected)")
      }
    }

    // q135 20× (r14): index-served near-dup cost is |batch| × probed-cell
    // size. The fixture corpus doubles BOTH (cells are the 10 fixed
    // labels), so fixed-geometry growth is ~4× — quadratic BY DESIGN at
    // fixed cell count, the q62 fixed-b discipline: documenting it is the
    // finding. The production escape (indexNearDupBatch's scaladoc):
    // k_cells grows with the corpus so probed-cell size stays constant
    // and the search stays linear in |batch|. Diagnostic ratio,
    // straggler-gated through the shared bar; the 20× wall also pays the
    // one-time q126 index build on this corpus (the q127 convention — the
    // honest composed first-run cost).
    if (args.isEmpty || args.contains("q135_index_neardup_batch")) {
      val dir20 = new File("/tmp/graft_scale_vecs20x")
      ensureTable(dir20, "embeddings.parquet", nVecs * 2, generateEmbeddings)
      runQuery("q135_index_neardup_batch", dir20, "vecs20x_")
      for (w10 <- walls.get("q135_index_neardup_batch");
           w20 <- walls.get("vecs20x_q135_index_neardup_batch")) {
        out.append(f""","vecs20x_q135_growth":${w20 / w10}%.2f""")
        System.err.println(f"[scalesmoke] q135 10x->20x growth: ${w20 / w10}%.2f " +
          "(diagnostic; |batch| x cell-size both double at fixed cell count " +
          "-> ~4x expected; production sizes k_cells to the corpus)")
      }
    }

    // q57 hot-source section (r9 verdict #4): 80% of the corpus in ONE
    // source makes the per-source window cumsum a single task. The
    // UNSHARDED run is the diagnostic — its straggler documents the stall
    // and is deliberately NOT gated (stalling there is the finding, and
    // at 100 TB it is why the knob exists). The SHARDED run (shards=32,
    // matching the core count the way a cluster matches its parallelism)
    // is the scale path and IS gated: composing the key must bring the
    // worst straggler back under the bar.
    if (args.isEmpty || args.contains("q57_pack_sequences")) {
      // the smoke's count() action would let Catalyst PRUNE an unused
      // window entirely (bin_id feeds nothing) — filter on bin_id
      // (always true, cardinality unchanged) so the measured plan is the
      // packing, not a bare scan-count
      def packed(shards: Int)(s: SparkSession, p: String) =
        operators.StatsOps.packSequences(graft.util.Tables.documents(s, p),
          shards = shards).filter(col("bin_id") >= 0L)
      runCase("q57_pack_sequences", hotSrcDir, "hotsrc_", packed(1), gated = false)
      runCase("q57_pack_sharded", hotSrcDir, "hotsrc_", packed(32))
    }

    // q83 hot-source section (same discipline as q57, whose window shape
    // it shares): budget selection ranks within source, so the dominant
    // source's cumsum is one sort partition — unsharded diagnostic run
    // ungated, sharded (budget split across 32 hash shards) gated. The
    // budget scales with the corpus (10% of ~50 tokens/doc) so the
    // selection boundary genuinely binds in the hot source.
    if (args.isEmpty || args.contains("q83_token_budget")) {
      val hotBudget = nHotDocs * 5L
      def sel(shards: Int)(s: SparkSession, p: String) =
        operators.StatsOps.tokenBudgetSelect(graft.util.Tables.documents(s, p),
          budget = hotBudget, shards = shards)
      runCase("q83_token_budget", hotSrcDir, "hotsrc_", sel(1), gated = false)
      runCase("q83_select_sharded", hotSrcDir, "hotsrc_", sel(32))
    }

    // q78 hot-source section (same discipline as q57): the exact tertile
    // split ranks within source, so 80% of the corpus in ONE source makes
    // that rank window a single sort partition — the UNSHARDED diagnostic
    // run documents it ungated; the approx-cutoff formulation (the 100 TB
    // path: percentile_approx partials + broadcast cutoffs, no per-source
    // sort) is gated.
    if (args.isEmpty || args.contains("q78_surprisal_split")) {
      runCase("q78_surprisal_split", hotSrcDir, "hotsrc_",
        (s, p) => operators.TextOps.surprisalSplit(graft.util.Tables.documents(s, p)),
        gated = false)
      runCase("q78_split_approx", hotSrcDir, "hotsrc_",
        (s, p) => operators.TextOps.surprisalSplitApprox(graft.util.Tables.documents(s, p)))
    }

    // q105/q106 degenerate-media section (r12, the r11 weak finding): a
    // corpus whose doc_ids are all ≡ 0 (mod 300) synthesizes ONE dHash
    // and ONE audio contour for every document — solid-color-thumbnail /
    // silence-padded-audio in miniature — so all 4 bands collide on one
    // (band, v) value. Pair OUTPUT is inherently n(n−1)/2 (the operator's
    // contract), so the corpus is sized like the skew one (2k docs → ~2M
    // pairs); the GATED claim is that the 1-Bucket-Theta split spreads
    // that one bucket's pair generation across B(B+1)/2 chunks instead of
    // ONE task — exactly the q44 device, now under the shared straggler
    // bar on its own worst case.
    if (args.isEmpty || args.contains("q105_image_neardup")
        || args.contains("q106_audio_neardup")) {
      val nDegen = sys.env.getOrElse("SPARK_GRAFT_DEGEN_DOCS", "2000").toInt
      val degenDir = new File("/tmp/graft_scale_degen_media")
      ensureTable(degenDir, "documents.parquet", nDegen, generateDegenerateMedia)
      if (args.isEmpty || args.contains("q105_image_neardup"))
        runQuery("q105_image_neardup", degenDir, "degen_")
      if (args.isEmpty || args.contains("q106_audio_neardup"))
        runQuery("q106_audio_neardup", degenDir, "degen_")
    }

    // q103 hot-stratum section (r11f, same discipline as q57/q78/q83):
    // the exact k-per-stratum sample sorts each stratum in ONE window
    // task, so the 80%-one-source corpus concentrates 400k rows in a
    // single sort — unsharded diagnostic run ungated; the PREFILTERED
    // path (hash threshold at ~4× the expected k-th order statistic +
    // unconditional full-stratum fallback — StatsOpsSpec pins set
    // equality) is the 100 TB path and IS gated.
    if (args.isEmpty || args.contains("q103_stratum_topk")) {
      runCase("q103_stratum_topk", hotSrcDir, "hotsrc_",
        (s, p) => operators.StatsOps.topKPerStratum(
          graft.util.Tables.documents(s, p), 64),
        gated = false)
      runCase("q103_topk_prefiltered", hotSrcDir, "hotsrc_",
        (s, p) => operators.StatsOps.topKPerStratumPrefiltered(
          graft.util.Tables.documents(s, p), 64))
    }

    val calPost = Bench.calibrate()
    val calParPost = Bench.calibratePar()
    out.append(f""","calibration_post_sec":$calPost%.3f,"calibration_par_post_sec":$calParPost%.3f""")
    out.append(f""","straggler_bar":$stragglerBar%.1f""")
    out.append(f""","dom_bar":$domBar%.2f,"dom_wall_floor_sec":$domWallFloor%.1f}""")
    println(out.toString)
    // a filtered (args) run must NOT clobber the full artifact (same guard
    // as Bench's BENCH_LOCAL.json)
    if (args.isEmpty)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("SCALE_SMOKE.json"),
      (out.toString + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // completion itself is the no-OOM assert; the straggler bar is explicit
    require(worstStraggler < stragglerBar,
      f"worst in-stage straggler $worstStraggler%.2f breached the $stragglerBar%.1f bar")
  }

  /** Deterministic corpus, generated distributed (no driver-side rows):
    * ~45–60 words per doc from a 5k vocab via xxhash64 mixing, with every
    * 33rd document a near-duplicate of its predecessor (same words plus a
    * unique tail token — pairwise Jaccard ≈ 0.9, well over the 0.3
    * thresholds, so q34/q35/q40 have real work to find).
    */
  private[graft] def generate(spark: SparkSession, nDocs: Int) = {
    spark.range(nDocs).toDF("doc_id")
      .withColumn("is_dup", col("doc_id") % 33 === 0 && col("doc_id") > 0)
      .withColumn("src_id", when(col("is_dup"), col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("len", (pmod(xxhash64(concat(lit("len"), col("src_id"))), lit(16)) + 45).cast("int"))
      .withColumn("text",
        concat(
          array_join(
            expr("transform(sequence(1, len), j -> concat('w', pmod(xxhash64(concat('tok', src_id, '_', j)), 5000)))"),
            " "),
          when(col("is_dup"), concat(lit(" dup"), col("doc_id"))).otherwise(lit(""))))
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("synth/"), pmod(col("doc_id"), lit(10))))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Deterministic label-clustered embeddings (the sf fixture's schema:
    * vec_id BIGINT, embedding ARRAY<FLOAT> dim 64, label INT 0–9),
    * generated distributed: each component is its label-centroid value
    * plus per-vector noise at 0.3 amplitude, all from xxhash64 mixing —
    * clustered enough that IVF probing has real structure to exploit,
    * noisy enough that the probe trade-off is non-trivial (mirroring the
    * weakly-clustered sf fixture).
    */
  private[graft] def generateEmbeddings(spark: SparkSession, nVecs: Int) = {
    spark.range(nVecs).toDF("vec_id")
      .withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 63), p -> CAST(
             (pmod(xxhash64(concat('c', label, '_', p)), 1000) / 1000.0 - 0.5)
           + (pmod(xxhash64(concat('n', vec_id, '_', p)), 1000) / 1000.0 - 0.5) * 0.3
           AS FLOAT))"""))
      .select("vec_id", "embedding", "label")
  }

  /** Noise-only embeddings: [[generateEmbeddings]] minus the cluster
    * term, so every pair is background — the corpus on which the
    * band-width knob's halving claim is directly measurable (on the
    * clustered corpus ~87% of pair mass is within-cluster true near-dups
    * the knob correctly leaves alone). Labels keep the same schema.
    */
  private[graft] def generateNoiseEmbeddings(spark: SparkSession, nVecs: Int) = {
    spark.range(nVecs).toDF("vec_id")
      .withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 63), p -> CAST(
             (pmod(xxhash64(concat('n', vec_id, '_', p)), 1000) / 1000.0 - 0.5)
           AS FLOAT))"""))
      .select("vec_id", "embedding", "label")
  }

  /** Hot-SOURCE corpus for the q57 packing stressor: same documents as
    * [[generate]], but 80% of them (doc_id % 10 < 8) collapse into the
    * single source `synth/hot` — the "one crawl dominates the corpus"
    * shape that serializes a per-source window into one task.
    */
  private[graft] def generateHotSource(spark: SparkSession, nDocs: Int) =
    generate(spark, nDocs).drop("source")
      .withColumn("source",
        when(pmod(col("doc_id"), lit(10)) < 8, lit("synth/hot"))
          .otherwise(concat(lit("synth/"), pmod(col("doc_id"), lit(10)))))
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** Degenerate-media corpus for the q105/q106 hot-bucket gate: doc_ids
    * all ≡ 0 (mod 300) pin the synthesis formulas' group (id % 100 = 0)
    * AND variant (id % 3 = 0) terms, so every document dHashes/contours
    * to ONE value — the solid-color-thumbnail shape. Text columns ride
    * along for the documents schema; only doc_id matters here.
    */
  private[graft] def generateDegenerateMedia(spark: SparkSession, nDocs: Int) = {
    spark.range(nDocs).toDF("i")
      .withColumn("doc_id", col("i") * 300)
      .withColumn("text", lit("degenerate media stand-in"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synth/degen"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Adversarial hot-key corpus: every 5th document (20%) is the IDENTICAL
    * ~50-word boilerplate — one simhash value, one shingle set, one LSH
    * bucket across a fifth of the corpus — the rest are unique docs as in
    * [[generate]]. Deterministic and fully distributed like the base
    * generator.
    */
  private[graft] def generateSkew(spark: SparkSession, nDocs: Int) = {
    val boiler = (0 until 50).map(i => s"boiler$i").mkString(" ")
    spark.range(nDocs).toDF("doc_id")
      .withColumn("hot", pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("len", (pmod(xxhash64(concat(lit("len"), col("doc_id"))), lit(16)) + 45).cast("int"))
      .withColumn("text",
        when(col("hot"), lit(boiler)).otherwise(
          array_join(
            expr("transform(sequence(1, len), j -> concat('w', pmod(xxhash64(concat('tok', doc_id, '_', j)), 5000)))"),
            " ")))
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("synth/"), pmod(col("doc_id"), lit(10))))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }
}
