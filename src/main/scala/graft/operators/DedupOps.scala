package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** Deduplication operators over `documents` (SURVEY.md §7.1 M6 / the
  * training-data pipeline pack): exact hash dedup, word-3-gram Jaccard
  * near-dup, and MinHash+LSH banding.
  *
  * Scale design: exact dedup is one hash-shuffle on the fingerprint.
  * N-gram Jaccard is quadratic only WITHIN shingle buckets (the shingle
  * self-join); MinHash/LSH reduces that to band-bucket joins — at 100 TB you
  * run LSH first and feed only candidate pairs to the exact Jaccard
  * verifier, which is precisely how the queries below compose.
  *
  * MinHash here is sha256-based (8 × 32-bit hex-slice lanes of one digest
  * per shingle): fully deterministic, engine-portable (DuckDB computes the
  * identical signature), and requires no UDF — every step is a codegen'd
  * builtin expression.
  */
object DedupOps {

  private val nHashes = 8 // 4 bands × 2 rows

  /** Eager finish for operators that persist corpus-sized intermediates:
    * materialize `out` (persisted; output-sized by construction) and then
    * unpersist the upstream caches deterministically instead of leaving
    * corpus-sized blocks to the ContextCleaner (ADVICE r5). The extra
    * count() is free in net terms — the caller's first action reads the
    * cached result instead of recomputing the chain.
    *
    * Cache contract: the RETURNED frame is persisted (it is output-sized by
    * construction — candidate pairs, never the corpus) and the caller owns
    * it — `result.unpersist()` when done with it. The returned Dataset's own
    * logical plan IS the cached plan — persisting a sub-plan and stacking an
    * operator on top would make the caller's `unpersist()` a silent
    * plan-mismatch no-op in the CacheManager. For that reason (and for cost:
    * materializing a global sort pays a RangePartitioning sampling pass over
    * the whole chain) the pair queries return UNORDERED sets — they are
    * full-set operators, not top-k, and the correctness comparator is
    * row-sorted; a consumer needing order sorts the output-sized result.
    * No corpus-sized block outlives the operator call (CacheReleaseSpec pins
    * both properties via `getPersistentRDDs`).
    */
  private[operators] def finishAndRelease(out: DataFrame, upstream: DataFrame*): DataFrame = {
    val o = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    o.count()
    upstream.foreach(_.unpersist(false))
    o
  }

  /** q34 stop-shingle bound: shingles in more than this many documents are
    * dropped before the self-join (they are corpus boilerplate and make the
    * join bucket quadratic). Mirrored verbatim in the DuckDB oracle.
    */
  val maxShingleDf = 100

  /** doc_id, sh — the word-3-gram shingle ARRAY per document (duplicates
    * kept; callers distinct/explode as needed). Documents with fewer than
    * 3 tokens have NO shingles (empty array → no candidate pairs → they
    * cluster as singletons): the unguarded `sequence(1, …)` indexed past
    * the array end, which THROWS under default ANSI mode on any 1- or
    * 2-token document (reproduced on Spark 4.1.2) and, with ANSI off,
    * silently emitted a partial shingle the oracle's NULL-propagating
    * `t[i] || …` concatenation never produces.
    */
  /** THE word-3-shingle definition over a token-array column, shared by
    * the batch LSH chain and the streaming MinHash-band gate
    * ([[graft.streaming.DocStreams.minhashBandGate]]) — the gate's
    * "reconcile with batch q35" contract is only sound while both sides
    * shingle identically, so there is exactly one definition (the
    * [[gram5ArrayExpr]] discipline). Sub-3-token docs get an empty array
    * (no signature, never candidates) — the ANSI length guard is
    * load-bearing.
    */
  private[graft] def shingle3ArrayExpr(tCol: String): String =
    s"""CASE WHEN size($tCol) >= 3
          THEN transform(sequence(1, size($tCol) - 2),
                         i -> concat_ws(' ', element_at($tCol, i),
                           element_at($tCol, i + 1), element_at($tCol, i + 2)))
          ELSE CAST(array() AS ARRAY<STRING>) END"""

  /** NOT widened (r17 adjudication): an entry widen + eager banded fill
    * was tried for the whole LSH/Jaccard family and REGRESSED the q35
    * family ×1.3–1.6 in a clean A/B window (q35 0.97→1.56, q40 1.79→2.81,
    * q45 1.34→1.77) — at sf0.1 the racing single-task recomputes of the
    * signature chain run on otherwise-idle cores (wall-hidden), while the
    * widen exchange + fill barrier are pure added wall. The single
    * heavy-front operators that DID win kept their widens (q71/q75/q90/
    * q110); see OPTIMIZATION_r17.md "what was tried and reverted".
    */
  private def withShingleArray(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), expr(shingle3ArrayExpr("t")).as("sh"))

  /** The four band keys of a lanes array (`graft_minhash_lanes` output) as
    * band-index-prefixed strings `"i:md5(h_{2i}||h_{2i+1})"` — EXACTLY the
    * batch chain's band values ([[lshCandidates]]' b0..b3) with the band
    * index folded into the key so band i of an arriving document only
    * matches band i of the history, as the batch bucket join's (bi, bk)
    * key does. Shared by [[minhashBandValues]] (the Bloom build side) and
    * the streaming gate (the probe side): one definition, the
    * winnowFpValues lesson — a key-rendering mismatch between build and
    * probe is the silent every-dup-admitted failure mode.
    */
  private[graft] def minhashBandArrayExpr(lanesCol: String): String =
    s"""transform(sequence(0, 3),
          i -> concat(cast(i as string), ':',
            md5(concat(element_at($lanesCol, 2 * i + 1),
                       element_at($lanesCol, 2 * i + 2)))))"""

  /** (doc_id, band) — each document's four LSH band keys, the build side
    * of the streaming MinHash-band gate's historical filter: construct
    * with `minhashBandValues(corpus).stat.bloomFilter("band", n, fpp)`
    * (`band` is already the STRING key the gate probes). Docs with no
    * signature (<3 tokens) contribute nothing.
    */
  def minhashBandValues(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    withShingleArray(docs)
      .select(col("doc_id"), expr("graft_minhash_lanes(sh)").as("lanes"))
      .filter(col("lanes").isNotNull)
      .select(col("doc_id"),
        explode(expr(minhashBandArrayExpr("lanes"))).as("band"))
  }

  /** doc_id, s — per-document DISTINCT word-3-gram shingles, for the
    * set-based Jaccard math. (doc_id, s)-distinct ≡ per-doc array dedup, so
    * `array_distinct` before the explode does what was a full corpus-sized
    * `.distinct()` shuffle as row-local work instead (r5).
    */
  private def shingles(s: SparkSession, d: String): DataFrame =
    withShingleArray(documents(s, d))
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("s"))

  /** The q34/q93 shared candidate machinery: df-guarded distinct shingles
    * self-joined into per-pair intersection counts with both docs' shingle
    * set sizes attached — the scoring (symmetric Jaccard vs directional
    * containment) is the only thing the two operators do differently.
    * Returns (pairs, guardedShingles); the guarded table persists because
    * it feeds three consumers (counts + both join sides) — the CALLER must
    * hand it to [[finishAndRelease]]. See the q34 entry comment for the
    * df-guard rationale and the measured r8 alternative.
    */
  private def guardedPairCounts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(s, d)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("df") <= maxShingleDf)
      .drop("df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager fill (r17): three consumers (counts + both self-join sides)
    // launch concurrently inside the first job over `pairs`, and scans of
    // an UNFILLED cache race — each re-executes the window sort+filter
    // above the (reused) shuffle instead of waiting (StageProf on q34: the
    // window chain's task time appeared 2-3x). One count() fills the cache
    // once; the consumers then read it.
    sh.count()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
    (pairs, sh)
  }

  /** doc_id, g — per-document DISTINCT word-5-grams (the decontamination
    * unit of q67/q74). Row-local: transform + array_distinct before the
    * explode, so no corpus-sized distinct shuffle; documents under 5
    * tokens contribute nothing.
    */
  /** The word-5-gram ARRAY expression over a token-array column — THE gram
    * definition, shared by the batch decontaminators (q67/q74 via
    * [[wordGrams5]]) and the streaming gate
    * ([[graft.streaming.DocStreams.decontaminationGate]]): the gate's
    * "reconcile with batch q74" contract is only sound while both sides
    * tokenize and gram identically, so there is exactly one definition.
    * Callers MUST gate on `size(tokCol) >= 5` first (sequence(1, negative)
    * descends; element_at past the end throws under ANSI).
    */
  private[graft] def gram5ArrayExpr(tokCol: String): String =
    s"""transform(sequence(1, size($tokCol) - 4),
          i -> concat_ws(' ', element_at($tokCol, i), element_at($tokCol, i + 1),
            element_at($tokCol, i + 2), element_at($tokCol, i + 3), element_at($tokCol, i + 4)))"""

  /** Widened at entry (r17, guide §2.5): the gram explode is the corpus-
    * heavy front of the q67/q74/q79 family and the driver fixture is a
    * single row group — one task otherwise. Digest/count consumers only.
    */
  private def wordGrams5(docs: DataFrame): DataFrame =
    graft.util.Tables.widenSmall(docs)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(expr(gram5ArrayExpr("t")))).as("g"))

  /** q90's operator body over any (source, text) frame — see the q90
    * entry comment for the audit framing. Scale shape: ONE corpus-scale
    * exchange. `collect_set(source)` per gram subsumes the (source, gram)
    * distinct (the set dedups cross-doc repeats; `array_distinct` cuts
    * within-doc repeats row-locally before the shuffle), so the gram
    * table never shuffles again after the groupBy: source pairs are
    * row-local combinations over each gram's source SET (≤ n_sources
    * elements — sources are a small dimension, so the per-row fan-out is
    * bounded and the collected set can never be corpus-sized), and the
    * per-source totals explode the same set. Both consumers chain off
    * the identical groupBy(g) subtree — runtime exchange reuse collapses
    * them to one corpus explode (the q69/q82/q88 pin discipline; an
    * earlier formulation self-joined a persisted distinct table on g,
    * which shuffled the gram table three more times and measured ~2× the
    * wall time at sf0.1). The order-nondeterminism of collect_set is
    * immaterial: pair generation and counts are set-order-invariant.
    * Output (source-pair rows) persists under the [[finishAndRelease]]
    * contract.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    // widened at entry (r17, guide §2.5): the gram explode + collect_set
    // partial agg runs below the one exchange (reused by both consumers)
    // and the driver fixture is a single row group — one task otherwise
    val gramSources = graft.util.Tables.widenSmall(docs)
      .select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("source"),
        explode(array_distinct(expr(gram5ArrayExpr("t")))).as("g"))
      .groupBy("g").agg(collect_set(col("source")).as("srcs"))
    val inter = gramSources
      .select(explode(expr(
        """flatten(transform(srcs,
             a -> transform(filter(srcs, b -> a < b),
                            b -> struct(a AS src_a, b AS src_b))))""")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val tot = gramSources
      .select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val res = inter
      .join(tot.select(col("source").as("src_a"), col("n").as("na")), "src_a")
      .join(tot.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
      .withColumn("u", col("na") + col("nb") - col("n_common"))
      // integer half-up at 6 decimals (the q79/q93 device): a tie at the
      // 7th decimal is exactly where engine round(double) rules diverge
      .select(col("src_a"), col("src_b"), col("n_common"),
        (expr("(2 * n_common * 1000000 + u) div (2 * u)") / lit(1000000.0))
          .as("jaccard"))
    finishAndRelease(res)
  }

  /** q79's operator body over any (doc_id, text) frame: per-document
    * contamination report — distinct-5-gram count, eval-shared count, the
    * shared FRACTION (integer half-up rounding at 4 decimals — counts
    * divide to exact decimal halves, where engine round(double)
    * implementations disagree; the q69/q78 device) and the ≥50% drop
    * flag. Eval set = doc_id < 10, corpus = the rest, as in q67/q74.
    */
  def decontamFraction(docs: DataFrame): DataFrame = {
    val grams = wordGrams5(docs)
    val evalGrams = grams.filter(col("doc_id") < 10).select("g").distinct()
    // ONE corpus gram pass (r17, guide §2.4): the former tot/hits pair ran
    // the explode subtree twice (per-doc total and per-doc hit count as
    // separate aggregations joined back); a LEFT broadcast join against
    // the hit markers lets one aggregation carry both counts —
    // count(1) = total grams, count(hit) = non-null hits. Same rows.
    grams.filter(col("doc_id") >= 10)
      .join(broadcast(evalGrams.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"))
      .withColumn("contam_frac",
        expr("(2 * n_hits * 10000 + n_grams) div (2 * n_grams)") / lit(10000.0))
      .withColumn("flagged", col("n_hits") * 2 >= col("n_grams"))
  }

  /** q146's operator body: LONGEST VERBATIM OVERLAP SPAN between each
    * corpus document and each eval document — the GRADED companion to
    * q67's boolean flags and q79's gram fraction. A decontamination
    * review triages on "how LONG is the shared passage" (the GPT-3
    * appendix-C convention reports contamination by overlap span, not by
    * gram counts): one shared 5-gram is a boilerplate collision; forty
    * CONSECUTIVE shared grams is a verbatim inclusion. Reference scope
    * note: the reference engine has no text operators at all — this is
    * part of the training-pipeline layer the brief adds on top.
    *
    * Device: positional word-5-grams on both sides (THE shared
    * [[gram5ArrayExpr]] definition — positions kept, so NO array_distinct:
    * a within-doc repeated gram is a distinct position), equi-join on the
    * gram text, then gaps-and-islands per (corpus doc, eval doc,
    * DIAGONAL = corpus pos − eval pos): matches on one diagonal whose
    * corpus positions are consecutive are the SAME shared passage
    * advancing token by token, so each maximal run is one overlap span of
    * `run + 4` tokens. Output is one row per span with both start
    * positions — (doc_id, edoc, start_pos, eval_pos) is a unique key, so
    * the final ORDER BY is total and the hash check deterministic.
    *
    * Scale shape: the corpus explodes ONCE into positional grams
    * (linear in the token stream, same bound as q48's tf table); the
    * eval side is eval-set-sized and BROADCAST into the join (the
    * q67/q74 shape — eval suites are fixed-size by construction, they do
    * not grow with the corpus); the islands window partitions by
    * (corpus doc, eval doc, diagonal) — match-bounded, never
    * corpus-bounded, and never corpus × corpus. At 100 TB the only
    * corpus-sized stage is the one linear gram explode every
    * decontaminator already pays.
    */
  def overlapSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), posexplode(expr(gram5ArrayExpr("t"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"), col("col").as("g"))
    val ev = pos.filter(col("doc_id") < 10)
      .select(col("doc_id").as("edoc"), col("i").as("j"), col("g"))
    val matched = pos.filter(col("doc_id") >= 10)
      .join(broadcast(ev), "g")
      .select(col("doc_id"), col("edoc"), (col("i") - col("j")).as("d"), col("i"), col("j"))
    val w = Window.partitionBy("doc_id", "edoc", "d").orderBy("i")
    val res = matched
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy("doc_id", "edoc", "d", "grp")
      .agg(min("i").as("start_pos"), min("j").as("eval_pos"),
        (count(lit(1)) + 4).as("span_tokens"))
      .select(col("doc_id"), col("edoc"), col("start_pos"), col("eval_pos"),
        col("span_tokens"))
      .orderBy(desc("span_tokens"), col("doc_id"), col("edoc"),
        col("start_pos"), col("eval_pos"))
    finishAndRelease(res)
  }

  /** q80's operator body: C4-style duplicate-span REMOVAL — the removal
    * counterpart of the q71/q75/q76 detection family (C4's pipeline drops
    * repeated three-sentence spans corpus-wide, keeping only the first
    * occurrence; Raffel et al. 2020 §2.2 — here the span unit is a
    * non-overlapping 10-token segment, the tokenized analogue). Each
    * document splits into segments, a segment survives only in the
    * lexicographically-first (doc_id, seg_idx) position its content hash
    * appears at, and the survivors reassemble into `clean_text` — a later
    * document quoting an earlier one loses the quoted span but keeps its
    * own prose.
    *
    * Scale shape: segmentation is row-local arithmetic (the q64 chunking
    * device with stride = size, so no overlap inflation); the first-
    * occurrence winner per hash is `min(struct(doc_id, seg_idx))` — a
    * map-side-combinable agg (the q65 argmax device), NOT a per-hash
    * window sort; survivors come from one equi-join of that hash-keyed
    * table back to the segment rows; reassembly is one groupBy(doc_id)
    * with a row-local array_sort over the doc's own segments (documents
    * are length-bounded after any length gate, so the per-group array is
    * small). Two linear shuffles total (hash, then doc_id) — the q30
    * exact-dedup shape, never a self-join. Per-doc totals are derived
    * arithmetically from the original text (`(n+9) div 10`), not by
    * re-counting segments, so a document whose every span was claimed
    * earlier still reports with n_kept = 0 and empty clean_text.
    */
  def spanDedup(docs: DataFrame): DataFrame = {
    val segLen = 10
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("start", explode(expr(s"sequence(0, size(toks) - 1, $segLen)")))
      .select(
        col("doc_id"),
        (col("start") / segLen).cast("long").as("seg_idx"),
        expr(s"array_join(slice(toks, start + 1, $segLen), ' ')").as("seg_text"))
      .withColumn("h", md5(col("seg_text")))
    val first = segs.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
    val kept = segs.join(first, "h")
      .where(col("doc_id") === col("f.doc_id") && col("seg_idx") === col("f.seg_idx"))
    val survivors = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      expr("array_join(transform(array_sort(collect_list(struct(seg_idx, seg_text))), x -> x.seg_text), ' ')")
        .as("clean_text"))
    val totals = docs.select(col("doc_id"),
      expr(s"(size(split(text, ' ')) + ${segLen - 1}) div $segLen").as("n_segs"))
    totals.join(survivors, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** q109's operator body: the MinHash-LSH BAND PLANNER — the S-curve
    * analysis every LSH deployment runs before committing a (bands, rows)
    * split (Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets"
    * §3.4.3: with b bands of r rows, a pair at Jaccard s becomes a
    * candidate with probability 1−(1−s^r)^b, and the curve's threshold —
    * where the step is steepest — sits near (1/b)^(1/r)). Two lane
    * budgets, both rows of one table: the DEPLOYED 8-lane budget (q35
    * runs 4 bands × 2 rows — its curve threshold is (1/4)^(1/2) = 0.5,
    * deliberately recall-leaning for q34's 0.3 truth bar; q111 measures
    * the realized recall) and the 128-lane scale-out budget a wider
    * signature would buy. Per budget: every (b, r) factorization, its
    * curve threshold, the candidate probability at a similarity grid
    * (the recall/false-positive trade read directly), and the row chosen
    * for a 0.8 target (argmin |threshold − 0.8| within the budget,
    * micro-bit integerized so the tie-break is exact, smaller b wins).
    *
    * Scale shape: a 12-row generated table — pure planning arithmetic,
    * no corpus input, one window over 12 rows. The cost is zero at any
    * corpus size; what it buys is that the expensive knob (q35's band
    * geometry) is chosen from a committed, judged table instead of
    * folklore. pow() results round through the 6-decimal device (1/b
    * and 1/r are exact dyadic doubles for power-of-two budgets, so the
    * only cross-engine risk is pow's last ulp — killed by the rounding).
    */
  def lshPlan(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budgets = Seq(8, 128)
    val grid = Seq(0.5, 0.7, 0.8, 0.9)
    import spark.implicits._
    val base = budgets.toDF("lanes")
      .select(col("lanes").cast("long"))
      .crossJoin(spark.range(1, budgets.max + 1).toDF("b"))
      .filter(col("b") <= col("lanes") && col("lanes") % col("b") === 0)
      .withColumn("r", expr("lanes div b"))
    val withCurve = grid.foldLeft(
      base.withColumn("curve_thr",
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6)))(
      (df, s) => df.withColumn(f"p_at_${(s * 100).toInt}%03d",
        round(lit(1.0) - pow(lit(1.0) - pow(lit(s), col("r")), col("b")), 6)))
    val w = Window.partitionBy("lanes").orderBy(
      abs(round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")) * 1e6, 0).cast("long")
        - lit(800000L)),
      col("b"))
    withCurve
      .withColumn("chosen", when(row_number().over(w) === 1, 1L).otherwise(0L))
  }

  private val duckShingles =
    """SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) toks,
            UNNEST(range(1, greatest(len(t)-1, 2))) AS u(i)
       WHERE len(t) >= 3"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content hash, keep the lowest doc_id. One
    // linear shuffle; no output sort (corpus-sized result, caller owns
    // ordering — r9 swept the last cosmetic global sorts from every
    // corpus-sized EXT output).
    "q30_dedup_exact" -> ((s, d) => {
      documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // Surgical decontamination (see [[decontamScrub]]): remove only the
    // eval-overlapping spans, keep the document — q80's removal device
    // pointed at q67's contamination definition.
    "q115_decontam_scrub" -> ((s, d) => decontamScrub(documents(s, d))),

    // Intra-document repetition scrub (see [[repetitionScrub]]): remove
    // later occurrences of 5-grams repeated WITHIN a document — q60
    // measures the repetition, this removes it; q115's reassembly.
    "q118_repetition_scrub" -> ((s, d) => repetitionScrub(documents(s, d))),

    // Incremental delta dedup (see [[deltaDedup]]): the new-arrivals batch
    // against the standing corpus — exact fingerprint layer, within-batch
    // layer, banded near-dup vs history with exact verify; every join
    // delta-driven, history never re-paired against itself.
    "q112_delta_dedup" -> ((s, d) => deltaDedup(s, d)),

    // q112's verdicts served by the INCREMENTAL MANIFEST — same arrivals,
    // history read as two parquet tables instead of recomputed from text;
    // byte-identical by the shared oracle. See
    // [[graft.streaming.DedupManifest]].
    "q143_manifest_delta_dedup" -> ((s, d) => {
      val dir = ensureQ143Manifest(s, d)
      graft.streaming.DedupManifest.deltaDedupAgainstManifest(
        q112ArrivalsOf(documents(s, d)), dir, documents(s, d))
    }),

    // Measured LSH recall audit (see [[lshRecallAudit]]): q35's banded
    // candidates against q34's exact ground truth, recall per similarity
    // bucket + overall precision — the empirical leg under q109's
    // theoretical S-curve table.
    "q111_lsh_recall" -> ((s, d) => lshRecallAudit(s, d)),

    // MinHash-LSH band planner (see [[lshPlan]]): the S-curve table over
    // every (b, r) factorization of the 128-lane budget, with the 0.8-
    // target plan flagged — the committed evidence behind q35's band
    // choice. Input-free planning arithmetic, 8 rows.
    "q109_lsh_plan" -> ((s, _) => lshPlan(s)),

    // Benchmark decontamination: flag corpus documents sharing any word
    // 5-gram with the eval set (doc_id < 10 stands in for a benchmark
    // suite), with the shared-gram count — the overlap check every
    // training pipeline runs before shipping data. Scale shape: eval sets
    // are tiny (benchmarks, not corpora), so their distinct grams
    // BROADCAST; the corpus side is a row-local gram explode → broadcast
    // hash join → per-doc count with map-side partials. The corpus never
    // shuffles on gram values — the only exchange is the per-doc count.
    "q67_decontam_flags" -> ((s, d) => {
      val grams = wordGrams5(documents(s, d))
      val evalGrams = grams.filter(col("doc_id") < 10).select("g").distinct()
      grams.filter(col("doc_id") >= 10)
        .join(broadcast(evalGrams), "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
    }),

    // Graded decontamination: the FRACTION of each corpus document's
    // distinct 5-grams shared with the eval set, plus the ≥50% drop flag —
    // the fuzzy threshold real pipelines apply on top of q67's any-hit
    // audit (a doc half-composed of benchmark text IS the benchmark; one
    // shared idiom is reviewable). Covers every ≥5-token corpus doc
    // (zero-hit rows included), so the output is the per-doc report, not
    // just the flag list. Scale shape is q67's: eval grams broadcast, the
    // corpus side explodes row-locally and never shuffles on gram values;
    // the only exchanges are the two per-doc counts. The fraction's
    // 4-decimal rounding is the integer half-up device ((2a+b) div (2b))
    // — counts divide to exact decimal halves, where engine round(double)
    // implementations disagree (the q69/q78 lesson).
    "q79_decontam_frac" -> ((s, d) => decontamFraction(documents(s, d))),

    // Longest verbatim overlap span per (corpus doc, eval doc) — the
    // graded contamination report (see [[overlapSpans]]): gaps-and-islands
    // over positional gram matches on the (corpus pos − eval pos)
    // diagonal; one row per maximal shared passage with both starts.
    "q146_overlap_spans" -> ((s, d) => overlapSpans(documents(s, d))),

    // Bloom-prefiltered decontamination: q67's exact semantics through the
    // membership-sketch plan that survives when the eval-gram set outgrows
    // a comfortable broadcast hash table (a full benchmark suite runs to
    // 10^7–10^8 distinct grams ≈ GBs broadcast; the Bloom filter is MBs).
    "q74_bloom_decontam" -> ((s, d) => bloomDecontam(documents(s, d))),

    // Per-document boilerplate fraction (C4-style quality signal) over the
    // same hashed 20-token windows as q71.
    "q75_boilerplate_frac" -> ((s, d) => boilerplateFrac(documents(s, d))),

    // Boilerplate MINING: the 20 most widely shared 20-token windows with
    // their document counts — what you read before writing the removal
    // rules the q75 fraction would then score. Explode is corpus-linear;
    // the count is a combiner-friendly groupBy; top-k is TakeOrdered (no
    // global sort). Grouping directly on the window TEXT keeps the output
    // human-readable; at 100 TB group on the hash and carry min(text) as
    // the representative — same plan, half the shuffle width.
    "q76_top_windows" -> ((s, d) => {
      val docs = documents(s, d)
      val w = 20
      docs
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= w)
        .select(col("doc_id"), explode(array_distinct(expr(
          s"""transform(sequence(0, size(t) - $w),
                i -> array_join(slice(t, i + 1, $w), ' '))"""))).as("win"))
        .groupBy("win").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("win"))
        .limit(20)
    }),

    // Exact substring-window dedup [Lee et al., ACL'22 "Deduplicating
    // Training Data Makes Language Models Better" — the hashed-window
    // formulation of its ExactSubstr method]: flag every document sharing
    // any exact 20-token window with ANOTHER document, with the count of
    // its shared windows. Where q30 needs whole-document equality and
    // q34/q35 score set overlap, this catches verbatim PASSAGE reuse —
    // quotes, licenses, templated paragraphs — the published motivation
    // for substring-level dedup.
    //
    // Scale shape: the window explode is corpus-linear (~n_tokens rows per
    // doc — the same linear blowup the suffix-array original pays, here as
    // data parallelism instead of a global sort); windows collapse to a
    // per-(doc, hash) row BEFORE any join (array_distinct on the hash
    // array, row-local), the per-hash document count is a combiner-
    // friendly groupBy on the hash, and flagged docs come from one
    // equi-join of that (duplicated-hash-only, tiny in practice) table
    // back to the per-doc rows — never a corpus self-join. md5 keys keep
    // the DuckDB oracle exact; at 100 TB the key would be xxhash64 (same
    // plan, 8-byte shuffle keys).
    "q71_window_dedup" -> ((s, d) => windowDedup(documents(s, d))),

    // C4-style duplicate-span removal (Raffel et al. 2020 §2.2): where
    // q71 FLAGS documents sharing verbatim windows, q80 REWRITES them —
    // every non-overlapping 10-token span survives only at its first
    // corpus occurrence and the survivors reassemble into clean_text.
    // See [[spanDedup]] for the scale shape (two linear shuffles, argmax
    // winner, no self-join, no per-hash window sort).
    "q80_span_dedup" -> ((s, d) => spanDedup(documents(s, d))),

    // Cross-source overlap matrix: 5-gram Jaccard between every SOURCE
    // pair — the corpus-composition audit run before fixing a training
    // mix (two mirrors/crawl-snapshots of the same site show up as a
    // high-Jaccard pair; the q63 rebalance and q85 epoch math are both
    // wrong if two "sources" are secretly one). Gram definition is the
    // shared q67/q74 [[gram5ArrayExpr]], so this composes with the
    // decontamination family. See [[sourceOverlap]] for the scale shape:
    // ONE corpus-scale exchange (groupBy gram → collect_set of sources,
    // bounded by the source dimension), pairs and totals both row-local
    // over the per-gram source set, exchange-reused. Output is one row
    // per co-occurring source pair (n_sources² at most).
    "q90_source_overlap" -> ((s, d) => sourceOverlap(documents(s, d))),

    // N-gram Jaccard near-dup: shingle self-join → pair intersection counts
    // → |A∩B| / (|A|+|B|-|A∩B|) ≥ 0.3.
    //
    // Frequent-shingle guard (standard stop-shingle practice): a shingle
    // present in more than `maxShingleDf` documents is boilerplate and makes
    // its self-join bucket quadratic in corpus size — drop it BEFORE the
    // join, and compute the per-doc counts from the same filtered table so
    // the Jaccard math stays internally consistent (oracle applies the
    // identical document-frequency WHERE). One window pass (single shuffle
    // by s) tags each shingle with its df; WindowExec spills, so even the
    // hot partition is disk-bound, not memory-bound.
    //
    // r8 measured alternative, rejected: a groupBy(s) df blacklist +
    // broadcast LEFT ANTI join looks better on paper (map-side combine,
    // no per-partition sort) but loses at BOTH sf0.1 (2.7 vs 2.0 s) and
    // the 10× smoke corpus (9.5 vs 7.7 s): after per-doc array_distinct
    // the shingles are mostly df=1, so combiners collapse almost nothing
    // and the groupBy ships nearly the full table anyway, while the
    // anti-join re-traverses the cache once per consumer. The window's
    // single shuffle + spillable sort + one cached guarded table is the
    // measured winner.
    "q34_ngram_jaccard" -> ((s, d) => {
      val (pairs, sh) = guardedPairCounts(s, d)
      val res = pairs
        .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
        .filter(col("jacc") >= 0.3)
        .select(col("id_a"), col("id_b"), round(col("jacc"), 4).as("jacc"))
      finishAndRelease(res, sh)
    }),

    // Shingle CONTAINMENT pairs (Broder '97's asymmetric resemblance
    // companion): C(A→B) = |A∩B| / |A| — the fraction of A's shingles
    // inside B. A short document quoted whole inside a long one scores
    // ~1 on containment while its symmetric Jaccard stays far below any
    // near-dup threshold (|A∪B| is dominated by the long doc), so q34's
    // measure structurally cannot flag quote-inclusion — this operator
    // exists for exactly that pair class. Emits both directions and
    // keeps pairs whose larger direction clears 0.8; the same guarded
    // candidate machinery as q34 (shared [[guardedPairCounts]] — the
    // df-guard bounds the self-join buckets identically). 100 TB note:
    // MinHash-LSH candidates (q35) recall HIGH-JACCARD pairs and will
    // MISS high-containment/low-Jaccard pairs by construction (whole-doc
    // signatures), so the scalable candidate source for containment is
    // q71's shared-window hits — window hashing catches exactly the
    // substring overlap containment scores — with this operator's exact
    // math as the verify stage over those candidates.
    "q93_containment" -> ((s, d) => {
      val (pairs, sh) = guardedPairCounts(s, d)
      // containment is a ratio of two INTEGERS, so its 4-decimal rounding
      // uses the exact half-up device ((2a+b) div (2b), the q69/q79
      // discipline) instead of round(double, 4) — an odd intersection
      // over a 20,000-shingle doc lands cont on an exact 5th-decimal 5,
      // exactly where engine round(double) implementations disagree. The
      // ≥0.8 threshold is integer too (5·inter ≥ 4·n can never tie-break
      // differently across engines).
      val res = pairs
        .filter(col("inter") * 5 >= least(col("na"), col("nb")) * 4)
        .select(col("id_a"), col("id_b"),
          (expr("(2 * inter * 10000 + na) div (2 * na)") / lit(10000.0))
            .as("cont_a"),
          (expr("(2 * inter * 10000 + nb) div (2 * nb)") / lit(10000.0))
            .as("cont_b"))
      finishAndRelease(res, sh)
    }),

    // Containment VERIFIED over shared-window candidates — the 100 TB
    // composition q93's scale note names, made executable (the q40
    // discipline applied to containment): candidates are doc pairs
    // sharing at least one 20-token window (q71's window-hash unit — a
    // verbatim run is exactly what containment scores, so window hits
    // are the RIGHT candidate source where q35's whole-doc MinHash
    // signatures would miss high-containment/low-Jaccard pairs by
    // construction), then exact shingle containment verifies each
    // candidate row-locally on the per-doc DISTINCT shingle arrays. The
    // corpus-sized stages run once (window table persisted and RELEASED
    // as soon as candidates materialize — the q40 release order, so only
    // candidate-bounded caches are resident during verify; shingle
    // re-pass candidate-filtered BEFORE tokenizing); the expensive math
    // is candidate-bounded. The verify
    // runs on the FULL distinct shingle set — q34/q93's df guard exists
    // to bound a corpus SELF-join's buckets, which q95 never builds, so
    // candidate-bounded verification needs no guard (and its containment
    // values are exact, not guard-censored). A clause-shuffled rewrite
    // with high 3-gram containment but no 20-token verbatim run is
    // q93-only — the documented recall trade of verbatim-run candidates.
    // A window
    // shared by k docs fans out k² candidate pairs (the q40/q71 skew
    // contract: hot boilerplate's pair OUTPUT is inherently quadratic —
    // run q80's span removal first on boilerplate-heavy corpora).
    "q95_containment_verified" -> ((s, d) => {
      val docs = documents(s, d)
      val wins = windowHashes(docs, 20)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize candidates, then RELEASE the corpus-token-sized window
      // table before the verify stage runs (the q40 release order) — only
      // the candidate-bounded caches stay resident for the verify join
      val cand = finishAndRelease(
        wins.as("a")
          .join(wins.as("b"),
            col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct(),
        wins)
      val ids = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      val sharr = withShingleArray(docs.join(broadcast(ids), "doc_id"))
        .select(col("doc_id"), array_distinct(col("sh")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sharr.count() // eager fill: both verify-join sides race an unfilled cache (r17)
      // the exact half-up integer device for the 4-decimal containments
      // and the integer threshold — see the q93 entry comment
      val res = cand
        .join(sharr.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
        .join(sharr.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("na", size(col("sa")).cast("long"))
        .withColumn("nb", size(col("sb")).cast("long"))
        .filter(col("inter") * 5 >= least(col("na"), col("nb")) * 4)
        .select(col("id_a"), col("id_b"),
          (expr("(2 * inter * 10000 + na) div (2 * na)") / lit(10000.0))
            .as("cont_a"),
          (expr("(2 * inter * 10000 + nb) div (2 * nb)") / lit(10000.0))
            .as("cont_b"))
      finishAndRelease(res, cand, sharr)
    }),

    // MinHash + LSH: 8 minhash lanes → 4 bands of 2 → candidate pairs that
    // collide on any band. The 8 lanes are 8-hex-char (32-bit) slices of
    // ONE sha256 per shingle — 16-bit lanes (r5) made unrelated docs tie on
    // a lane with probability ~n/65536 (~1% at n=1000 shingles), so
    // candidate pairs grew quadratically with corpus size (ADVICE r5); a
    // 256-bit digest restores 32-bit lanes in a single hash call. The
    // per-doc lane minima are still computed on the shingle ARRAY with
    // array_min(transform(...)) — no explode, no signature shuffle. min()
    // is duplicate-insensitive, so shingle duplicates need no dedup first.
    "q35_minhash_lsh" -> ((s, d) => {
      lshCandidates(documents(s, d))
    }),

    // SimHash (16-bit, md5-nibble-derived) per document + near-dup pairs at
    // hamming distance ≤ 2. bit_count is a builtin in both engines.
    //
    // Scale design (value-space neighbor enumeration, not doc-space pairs):
    // a 16-bit hash has at most 65,536 DISTINCT values no matter the corpus
    // size, so documents collapse into per-value groups first. Every value
    // has exactly 136 Hamming neighbors at distance 1-2 — enumerate them
    // (V×136 rows, linear) and equi-join against the existing values; no
    // pair join ever happens in doc space and nothing is quadratic
    // (cf. Manku et al., WWW'07 simhash dedup). Doc pairs are expanded only
    // for value pairs that matched, which is output-bound work.
    "q36_simhash" -> ((s, d) => {
      // native Simhash16 (r6): the signature is computed ROW-LOCALLY from
      // the token array — the SQL formulation (kept verbatim in the DuckDB
      // oracle, and locked bit-identical by PairPlanSpec) explodes tokens
      // and aggregates 16 vote columns by doc_id, a corpus-token-sized
      // shuffle; this shuffles nothing before the value-space pair stage
      graft.functions.VectorFunctions.register(s)
      val sim = documents(s, d).select(col("doc_id"),
        expr("graft_simhash16(split(text, ' '))").as("simhash"))
      simhashPairs(sim)
    }),

    // LSH → exact-verify composition (the 100 TB near-dup pipeline): MinHash
    // band candidates (q35's plan) verified with exact n-gram Jaccard
    // (q34's math) — quadratic work only inside LSH buckets, never across
    // the corpus. Fills the q40 numbering gap.
    "q40_lsh_jaccard_verified" -> ((s, d) => {
      // Everything candidate-bounded is persisted (r3 verdict #1): `cand`
      // feeds two consumers (the id set and the verify join) — uncached,
      // the whole signature chain runs twice; `sharr` feeds both join
      // sides. The corpus-sized stages run exactly once.
      // (`lshCandidates` returns its result already persisted+materialized.)
      val cand = lshCandidates(documents(s, d))
      // only candidate docs matter for the verify stage: filter DOCUMENTS on
      // the (small) candidate id set BEFORE tokenizing, so the second
      // shingle pass is candidate-sized, not corpus-sized.
      val ids = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
      // exact Jaccard per candidate pair on the per-doc DISTINCT shingle
      // array (r5): |A∩B| = size(array_intersect) right in the pair row —
      // no exploded shingle table, no counts aggregation, no count joins.
      // Sound at scale because doc length is bounded (arrays are
      // shingle-count-sized) while the corpus is not; the expensive
      // dimension stays candidate-bounded.
      val sharr = withShingleArray(documents(s, d).join(broadcast(ids), "doc_id"))
        .select(col("doc_id"), array_distinct(col("sh")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sharr.count() // eager fill: both verify-join sides race an unfilled cache (r17)
      // verify-join shape: PLAIN join-backs, deliberately unhinted — the
      // shingle side is candidate-id-bounded and byte-small, so AQE
      // broadcasts it at runtime and the pair stream never exchanges
      // (see rpLshNearDup's r16 adjudication: hinting shuffle_hash here
      // forbade that conversion and doubled the skew-corpus wall).
      val res = cand
        .join(sharr.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
        .join(sharr.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .withColumn("jacc",
          col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
        .filter(col("jacc") >= 0.3)
        .select(col("id_a"), col("id_b"), round(col("jacc"), 4).as("jacc"))
      finishAndRelease(res, cand, sharr)
    }),

    // MinHash similarity ESTIMATION (the third leg of the sketch story:
    // bands find candidates, lane agreement ESTIMATES Jaccard without
    // touching the shingle sets, exact intersect verifies). est_jacc =
    // fraction of agreeing minhash lanes — the classic unbiased estimator
    // E[agree/k] = J (Broder '97) — reported next to the exact value so the
    // estimator's error is visible in-engine. Everything after the
    // candidate stage is candidate-bounded, like q40; one shingle pass
    // computes BOTH the signature and the distinct-shingle array.
    "q49_minhash_estimate" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val cand = lshCandidates(documents(s, d))
      val ids = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
      val both = withShingleArray(documents(s, d).join(broadcast(ids), "doc_id"))
        .select(col("doc_id"), expr("graft_minhash_lanes(sh)").as("lanes"),
          array_distinct(col("sh")).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      both.count() // eager fill: both verify-join sides race an unfilled cache (r17)
      val res = cand
        .join(both.select(col("doc_id").as("id_a"), col("lanes").as("la"), col("sh").as("sa")), "id_a")
        .join(both.select(col("doc_id").as("id_b"), col("lanes").as("lb"), col("sh").as("sb")), "id_b")
        .withColumn("agree", expr("size(filter(zip_with(la, lb, (x, y) -> x = y), b -> b))"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .select(col("id_a"), col("id_b"),
          round(col("agree") / 8.0, 4).as("est_jacc"),
          round(col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 4).as("jacc"))
      finishAndRelease(res, cand, both)
    })
  )

  /** SimHash near-dup pairs (Hamming distance ≤ 2) from a `(doc_id,
    * simhash)` table — the distribution core of q36, factored so specs can
    * drive it with synthetic value distributions.
    *
    * Everything stays row-shaped: no `collect_list` id arrays anywhere, so a
    * degenerate corpus (millions of docs sharing one simhash value) is a
    * shuffle-join with a hot key — streamed by the join, spilled by the
    * sorter — instead of one unbounded array in a single task row (r3
    * verdict "what's wrong" #3).
    *
    *  - value space first: ≤ 65,536 distinct 16-bit values at any corpus
    *    size; every value has exactly 136 Hamming-1/2 neighbors, enumerated
    *    as (V × 136) rows and equi-joined against existing values.
    *  - doc pairs are expanded only for matched value pairs, by joining the
    *    `(simhash, doc_id)` table once per side — output-bound work.
    *  - `sim` is persisted (4 consumers: distinct values, both cross sides,
    *    both same-value sides); it is (doc_id, simhash) — 16 bytes/row —
    *    and MEMORY_AND_DISK spills. It is corpus-sized, so it is released
    *    eagerly via `finishAndRelease` once the (output-sized) pair frame is
    *    materialized; the returned frame follows the caller-owns-cache
    *    contract documented on `finishAndRelease`.
    *
    * `finish = true` (the operator path) runs the single finishAndRelease
    * layer (output-sized pair frame persisted, `sim`
    * released). `finish = false` returns the RAW un-persisted pair frame —
    * for plan-shape inspection in specs (a cached frame's executedPlan
    * collapses to InMemoryTableScan, hiding the join structure the spec
    * asserts on) — and leaves `sim` cached for the caller to clear.
    */
  def simhashPairs(sim0: DataFrame, finish: Boolean = true): DataFrame = {
    val sim = sim0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vals = sim.select("simhash").distinct() // ≤ 65,536 rows
    // the distance-1/2 Hamming ball: 16 single-bit + 120 two-bit masks
    val masks = (0 until 16).map(1 << _) ++
      (for (i <- 0 until 16; j <- (i + 1) until 16) yield (1 << i) | (1 << j))
    val valPairs = vals.select(col("simhash").as("sa"),
        explode(expr(s"array(${masks.mkString(",")})")).as("mask"))
      .withColumn("sb", expr("CAST(sa AS INT) ^ mask").cast("long"))
      .filter(col("sb") > col("sa")) // each unordered value pair once
      .join(vals.select(col("simhash").as("sb")), "sb") // existing values only
      .withColumn("dist", expr("bit_count(mask)").cast("long"))
      .select("sa", "sb", "dist")
    // doc expansion: join the pair table per side — never an id array
    val cross = valPairs
      .join(sim.select(col("simhash").as("sa"), col("doc_id").as("ia")), "sa")
      .join(sim.select(col("simhash").as("sb"), col("doc_id").as("ib")), "sb")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
    // same-value pairs (distance 0): self-join within each value
    val same = sim.as("a")
      .join(sim.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(0L).as("dist"))
    val out = cross.unionByName(same).select(col("id_a"), col("id_b"), col("dist"))
    if (finish) finishAndRelease(out, sim) else out
  }

  /** q74: benchmark decontamination via Bloom prefilter + exact verify —
    * bit-identical output to q67 (`doc_id`, `n_hits` over docs sharing any
    * word-5-gram with the eval set), different physical shape:
    *
    *   1. build an eval-gram Bloom filter with ONE aggregation job
    *      (`DataFrameStatFunctions.bloomFilter` — distributed build,
    *      driver-merged sketch, exactly a broadcast build's topology);
    *   2. drop non-matching corpus grams ROW-LOCALLY with the codegen'd
    *      [[graft.functions.BloomMightContain]] probe (no false negatives
    *      by construction, ~fpp false positives);
    *   3. exact-verify the ~fpp-sized survivor stream against the real
    *      eval-gram set — join strategy deliberately left to the planner:
    *      at sf it broadcasts; at 10^8 eval grams (where q67's forced
    *      broadcast breaks down) the survivors side is tiny enough that a
    *      shuffled join is linear in SURVIVORS, not corpus grams.
    *
    * The sketch build and sizing count run as eager jobs at query
    * construction (two passes over the TINY eval side only — eval sets are
    * benchmark-sized by contract, never corpus-sized). The corpus side
    * stays lazy and is scanned exactly once, at action time.
    */
  def bloomDecontam(docs: DataFrame, fpp: Double = 0.001): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    graft.functions.BloomFunctions.register(docs.sparkSession)
    val grams = wordGrams5(docs)
    val evalGrams = grams.filter(col("doc_id") < 10).select("g").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the eager sizing/sketch jobs below can throw (executor loss, sketch
    // OOM) — the persisted eval frame must not outlive the failed call
    // (same discipline as GraphOps' star-round finally)
    var handedOff = false
    try {
      val corpus = grams.filter(col("doc_id") >= 10)
      val nEval = evalGrams.count() // exact sketch sizing; materializes cache
      val res = if (nEval == 0) {
        // nothing to decontaminate against: the exact join below is empty;
        // skip the sketch (BloomFilter.create requires > 0 expected items)
        corpus.join(evalGrams, "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      } else {
        val bloom = evalGrams.stat.bloomFilter("g", nEval, fpp)
        val bytes = graft.functions.BloomFunctions.serialize(bloom)
        val pre = corpus.where(
          call_function("graft_bloom_might_contain", lit(bytes), col("g")))
        pre.join(evalGrams, "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      }
      val out = finishAndRelease(res, evalGrams)
      handedOff = true // finishAndRelease released evalGrams on success
      out
    } finally {
      if (!handedOff) evalGrams.unpersist(false)
    }
  }

  /** doc_id, wh — per-document DISTINCT hashed w-token windows, the unit
    * of q71/q75. Row-local (transform + array_distinct before the
    * explode); documents under w tokens contribute no windows. NOT
    * persisted — callers that fan out persist and release themselves.
    */
  private def windowHashes(docs: DataFrame, w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1 token, got $w")
    // widened at entry (r17, guide §2.5): one md5 per (token × w) is the
    // dominant row-local cost and the driver fixture is a single row
    // group — one task otherwise; count consumers only (order-safe)
    graft.util.Tables.widenSmall(docs)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= w)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"""transform(sequence(0, size(t) - $w),
              i -> md5(array_join(slice(t, i + 1, $w), ' ')))"""))).as("wh"))
  }

  /** q75: per-document boilerplate fraction — the share of a document's
    * distinct w-token windows that also appear in at least one OTHER
    * document (C4-style: template headers, license blocks, navigation
    * chrome score high; original prose scores 0). Emits
    * (doc_id, n_windows, n_dup_windows, boilerplate_frac); documents too
    * short for any window report (0, 0, 0.0).
    *
    * Scale shape: same corpus-linear window explode as q71 (persisted, one
    * scan), a combiner-friendly per-hash document count, and ONE equi-join
    * of that count table back to the per-doc window rows — never a corpus
    * self-join. Unlike q71 the join-back keeps ALL windows (the fraction
    * needs the denominator), so the join input is window-table-sized on
    * both sides — linear, hash-partitioned on a 32-char key (xxhash64 at
    * 100 TB halves the shuffle width, same plan).
    */
  def boilerplateFrac(docs: DataFrame, w: Int = 20): DataFrame = {
    val wins = windowHashes(docs, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = wins.groupBy("wh").agg(count(lit(1)).as("n_docs"))
    val per = wins.join(dfreq, "wh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    val res = docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup_windows") * lit(1.0) / col("n_windows"),
          lit(0.0)), 4).as("boilerplate_frac"))
    finishAndRelease(res, wins)
  }

  /** q71's operator body, reusable over any (doc_id, text) frame: flag
    * documents sharing any exact `w`-token window with another document
    * (hashed-window ExactSubstr — see the q71 entry's scaladoc for the
    * method citation and scale shape). Windows dedup WITHIN a document
    * before any join (array_distinct over the hash array, row-local), so a
    * window repeated only inside one doc never flags it; `n_dup_windows`
    * counts the doc's distinct windows that some OTHER doc also contains.
    * Documents shorter than `w` tokens have no window and report 0 —
    * sequence(0, negative) would generate a DESCENDING range, so the
    * length gate is load-bearing, not cosmetic.
    */
  def windowDedup(docs: DataFrame, w: Int = 20): DataFrame = {
    // two consumers (the shared-window aggregate and the join-back probe):
    // persist so the corpus is scanned and window-hashed ONCE — the md5
    // per (token × w) is the operator's dominant row-local cost
    val wins = windowHashes(docs, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = wins.groupBy("wh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
    val dupCounts = wins.join(shared, "wh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
    val res = docs.select("doc_id").join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)) > 0).as("flagged"))
    finishAndRelease(res, wins)
  }

  /** MinHash signature → 4 band keys → colliding (id_a, id_b) candidate
    * pairs. Shared by q35 and q40's composition.
    *
    * The signature never leaves the document row: shingle → md5 → 8
    * lane-minima all happen inside one projection over the shingle array
    * (`array_min(transform(...))`), so the only shuffle in the whole
    * operator is the band-bucket self-join. At 100 TB that matters: the
    * explode-and-groupBy formulation shuffles one row per shingle
    * OCCURRENCE (~corpus token count); this shuffles one row per doc.
    */
  private[operators] def lshCandidates(docs: DataFrame): DataFrame =
    lshCandidatesAt(docs, bands = 4, rows = 2)

  /** [[lshCandidates]] parameterized on the (bands × rows) factorization of
    * the 8-lane budget (r13, verdict #8 — the band GEOMETRY becomes a knob
    * the way q44's band width did in r11). The oracle-pinned q35/q40/q49
    * keep the deployed (4, 2); [[lshGeometryAuto]] picks a factorization
    * from measured lane agreement for the no-knob scale path.
    */
  private[operators] def lshCandidatesAt(docs: DataFrame,
      bands: Int, rows: Int): DataFrame = {
    require(bands * rows == nHashes,
      s"bands x rows must factor the $nHashes-lane budget, got $bands x $rows")
    // 8 lanes × 8 hex chars (32 bits each) from one sha256 per shingle,
    // computed by the native MinhashLanes expression: one digest pass per
    // shingle, no per-lane string materialization (the equivalent SQL —
    // transform + 8 × array_min(transform(substring)) — runs interpreted;
    // LaneExprSpec locks bit-identical output against it, and the DuckDB
    // oracle keeps the SQL formulation).
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val sig = withShingleArray(docs)
      .select(col("doc_id"), expr("graft_minhash_lanes(sh)").as("lanes"))
      .select(Seq(col("doc_id")) ++ (0 until nHashes).map(i =>
        col("lanes")(i).as(s"h$i")): _*)
    // persisted: the band self-join consumes `banded` on BOTH sides and the
    // union-of-selects defeats Spark's exchange reuse (no ReusedExchange
    // in the executed plan — r4 verdict #6), so without the cache the whole
    // corpus-sized shingle+signature chain runs twice. One row per doc
    // (doc_id + `bands` hashes), MEMORY_AND_DISK spills.
    val banded = sig.select(
      col("doc_id") +: (0 until bands).map(i =>
        md5(concat((0 until rows).map(j => col(s"h${i * rows + j}")): _*)).as(s"b$i")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // NO eager fill (r17 adjudication): the 2×bands racing scans of the
    // unfilled cache DO re-execute the signature chain (q49's StageProf:
    // eight concurrent single-task re-runs), but at sf0.1 those run on
    // otherwise-idle cores — an explicit count() fill serialized a job
    // barrier in front of every consumer and measured ×1.3–1.6 on the
    // q35 family in a clean A/B window. At saturated-cluster scale the
    // recompute is real CPU waste; the trade is documented in
    // OPTIMIZATION_r17.md and the cache itself stays (without it the
    // chain runs per-SIDE even sequentially).
    val buckets = (0 until bands).map(i =>
      banded.select(col("doc_id"), lit(i).as("bi"), col(s"b$i").as("bk")))
      .reduce(_.unionByName(_))
    // the deployed geometries keep the PLAIN bucket join: a hot band
    // bucket here is a hot JOIN KEY (streamed SMJ output, AQE skew-split
    // — the skew smoke's 20%-identical corpus adjudicates exactly this
    // shape for q40), and an A/B of routing this join through
    // PairBuckets' guarded split measured a uniform ~1.5× constant tax
    // across the whole q35 family at sf0.1 with no robustness win the
    // smoke hadn't already certified. The max-recall PROBE geometry is
    // the exception — see [[lshGeometryAuto]].
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // returned persisted+materialized (candidate-bounded, small); `banded`
    // (corpus-sized) is released here, not left to the ContextCleaner
    finishAndRelease(cand, banded)
  }

  /** The measured pick of [[lshGeometryAuto]]: the chosen factorization
    * plus the lane-agreement similarity estimate that drove it (exposed so
    * specs and the scale smoke can re-verify the feasibility rule).
    */
  final case class LshGeometry(bands: Int, rows: Int, jhat: Double)

  /** AUTO band geometry (r13, verdict #8 — q109's planner argmin closed
    * into a measured loop, the autoBandBits precedent applied to MinHash):
    * pick the (bands × rows) factorization of the 8-lane budget from the
    * corpus's OWN near-dup similarity, not a hand target.
    *
    * Measurement: probe candidates at the maximum-recall geometry (every
    * lane its own band — any pair agreeing on ≥1 of 8 lanes surfaces),
    * estimate each pair's Jaccard by lane agreement (q49's Broder
    * estimator), and take ĵ = the mean estimate over pairs at est ≥ 0.3
    * (below that is the single-lane background the probe geometry
    * deliberately over-collects; 0.3 is q34/q111's truth bar). Selection
    * is then q109's closed forms: among the factorizations, choose the
    * HIGHEST curve threshold (1/b)^(1/r) — most precise, fewest background
    * candidates — whose S-curve capture probability at ĵ,
    * 1 − (1 − ĵ^r)^b, still clears `targetRecall`. No feasible geometry →
    * the max-recall (8 × 1) fallback; no measured near-dup mass at all →
    * the deployed (4, 2) (recall is moot on a corpus with nothing to
    * find, so stability wins). Deterministic end to end: md5 lanes,
    * integer agreement counts, a 6-decimal-rounded mean.
    *
    * Scale shape: one q35-class banded probe pass + one candidate-bounded
    * lane join + a 1-row aggregate; at 100 TB run it on a deterministic
    * hash-sample of documents (ĵ is a mean — sampling error vanishes in
    * √samples), the autoBandBits escape verbatim.
    */
  /** The max-recall probe's candidate stage, routed through PairBuckets'
    * size-adaptive split (r13 review finding): at 8 bands × 1 row EVERY
    * single-lane agreement is a bucket key, so common boilerplate makes
    * hot buckets structurally likely — n(n−1)/2 pair generation in one
    * task under a plain join. The deployed 4×2 chain keeps the plain join
    * (see [[lshCandidatesAt]] — AQE's skew split covers it and the
    * guarded split taxes it ~1.5× for nothing); the probe pays the guard
    * because its geometry is the hazardous one. Same candidate SET.
    */
  private def probeCandidates(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val sig = withShingleArray(docs)
      .select(col("doc_id"), expr("graft_minhash_lanes(sh)").as("lanes"))
      .filter(col("lanes").isNotNull)
      .select(col("doc_id"), posexplode(col("lanes")).as(Seq("bi", "bk")))
    PairBuckets.candidatePairs(sig, Seq("bi", "bk"), "doc_id")
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
  }

  private[graft] def lshGeometryAuto(docs: DataFrame,
      targetRecall: Double = 0.9): LshGeometry = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val cand = finishAndRelease(probeCandidates(docs))
    val ids = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // guard the broadcast (r13 ADVICE — the deltaDedup bar applied here):
    // at the max-recall 8×1 probe geometry on a boilerplate-heavy corpus
    // the candidate-id set approaches CORPUS size, exactly the
    // pathological-batch shape deltaDedup degrades on. Count against the
    // same bar and fall back to a shuffle join instead of OOMing the
    // driver; the degrade is a pure re-plan (same rows, same ĵ).
    val nIds = ids.count()
    val joined =
      if (nIds <= deltaBroadcastMaxIds) docs.join(broadcast(ids), "doc_id")
      else {
        org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(s"[graft] lshGeometryAuto: $nIds candidate ids " +
          s"exceed broadcast bar $deltaBroadcastMaxIds — degrading to a shuffle join")
        docs.join(ids, "doc_id")
      }
    val lanes = withShingleArray(joined)
      .select(col("doc_id"), expr("graft_minhash_lanes(sh)").as("lanes"))
    val est = cand
      .join(lanes.select(col("doc_id").as("id_a"), col("lanes").as("la")), "id_a")
      .join(lanes.select(col("doc_id").as("id_b"), col("lanes").as("lb")), "id_b")
      .withColumn("est", expr(
        s"size(filter(zip_with(la, lb, (x, y) -> x = y), b -> b)) / ${nHashes}.0D"))
      .filter(col("est") >= 0.3)
      .agg(round(avg("est"), 6).as("jhat"), count(lit(1)).as("n"))
      .collect()(0)
    cand.unpersist(blocking = false)
    ids.unpersist(blocking = false)
    if (est.getLong(1) == 0L) return LshGeometry(4, 2, 0.0)
    val jhat = est.getDouble(0)
    def capture(b: Int, r: Int): Double = 1.0 - math.pow(1.0 - math.pow(jhat, r), b)
    val factorizations = (1 to nHashes).filter(nHashes % _ == 0)
      .map(b => (b, nHashes / b))
    val feasible = factorizations.filter { case (b, r) => capture(b, r) >= targetRecall }
    val (b, r) =
      if (feasible.isEmpty) (nHashes, 1)
      else feasible.maxBy { case (bb, rr) => math.pow(1.0 / bb, 1.0 / rr) }
    LshGeometry(b, r, jhat)
  }

  /** q35's candidate stage with the self-selected geometry — the no-knob
    * scale path (oracle queries keep the fixed (4, 2); the smoke gates the
    * auto pick on the planted corpora, the autoBandBits discipline).
    */
  def lshCandidatesAuto(docs: DataFrame): DataFrame = {
    val g = lshGeometryAuto(docs)
    lshCandidatesAt(docs, g.bands, g.rows)
  }

  /** q111's operator body: the MEASURED LSH recall audit — q109's S-curve
    * is theory; this is the realized number on the actual corpus, the QA
    * report a dedup deployment signs off on. Ground truth = q34's
    * df-guarded exact-Jaccard pairs at the 0.3 bar; candidates = q35's
    * banded MinHash pairs, exactly as deployed (unguarded shingles — the
    * production asymmetry is part of what is being measured). Recall is
    * reported PER SIMILARITY BUCKET ([0.3,0.5), [0.5,0.7), [0.7,0.9),
    * [0.9,1]) because the S-curve says recall is a function of s — one
    * blended number would hide exactly the shape that matters (the
    * deployed 4×2 geometry has curve threshold 0.5: high-similarity
    * buckets should saturate while the 0.3–0.5 tail leaks). The 'all'
    * row adds overall candidate count and precision-vs-truth@0.3
    * (bucket rows carry n_cand = 0 / precision 0 — a candidate pair has
    * no Jaccard until verified, so it cannot be bucketed; that exact
    * verification is q40's job, deliberately not re-done here).
    *
    * Scale shape: the truth side is q34's smoked df-guarded machinery,
    * the candidate side q35's banded join — both bounded-bucket by
    * construction; the audit adds one candidate-keyed left join and two
    * tiny aggregations. At 100 TB the truth side is the limiter (exact
    * pair verification), which is why the audit runs on a SAMPLE there
    * (q47/q103 provide the deterministic samplers); the per-bucket
    * recall estimate is unbiased under any doc-level sample.
    */
  def lshRecallAudit(s: SparkSession, d: String): DataFrame = {
    val (pairs, sh) = guardedPairCounts(s, d)
    val truth = finishAndRelease(
      pairs
        .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
        .filter(col("jacc") >= 0.3)
        .select(col("id_a"), col("id_b"), col("jacc")),
      sh)
    val cand = lshCandidates(documents(s, d))
    val marked = truth
      .join(cand.withColumn("is_cand", lit(1L)), Seq("id_a", "id_b"), "left")
      .withColumn("hit", coalesce(col("is_cand"), lit(0L)))
      .withColumn("bucket",
        when(col("jacc") < 0.5, "j_03_05")
          .when(col("jacc") < 0.7, "j_05_07")
          .when(col("jacc") < 0.9, "j_07_09")
          .otherwise("j_09_10"))
    val per = marked.groupBy("bucket")
      .agg(count(lit(1)).as("n_truth"), sum("hit").as("n_hits"))
      .withColumn("n_cand", lit(0L))
    val allRow = marked
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum("hit"), lit(0L)).as("n_hits"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .withColumn("bucket", lit("all"))
    val res = per.select("bucket", "n_truth", "n_hits", "n_cand")
      .unionByName(allRow.select("bucket", "n_truth", "n_hits", "n_cand"))
      .withColumn("recall", when(col("n_truth") > 0,
        expr("(2 * n_hits * 10000 + n_truth) div (2 * n_truth)") / lit(10000.0))
        .otherwise(lit(0.0)))
      .withColumn("precision", when(col("n_cand") > 0,
        expr("(2 * n_hits * 10000 + n_cand) div (2 * n_cand)") / lit(10000.0))
        .otherwise(lit(0.0)))
    finishAndRelease(res, truth, cand)
  }

  /** q115's operator body: SURGICAL decontamination — q67 flags
    * contaminated documents and q79 grades them, but a pipeline that
    * DROPS every flagged doc loses the prose around a quoted benchmark
    * line; this operator removes only the offending SPANS (every token
    * participating in an eval-overlapping word-5-gram) and reassembles
    * the rest — the q80 removal device pointed at contamination instead
    * of duplication (the Lee et al. 2022 / GPT-3 appendix-C class of
    * "clean the span, keep the document"). Eval set = doc_id < 10, the
    * q67/q74/q79/q113 convention; gram definition = THE shared
    * [[gram5ArrayExpr]], so the scrub can never disagree with the
    * flagger about what contamination IS. A matched gram at 1-based
    * start i removes tokens [i, i+4]; overlapping matches union (an
    * 8-token overlap of two grams removes 9 tokens, not 10). Docs under
    * 5 tokens cannot contain a gram and pass through verbatim;
    * n_tokens/n_kept make the removal auditable (sum(n_tokens − n_kept)
    * is the corpus-wide contamination mass, the q79 numerator made
    * concrete).
    *
    * Scale shape: eval grams BROADCAST (benchmarks are tiny — the q67
    * contract); the corpus explodes once into positioned grams
    * (row-local), the matched starts collapse to one per-doc set
    * (combiner-friendly, bounded by matches not tokens), and the
    * reassembly is a row-local indexed filter over the doc's own token
    * array — per-row cost O(n_tokens × n_matches), with n_matches
    * eval-bounded. One linear shuffle (the per-doc start set); the
    * corpus never shuffles on gram values. Holds at 100 TB.
    */
  def decontamScrub(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val evalGrams = base.filter(col("doc_id") < 10)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(explode(array_distinct(expr(gram5ArrayExpr("t")))).as("g"))
      .distinct()
    val toks = base.filter(col("doc_id") >= 10)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val starts = toks.filter(size(col("t")) >= 5)
      .select(col("doc_id"), posexplode(expr(gram5ArrayExpr("t"))))
      .withColumnRenamed("col", "g")
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id"), (col("pos") + 1).as("i"))
      .groupBy("doc_id").agg(collect_set(col("i")).as("starts"))
    val res = toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        when(col("starts").isNull, col("t")).otherwise(expr(
          """transform(
               filter(sequence(1, size(t)),
                      i -> NOT exists(starts, s -> i >= s AND i <= s + 4)),
               i -> element_at(t, i))""")).as("kt"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kt")).cast("long").as("n_kept"),
        concat_ws(" ", col("kt")).as("clean_text"))
    finishAndRelease(res, toks)
  }

  /** q118's operator body: INTRA-document repetition scrub — q60 measures
    * a document's repeated-5-gram mass; this operator removes it. Web text
    * repeats itself inside one page (lyric refrains, templated listings,
    * copy-pasted paragraphs), and "remove the later copies, keep the
    * first" shrinks the loss-weighted duplication a model trains on
    * without dropping the page (the within-doc counterpart of the
    * cross-doc q71/q80, and the q38/q77 repetition gates' surgical
    * alternative). Rule: a 5-gram window starting at 1-based i is removed
    * iff the SAME gram (THE shared [[gram5ArrayExpr]] definition) first
    * occurs in this document at first_i ≤ i − 5 — i.e. a fully
    * NON-overlapping earlier copy exists; windows overlapping their own
    * first occurrence are kept (removing them would eat the original's
    * tokens). Marked windows union and the survivors reassemble — the
    * q115 indexed-filter device; docs under 5 tokens have no gram and
    * pass verbatim; n_tokens/n_kept make the removed mass auditable
    * (sum(n_tokens − n_kept) is q60's repetition mass made removable).
    *
    * Scale shape: one corpus gram explode (row-local), the first-
    * occurrence min over a (doc_id, gram) window — ONE linear shuffle
    * whose hottest key is one document's one repeated gram, bounded by
    * doc length, never corpus-wide (grams never pair ACROSS documents
    * here, so no df guard is needed) — then the per-doc start set and the
    * row-local reassembly. Corpus-linear throughout; holds at 100 TB.
    */
  def repetitionScrub(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val starts = toks.filter(size(col("t")) >= 5)
      .select(col("doc_id"), posexplode(expr(gram5ArrayExpr("t"))))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))
      .withColumn("first_i",
        min(col("i")).over(Window.partitionBy("doc_id", "g")))
      .filter(col("i") >= col("first_i") + 5)
      .groupBy("doc_id").agg(collect_set(col("i")).as("starts"))
    val res = toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        when(col("starts").isNull, col("t")).otherwise(expr(
          """transform(
               filter(sequence(1, size(t)),
                      i -> NOT exists(starts, s -> i >= s AND i <= s + 4)),
               i -> element_at(t, i))""")).as("kt"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kt")).cast("long").as("n_kept"),
        concat_ws(" ", col("kt")).as("clean_text"))
    finishAndRelease(res, toks)
  }

  /** q112's operator body: INCREMENTAL (delta) dedup — the daily-dump
    * production shape the whole-corpus operators (q30/q35/q73) deliberately
    * are not: a new ARRIVALS batch is deduplicated against the standing
    * HISTORICAL corpus without ever re-pairing history against itself
    * (here the split is the deterministic doc_id%10 — 80% history, 20%
    * arrivals — so the oracle shares it; in production the arrival set is
    * the new dump and history is the lake). Three layers, in priority
    * order, one disposition row per arrival:
    *
    *   1. exact_dup — the arrival's canonical fingerprint (q33's
    *      definition, THE shared expression) already exists in history;
    *      match_id = the minimum historical holder.
    *   2. batch_dup — fingerprint is new to history but shared WITHIN the
    *      batch; the minimum arrival keeps it, the rest point at it (the
    *      q30 keeper rule applied batch-locally).
    *   3. near_dup — surviving keepers band-join (q35's exact band keys
    *      via [[minhashBandValues]] — the same rendering the streaming
    *      gate probes) against HISTORY only, then verify exact Jaccard
    *      ≥ 0.5 on distinct-shingle arrays (the q40 device; 0.5 = the
    *      deployed geometry's curve threshold, q109); match_id = minimum
    *      verified historical doc. Near-dup among arrivals themselves is
    *      deliberately out of scope — that is q35 run batch-locally.
    *   4. new — everything else; match_id = −1.
    *
    * Scale shape — the point of the operator: every join is DELTA-driven.
    * History contributes one linear fingerprint aggregation and one linear
    * band table (both indexable/incremental in a real lake — the Bloom
    * build side [[minhashBandValues]] already feeds); the delta side is
    * batch-sized throughout, candidates are band-bounded, and the verify
    * stage filters DOCUMENTS to candidate ids before re-shingling (the
    * q40 discipline), so nothing corpus-sized is ever paired or
    * re-tokenized. At 100 TB history + 100 GB dump, the dump drives all
    * pair work.
    */
  /** Candidate-id count above which [[deltaDedup]]'s document-filtering
    * join degrades from a broadcast to a plain shuffle join (the
    * maxStrlBytes discipline applied to the r12 verdict's watch item): the
    * candidate union is delta-BOUNDED but not delta-SIZED — a pathological
    * arrival batch (a mass re-upload where every survivor band-collides
    * with history) can make it arbitrarily large, and an unguarded
    * `broadcast()` hint would then OOM the driver instead of degrading.
    * 5M ids ≈ 40 MB of packed longs — comfortably inside executor
    * broadcast budgets, far past any sane daily dump.
    */
  val deltaBroadcastMaxIds = 5000000L

  def deltaDedup(s: SparkSession, d: String): DataFrame =
    deltaDedupFrom(documents(s, d))

  /** q143's fixture manifest: initialized ONCE per (JVM, corpus) from the
    * q112 history split (the build-once amortization the q122/q126 index
    * fixtures use), removed by a shutdown hook. The memo keys on the
    * corpus CONTENT token, not the path alone (r14 ADVICE): a harness
    * that regenerates the corpus at the same path within one JVM must get
    * a fresh manifest, or q143 would serve stale history while q112
    * recomputes fresh — two queries sharing one oracle text diverging.
    */
  private val manifestDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Cheap corpus-identity token: the documents table's file listing
    * folded as (name, length, mtime) — the build-id discipline for
    * corpora that don't carry one. Driver-side fs metadata only. Shared
    * by every per-(JVM, corpus) fixture memo (q143's manifest, q128/q134's
    * curation store).
    */
  private[graft] def corpusToken(s: SparkSession, d: String,
      table: String = "documents.parquet"): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$table")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val sts = if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
                else Seq(fs.getFileStatus(p))
      val sig = sts.map(x =>
          s"${x.getPath.getName}:${x.getLen}:${x.getModificationTime}")
        .sorted.mkString("|")
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(sig))
    }
  }
  private def ensureQ143Manifest(s: SparkSession, d: String): String =
    manifestDirs.computeIfAbsent(s"$d@${corpusToken(s, d)}", _ => {
      val p = java.nio.file.Files.createTempDirectory("graft_dedup_manifest")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        catch { case _: Exception => () }
      }))
      graft.streaming.DedupManifest.initManifest(
        q112HistOf(documents(s, d)), p.toString)
      p.toString
    })

  /** The history FINGERPRINT table exactly as [[deltaDedupCore]] consumes
    * it — one definition shared by the per-batch recompute
    * ([[deltaDedupFrom]]) and the incremental manifest
    * ([[graft.streaming.DedupManifest]]): (fp, hist_id = min doc_id).
    */
  /** ONE text-parse/digest pass behind BOTH history tables (r16): the
    * (doc_id, fp, lanes) projection — fingerprint regex+md5 AND the
    * shingle-sha256 minhash lanes in a single pass over the history
    * corpus. Before, [[historyFpTable]] and [[historyBandTable]] each
    * re-parsed and re-digested history from scratch, and over the
    * single-row-group fixture each pass was a 2-3 s SINGLE task
    * (StageProf: the q112 histFp broadcast-build stage alone was half
    * the query's wall). The projection is widened (stats-guarded no-op
    * at lake scale) and the q112 path persists it so the two tables
    * share one computation. Digest/integer-min derivations only — no
    * float-summation-order exposure.
    */
  private[graft] def historyPrep(hist: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(hist.sparkSession)
    graft.util.Tables.widenSmall(hist)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        TextOps.fingerprintCol(col("text")).as("fp"),
        expr(s"graft_minhash_lanes(${shingle3ArrayExpr("t")})").as("lanes"))
  }

  private[graft] def historyFpFrom(prep: DataFrame): DataFrame =
    prep.groupBy("fp").agg(min("doc_id").as("hist_id"))

  private[graft] def historyBandsFrom(prep: DataFrame): DataFrame =
    prep.filter(col("lanes").isNotNull)
      .select(col("doc_id").as("h_id"),
        explode(expr(minhashBandArrayExpr("lanes"))).as("band"))

  private[graft] def historyFpTable(hist: DataFrame): DataFrame =
    historyFpFrom(historyPrep(hist))

  /** The history BAND table as [[deltaDedupCore]] consumes it: (h_id,
    * band) — same one-definition contract as [[historyFpTable]].
    */
  private[graft] def historyBandTable(hist: DataFrame): DataFrame =
    historyBandsFrom(historyPrep(hist))

  /** [[deltaDedup]] over an explicit documents frame with an overridable
    * broadcast guard — the seam DeltaDedupSpec drives with a tiny bar to
    * pin that the shuffle-join degrade is a pure re-plan (same rows).
    */
  /** q112's fixture history/arrival split — ONE definition for every
    * wiring site (r14 review: the predicate previously lived in four
    * places and a change would silently break the q112 ≡ q143 contract);
    * the oracle SQL carries the literal mirror.
    */
  private[graft] def q112HistOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 < 8)
  private[graft] def q112ArrivalsOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 >= 8)

  private[graft] def deltaDedupFrom(docs: DataFrame,
      maxBroadcastIds: Long = deltaBroadcastMaxIds): DataFrame = {
    val hist = q112HistOf(docs)
    val arr = q112ArrivalsOf(docs)
    // one persisted (doc_id, fp, lanes) pass feeds BOTH history tables
    // (r16, see historyPrep) — released after the core's own
    // finishAndRelease has materialized the result
    val prep = historyPrep(hist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try deltaDedupCore(arr, historyFpFrom(prep), historyBandsFrom(prep),
      docs, maxBroadcastIds)
    finally prep.unpersist(blocking = false)
  }

  /** q112's staging/candidate/verify machinery over EXPLICIT history
    * tables (r14): the per-batch path recomputes them from the history
    * corpus; the incremental manifest serves them precomputed — the scale
    * story q112's scaladoc promised ("both indexable/incremental in a
    * real lake") made real by [[graft.streaming.DedupManifest]]. Note
    * `verifyDocs` stays a corpus handle: exact verification re-shingles
    * only the candidate-id sliver (the q40 discipline), which no
    * fingerprint manifest can replace — at lake scale that read is a
    * doc_id-keyed point lookup against the (bucketed) corpus table.
    */
  private[graft] def deltaDedupCore(arr: DataFrame, histFp: DataFrame,
      histBands: DataFrame, verifyDocs: DataFrame,
      maxBroadcastIds: Long = deltaBroadcastMaxIds): DataFrame = {
    val arrFp = arr.select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fp"))
    val batchMin = arrFp.groupBy("fp").agg(min("doc_id").as("batch_id"))
    val staged = arrFp
      .join(histFp, Seq("fp"), "left")
      .join(batchMin, Seq("fp"))
      .select(col("doc_id"), col("hist_id"), col("batch_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survivors = staged
      .filter(col("hist_id").isNull && col("doc_id") === col("batch_id"))
      .select("doc_id")
    val cand = minhashBandValues(arr.join(survivors, Seq("doc_id")))
      .join(histBands, "band")
      .select(col("doc_id"), col("h_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = cand.select(col("doc_id")).union(cand.select(col("h_id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // guard the broadcast (r12 verdict #7): `ids` is candidate-bounded,
    // not batch-sized — count it (cheap: an agg over the persisted cand)
    // and degrade to a shuffle join past the bar instead of OOMing the
    // driver on a pathological batch. The degrade is a pure re-plan
    // (DeltaDedupSpec pins row equality through the seam).
    val nIds = ids.count()
    val filtered =
      if (nIds <= maxBroadcastIds) verifyDocs.join(broadcast(ids), "doc_id")
      else {
        org.slf4j.LoggerFactory.getLogger("graft.dedup").warn(s"[graft] deltaDedup: $nIds candidate ids exceed " +
          s"broadcast bar $maxBroadcastIds — degrading to a shuffle join")
        verifyDocs.join(ids, "doc_id")
      }
    val sharr = withShingleArray(filtered)
      .select(col("doc_id"), array_distinct(col("sh")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val near = cand
      .join(sharr.select(col("doc_id"), col("sh").as("sa")), "doc_id")
      .join(sharr.select(col("doc_id").as("h_id"), col("sh").as("sb")), "h_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jacc",
        col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jacc") >= 0.5)
      .groupBy("doc_id").agg(min("h_id").as("near_id"))
    val res = staged
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("hist_id").isNotNull, "exact_dup")
          .when(col("doc_id") =!= col("batch_id"), "batch_dup")
          .when(col("near_id").isNotNull, "near_dup")
          .otherwise("new").as("disposition"),
        coalesce(col("hist_id"),
          when(col("doc_id") =!= col("batch_id"), col("batch_id")),
          col("near_id"), lit(-1L)).as("match_id"))
    finishAndRelease(res, staged, cand, sharr, ids)
  }

  /** DuckDB mirror of the array-based signature: per-doc list of sha256
    * digests (64 hex chars), 8 list_min 32-bit lane minima (lockstep with
    * `lshCandidates`).
    */
  private val duckSig =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       msig AS (SELECT doc_id,
           list_transform(range(1, greatest(len(t)-1, 2)),
                          i -> sha256(t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ms
         FROM toks),
       sig AS (SELECT doc_id, ${(0 until nHashes).map(i =>
             s"list_min(list_transform(ms, m -> substr(m, ${1 + 8 * i}, 8))) AS h$i").mkString(", ")}
         FROM msig)"""

  private val duckDecontam =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       grams AS (
         SELECT DISTINCT doc_id,
                t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
         FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
         WHERE len(t) >= 5),
       ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10)
       SELECT g.doc_id, count(*) AS n_hits
       FROM grams g JOIN ev USING (g)
       WHERE g.doc_id >= 10
       GROUP BY g.doc_id"""

  /** q112's oracle text, shared verbatim with q143 (manifest-served
    * delta dedup must be byte-identical on results — the q122/q133
    * one-oracle-text anti-drift discipline).
    */
  private val q112OracleSql: String =
    s"""WITH fpt AS (
           SELECT doc_id,
                  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
           FROM documents),
         histfp AS (SELECT fp, min(doc_id) AS hist_id FROM fpt
                    WHERE doc_id % 10 < 8 GROUP BY fp),
         arrfp AS (SELECT doc_id, fp FROM fpt WHERE doc_id % 10 >= 8),
         batchmin AS (SELECT fp, min(doc_id) AS batch_id FROM arrfp GROUP BY fp),
         staged AS (
           SELECT a.doc_id, h.hist_id, b.batch_id
           FROM arrfp a
           LEFT JOIN histfp h USING (fp)
           JOIN batchmin b USING (fp)),
         $duckSig,
         banded AS (SELECT doc_id, md5(h0||h1) AS b0, md5(h2||h3) AS b1,
                           md5(h4||h5) AS b2, md5(h6||h7) AS b3 FROM sig),
         buckets AS (
           SELECT doc_id, 0 AS bi, b0 AS bk FROM banded
           UNION ALL SELECT doc_id, 1, b1 FROM banded
           UNION ALL SELECT doc_id, 2, b2 FROM banded
           UNION ALL SELECT doc_id, 3, b3 FROM banded),
         survivors AS (SELECT doc_id FROM staged
                       WHERE hist_id IS NULL AND doc_id = batch_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS h_id
           FROM buckets a JOIN buckets b ON a.bi = b.bi AND a.bk = b.bk
           WHERE a.doc_id IN (SELECT doc_id FROM survivors)
             AND b.doc_id % 10 < 8),
         shd AS ($duckShingles),
         cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
         inter AS (
           SELECT c.doc_id, c.h_id, count(*) AS inter
           FROM cand c
           JOIN shd sa ON sa.doc_id = c.doc_id
           JOIN shd sb ON sb.doc_id = c.h_id AND sb.s = sa.s
           GROUP BY c.doc_id, c.h_id),
         near AS (
           SELECT i.doc_id, min(i.h_id) AS near_id
           FROM inter i
           JOIN cnt ca ON ca.doc_id = i.doc_id
           JOIN cnt cb ON cb.doc_id = i.h_id
           WHERE i.inter/(ca.n + cb.n - i.inter) >= 0.5
           GROUP BY i.doc_id)
         SELECT s.doc_id,
           CASE WHEN s.hist_id IS NOT NULL THEN 'exact_dup'
                WHEN s.doc_id <> s.batch_id THEN 'batch_dup'
                WHEN n.near_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS disposition,
           CAST(coalesce(s.hist_id,
             CASE WHEN s.doc_id <> s.batch_id THEN s.batch_id END,
             n.near_id, -1) AS BIGINT) AS match_id
         FROM staged s LEFT JOIN near n USING (doc_id)"""

  val oracle: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY h""",

    "q67_decontam_flags" -> duckDecontam,

    "q109_lsh_plan" ->
      """WITH base AS (
           SELECT lanes, b, CAST(lanes // b AS BIGINT) AS r
           FROM (SELECT CAST(unnest([8, 128]) AS BIGINT) AS lanes),
                (SELECT unnest(range(1, 129)) AS b)
           WHERE b <= lanes AND lanes % b = 0)
         SELECT lanes, b, r,
           round(power(1.0 / b, 1.0 / r), 6) AS curve_thr,
           round(1.0 - power(1.0 - power(0.5, r), b), 6) AS p_at_050,
           round(1.0 - power(1.0 - power(0.7, r), b), 6) AS p_at_070,
           round(1.0 - power(1.0 - power(0.8, r), b), 6) AS p_at_080,
           round(1.0 - power(1.0 - power(0.9, r), b), 6) AS p_at_090,
           CASE WHEN row_number() OVER (PARTITION BY lanes ORDER BY
                  abs(CAST(round(power(1.0 / b, 1.0 / r) * 1e6, 0) AS BIGINT) - 800000),
                  b) = 1
                THEN 1 ELSE 0 END :: BIGINT AS chosen
         FROM base""",

    "q115_decontam_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         gpos AS (
           SELECT doc_id, i,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                  t[i+3] || ' ' || t[i+4] AS g
           FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
           WHERE len(t) >= 5),
         evalg AS (SELECT DISTINCT g FROM gpos WHERE doc_id < 10),
         matched AS (SELECT DISTINCT gp.doc_id, gp.i
                     FROM gpos gp JOIN evalg USING (g)
                     WHERE gp.doc_id >= 10),
         idx AS (SELECT doc_id, i, t[i] AS tok
                 FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
                 WHERE doc_id >= 10),
         removed AS (SELECT DISTINCT x.doc_id, x.i
                     FROM idx x JOIN matched m
                       ON m.doc_id = x.doc_id AND x.i BETWEEN m.i AND m.i + 4),
         kept AS (
           SELECT x.doc_id,
                  count(*) AS n_kept,
                  string_agg(x.tok, ' ' ORDER BY x.i) AS clean_text
           FROM idx x LEFT JOIN removed r
             ON r.doc_id = x.doc_id AND r.i = x.i
           WHERE r.i IS NULL
           GROUP BY x.doc_id)
         SELECT c.doc_id,
           CAST(len(c.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.clean_text, '') AS clean_text
         FROM (SELECT doc_id, t FROM toks WHERE doc_id >= 10) c
         LEFT JOIN kept k USING (doc_id)""",

    "q118_repetition_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         gpos AS (
           SELECT doc_id, i,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                  t[i+3] || ' ' || t[i+4] AS g
           FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
           WHERE len(t) >= 5),
         marked AS (
           SELECT doc_id, i FROM (
             SELECT doc_id, i,
                    min(i) OVER (PARTITION BY doc_id, g) AS first_i
             FROM gpos)
           WHERE i >= first_i + 5),
         idx AS (SELECT doc_id, i, t[i] AS tok
                 FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
         removed AS (SELECT DISTINCT x.doc_id, x.i
                     FROM idx x JOIN marked m
                       ON m.doc_id = x.doc_id AND x.i BETWEEN m.i AND m.i + 4),
         kept AS (
           SELECT x.doc_id,
                  count(*) AS n_kept,
                  string_agg(x.tok, ' ' ORDER BY x.i) AS clean_text
           FROM idx x LEFT JOIN removed r
             ON r.doc_id = x.doc_id AND r.i = x.i
           WHERE r.i IS NULL
           GROUP BY x.doc_id)
         SELECT c.doc_id,
           CAST(len(c.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.clean_text, '') AS clean_text
         FROM toks c LEFT JOIN kept k USING (doc_id)""",

    "q112_delta_dedup" -> q112OracleSql,

    // q143 IS q112 on results: the manifest-served history tables must
    // yield byte-identical delta verdicts to the per-batch recompute —
    // one oracle text, zero drift room (the q122/q133 discipline).
    "q143_manifest_delta_dedup" -> q112OracleSql,

    "q111_lsh_recall" ->
      s"""WITH sh0 AS ($duckShingles),
         sh AS (SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0)
           WHERE df <= $maxShingleDf),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id),
         truth AS (
           SELECT id_a, id_b, inter/(ca.n + cb.n - inter) AS jacc
           FROM inter
           JOIN cnt ca ON ca.doc_id = id_a
           JOIN cnt cb ON cb.doc_id = id_b
           WHERE inter/(ca.n + cb.n - inter) >= 0.3),
         $duckSig,
         banded AS (SELECT doc_id, md5(h0||h1) AS b0, md5(h2||h3) AS b1,
                           md5(h4||h5) AS b2, md5(h6||h7) AS b3 FROM sig),
         buckets AS (
           SELECT doc_id, 0 AS bi, b0 AS bk FROM banded
           UNION ALL SELECT doc_id, 1, b1 FROM banded
           UNION ALL SELECT doc_id, 2, b2 FROM banded
           UNION ALL SELECT doc_id, 3, b3 FROM banded),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM buckets a JOIN buckets b
             ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
         marked AS (
           SELECT t.id_a, t.id_b,
             CASE WHEN t.jacc < 0.5 THEN 'j_03_05'
                  WHEN t.jacc < 0.7 THEN 'j_05_07'
                  WHEN t.jacc < 0.9 THEN 'j_07_09'
                  ELSE 'j_09_10' END AS bucket,
             CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
           FROM truth t LEFT JOIN cand c
             ON t.id_a = c.id_a AND t.id_b = c.id_b),
         per AS (SELECT bucket, count(*) AS n_truth, sum(hit) AS n_hits,
                        0 AS n_cand
                 FROM marked GROUP BY bucket),
         allrow AS (SELECT 'all' AS bucket, count(*) AS n_truth,
                           coalesce(sum(hit), 0) AS n_hits,
                           (SELECT count(*) FROM cand) AS n_cand
                    FROM marked),
         uni AS (SELECT * FROM per UNION ALL SELECT * FROM allrow)
         SELECT bucket, CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_hits AS BIGINT) AS n_hits, CAST(n_cand AS BIGINT) AS n_cand,
           CASE WHEN n_truth > 0
                THEN ((2 * n_hits * 10000 + n_truth) // (2 * n_truth)) / 10000.0
                ELSE 0.0 END AS recall,
           CASE WHEN n_cand > 0
                THEN ((2 * n_hits * 10000 + n_cand) // (2 * n_cand)) / 10000.0
                ELSE 0.0 END AS precision
         FROM uni""",

    // q74 computes q67's EXACT result through the Bloom-prefiltered plan
    // (false positives are eliminated by the verify join), so the oracle
    // is identical — that identity IS the correctness claim.
    "q74_bloom_decontam" -> duckDecontam,

    "q79_decontam_frac" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       grams AS (
         SELECT DISTINCT doc_id,
                t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
         FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
         WHERE len(t) >= 5),
       ev AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
       corpus AS (SELECT doc_id, g FROM grams WHERE doc_id >= 10),
       tot AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id),
       hits AS (SELECT c.doc_id, count(*) AS n_hits
                FROM corpus c JOIN ev USING (g) GROUP BY c.doc_id)
       SELECT t.doc_id,
              CAST(t.n_grams AS BIGINT) AS n_grams,
              CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
              ((2 * coalesce(h.n_hits, 0) * 10000 + t.n_grams) // (2 * t.n_grams))
                / 10000.0 AS contam_frac,
              coalesce(h.n_hits, 0) * 2 >= t.n_grams AS flagged
       FROM tot t LEFT JOIN hits h USING (doc_id)""",

    // Positional grams on both sides, islands on the (i − j) diagonal:
    // consecutive corpus positions on one diagonal are one shared passage.
    // BIGINT casts keep the schema lockstep with Spark's longs.
    "q146_overlap_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       gpos AS (
         SELECT doc_id, CAST(i AS BIGINT) AS i,
                t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
         FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
         WHERE len(t) >= 5),
       ev AS (SELECT doc_id AS edoc, i AS j, g FROM gpos WHERE doc_id < 10),
       m AS (SELECT c.doc_id, e.edoc, c.i - e.j AS d, c.i, e.j
             FROM gpos c JOIN ev e USING (g)
             WHERE c.doc_id >= 10),
       isl AS (SELECT doc_id, edoc, d, i, j,
                      i - row_number() OVER (PARTITION BY doc_id, edoc, d ORDER BY i)
                        AS grp
               FROM m)
       SELECT doc_id, edoc,
              min(i) AS start_pos, min(j) AS eval_pos,
              count(*) + 4 AS span_tokens
       FROM isl GROUP BY doc_id, edoc, d, grp
       ORDER BY span_tokens DESC, doc_id, edoc, start_pos, eval_pos""",

    "q75_boilerplate_frac" ->
      """WITH wins AS (
           SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(toks, start + 1, start + 20), ' ')) AS wh
           FROM (
             SELECT doc_id, toks, unnest(range(0, len(toks) - 19)) AS start
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a
             WHERE len(toks) >= 20) b),
         dfreq AS (SELECT wh, count(*) AS n_docs FROM wins GROUP BY wh),
         per AS (
           SELECT w.doc_id, count(*) AS n_windows,
                  sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup
           FROM wins w JOIN dfreq f USING (wh) GROUP BY w.doc_id)
         SELECT d.doc_id,
                CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
                CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
                round(coalesce(p.n_dup * 1.0 / p.n_windows, 0), 4) AS boilerplate_frac
         FROM documents d LEFT JOIN per p USING (doc_id)""",

    "q76_top_windows" ->
      """WITH wins AS (
           SELECT DISTINCT doc_id,
             array_to_string(list_slice(toks, start + 1, start + 20), ' ') AS win
           FROM (
             SELECT doc_id, toks, unnest(range(0, len(toks) - 19)) AS start
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a
             WHERE len(toks) >= 20) b)
         SELECT win, count(*) AS n_docs
         FROM wins GROUP BY win HAVING count(*) > 1
         ORDER BY n_docs DESC, win LIMIT 20""",

    "q71_window_dedup" ->
      """WITH wins AS (
           SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(toks, start + 1, start + 20), ' ')) AS wh
           FROM (
             SELECT doc_id, toks, unnest(range(0, len(toks) - 19)) AS start
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a
             WHERE len(toks) >= 20) b),
         shared AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) > 1),
         counts AS (
           SELECT doc_id, count(*) AS n_dup_windows
           FROM wins JOIN shared USING (wh) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
                coalesce(c.n_dup_windows, 0) > 0 AS flagged
         FROM documents d LEFT JOIN counts c USING (doc_id)""",

    "q90_source_overlap" ->
      """WITH sh AS (
           SELECT DISTINCT source,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                       || ' ' || t[i+4] AS g
           FROM (SELECT source, string_split(text, ' ') AS t FROM documents) a,
                UNNEST(range(1, len(t) - 3)) AS u(i)
           WHERE len(t) >= 5),
         tot AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         inter AS (
           SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
           FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
           GROUP BY ALL)
         SELECT i.src_a, i.src_b, i.n_common,
                ((2 * i.n_common * 1000000 + (ta.n + tb.n - i.n_common))
                   // (2 * (ta.n + tb.n - i.n_common))) / 1000000.0
                  AS jaccard
         FROM inter i
         JOIN tot ta ON i.src_a = ta.source
         JOIN tot tb ON i.src_b = tb.source""",

    "q80_span_dedup" ->
      """WITH segs AS (
           SELECT doc_id, CAST(start // 10 AS BIGINT) AS seg_idx,
                  array_to_string(list_slice(toks, start + 1, start + 10), ' ') AS seg_text
           FROM (
             SELECT doc_id, toks, unnest(range(0, len(toks), 10)) AS start
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a) b),
         keyed AS (
           SELECT doc_id, seg_idx, seg_text,
                  row_number() OVER (PARTITION BY md5(seg_text)
                                     ORDER BY doc_id, seg_idx) AS rn
           FROM segs),
         surv AS (
           SELECT doc_id, count(*) AS n_kept,
                  string_agg(seg_text, ' ' ORDER BY seg_idx) AS clean_text
           FROM keyed WHERE rn = 1 GROUP BY doc_id),
         tot AS (
           SELECT doc_id,
                  CAST((len(string_split(text, ' ')) + 9) // 10 AS BIGINT) AS n_segs
           FROM documents)
         SELECT t.doc_id, t.n_segs,
                CAST(coalesce(s.n_kept, 0) AS BIGINT) AS n_kept,
                coalesce(s.clean_text, '') AS clean_text
         FROM tot t LEFT JOIN surv s USING (doc_id)""",

    "q34_ngram_jaccard" ->
      s"""WITH sh0 AS ($duckShingles),
         sh AS (SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0)
           WHERE df <= $maxShingleDf),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, round(inter/(ca.n + cb.n - inter), 4) AS jacc
         FROM inter
         JOIN cnt ca ON ca.doc_id = id_a
         JOIN cnt cb ON cb.doc_id = id_b
         WHERE inter/(ca.n + cb.n - inter) >= 0.3
         ORDER BY id_a, id_b""",

    "q93_containment" ->
      s"""WITH sh0 AS ($duckShingles),
         sh AS (SELECT doc_id, s FROM (
             SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh0)
           WHERE df <= $maxShingleDf),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
                ((2 * inter * 10000 + ca.n) // (2 * ca.n)) / 10000.0 AS cont_a,
                ((2 * inter * 10000 + cb.n) // (2 * cb.n)) / 10000.0 AS cont_b
         FROM inter
         JOIN cnt ca ON ca.doc_id = id_a
         JOIN cnt cb ON cb.doc_id = id_b
         WHERE inter * 5 >= least(ca.n, cb.n) * 4""",

    "q95_containment_verified" ->
      s"""WITH wins AS (
           SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(toks, start + 1, start + 20), ' ')) AS wh
           FROM (
             SELECT doc_id, toks, unnest(range(0, len(toks) - 19)) AS start
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a
             WHERE len(toks) >= 20) b),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM wins a JOIN wins b ON a.wh = b.wh AND a.doc_id < b.doc_id),
         sh0 AS ($duckShingles),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS inter
           FROM cand c
           JOIN sh0 a ON a.doc_id = c.id_a
           JOIN sh0 b ON b.doc_id = c.id_b AND b.s = a.s
           GROUP BY c.id_a, c.id_b)
         SELECT i.id_a, i.id_b,
                ((2 * i.inter * 10000 + ca.n) // (2 * ca.n)) / 10000.0 AS cont_a,
                ((2 * i.inter * 10000 + cb.n) // (2 * cb.n)) / 10000.0 AS cont_b
         FROM inter i
         JOIN cnt ca ON ca.doc_id = i.id_a
         JOIN cnt cb ON cb.doc_id = i.id_b
         WHERE i.inter * 5 >= least(ca.n, cb.n) * 4""",

    "q35_minhash_lsh" ->
      s"""WITH $duckSig,
         banded AS (SELECT doc_id, md5(h0||h1) AS b0, md5(h2||h3) AS b1,
                           md5(h4||h5) AS b2, md5(h6||h7) AS b3 FROM sig),
         buckets AS (
           SELECT doc_id, 0 AS bi, b0 AS bk FROM banded
           UNION ALL SELECT doc_id, 1, b1 FROM banded
           UNION ALL SELECT doc_id, 2, b2 FROM banded
           UNION ALL SELECT doc_id, 3, b3 FROM banded)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM buckets a JOIN buckets b
           ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
         ORDER BY id_a, id_b""",

    "q40_lsh_jaccard_verified" ->
      s"""WITH sh AS ($duckShingles),
         $duckSig,
         banded AS (SELECT doc_id, md5(h0||h1) AS b0, md5(h2||h3) AS b1,
                           md5(h4||h5) AS b2, md5(h6||h7) AS b3 FROM sig),
         buckets AS (
           SELECT doc_id, 0 AS bi, b0 AS bk FROM banded
           UNION ALL SELECT doc_id, 1, b1 FROM banded
           UNION ALL SELECT doc_id, 2, b2 FROM banded
           UNION ALL SELECT doc_id, 3, b3 FROM banded),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM buckets a JOIN buckets b
             ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS inter
           FROM cand c
           JOIN sh a ON a.doc_id = c.id_a
           JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
           GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, round(inter/(ca.n + cb.n - inter), 4) AS jacc
         FROM inter
         JOIN cnt ca ON ca.doc_id = id_a
         JOIN cnt cb ON cb.doc_id = id_b
         WHERE inter/(ca.n + cb.n - inter) >= 0.3
         ORDER BY id_a, id_b""",

    "q49_minhash_estimate" ->
      s"""WITH sh AS ($duckShingles),
         $duckSig,
         banded AS (SELECT doc_id, md5(h0||h1) AS b0, md5(h2||h3) AS b1,
                           md5(h4||h5) AS b2, md5(h6||h7) AS b3 FROM sig),
         buckets AS (
           SELECT doc_id, 0 AS bi, b0 AS bk FROM banded
           UNION ALL SELECT doc_id, 1, b1 FROM banded
           UNION ALL SELECT doc_id, 2, b2 FROM banded
           UNION ALL SELECT doc_id, 3, b3 FROM banded),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM buckets a JOIN buckets b
             ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (
           SELECT c.id_a, c.id_b, count(*) AS inter
           FROM cand c
           JOIN sh a ON a.doc_id = c.id_a
           JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
           GROUP BY c.id_a, c.id_b)
         SELECT c.id_a, c.id_b,
           round((${(0 until nHashes).map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")}) / 8.0, 4) AS est_jacc,
           round(coalesce(i.inter, 0) / (ca.n + cb.n - coalesce(i.inter, 0)), 4) AS jacc
         FROM cand c
         JOIN sig sa ON sa.doc_id = c.id_a
         JOIN sig sb ON sb.doc_id = c.id_b
         LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         JOIN cnt ca ON ca.doc_id = c.id_a
         JOIN cnt cb ON cb.doc_id = c.id_b""",

    "q36_simhash" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         hashed AS (
           SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(w),1,1))-1)*4096 +
             (strpos('0123456789abcdef', substr(md5(w),2,1))-1)*256 +
             (strpos('0123456789abcdef', substr(md5(w),3,1))-1)*16 +
             (strpos('0123456789abcdef', substr(md5(w),4,1))-1) AS h16
           FROM tok),
         votes AS (
           SELECT doc_id,
             ${(0 until 16).map(b => s"sum(CASE WHEN (h16 // ${1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")}
           FROM hashed GROUP BY doc_id),
         sim AS (
           SELECT doc_id,
             CAST(${(0 until 16).map(b => s"(CASE WHEN v$b > 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
           FROM votes)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(CAST(a.simhash AS INTEGER), CAST(b.simhash AS INTEGER))) AS BIGINT) AS dist
         FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(CAST(a.simhash AS INTEGER), CAST(b.simhash AS INTEGER))) <= 2
         ORDER BY id_a, id_b"""
  )
}
