package graft.operators

import graft.SparkSpec

/** Plan-shape guards for the claims the scaladocs make: map-only operators
  * must not shuffle (their only exchange is the cosmetic output sort's
  * range partitioning), top-k must be TakeOrdered (per-partition heaps),
  * the grouped aggregate must shuffle exactly once, and scans push filters
  * and prune columns. The committed `PLANS.md` shows the full plans.
  */
class PlanShapeSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    graft.SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("map-only text/sampling operators have no exchange at all") {
    // r9 swept the cosmetic corpus-sized output sorts, so these are now
    // pure scan→project→filter plans: not just hash-shuffle-free but free
    // of ANY exchange (a rangepartitioning would mean a global sort grew
    // back)
    for (q <- Seq("q31_text_stats", "q32_lang_score", "q33_fingerprint",
        "q38_quality_score", "q47_stratified_sample", "q58_split_assign",
        "q60_repetition_stats", "q81_hash_quality",
        "q91_bpe_tokens", "q92_winnow_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q claims zero-shuffle map-only but plans an exchange:\n${p.take(800)}")
    }
  }

  test("q30 exact dedup is one hash exchange, no output sort") {
    val p = plan("q30_dedup_exact")
    assert(hashExchanges(p) === 1,
      s"q30 expected exactly the fingerprint-group exchange:\n${p.take(800)}")
    assert(!p.contains("rangepartitioning"),
      "q30 regrew a global output sort (corpus-sized RangePartitioning)")
  }

  test("q57 shuffles once for the window, with no range partitioning") {
    val p = plan("q57_pack_sequences")
    assert(hashExchanges(p) === 1,
      s"q57 expected exactly the per-source window exchange:\n${p.take(800)}")
    assert(!p.contains("rangepartitioning"),
      "q57 regrew a global output sort (corpus-sized RangePartitioning)")
  }

  test("q48 top-k is TakeOrdered, not a global sort") {
    val p = plan("q48_tfidf")
    assert(p.contains("TakeOrderedAndProject"), "q48 lost TakeOrdered")
  }

  test("q59 top-k vocab is TakeOrdered and reuses the frequency exchange (one corpus scan)") {
    // the total-tokens branch derives from the same token-frequency
    // aggregate as the top-k branch; statically that is two identical
    // exchanges, and Spark's exchange reuse must collapse them at runtime
    // so the corpus explode+scan executes ONCE — materialize, then assert
    // on the final adaptive plan
    val df = graft.SparkEntry.queries("q59_vocab_coverage")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "q59 lost TakeOrdered")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"q59's total branch re-executed the corpus scan instead of reusing the exchange:\n${p.take(1200)}")
  }

  test("q66 builds the codebook once: both branches read the cached table") {
    // pqCodebook feeds both pqCodes and the query LUT; exchange reuse does
    // NOT collapse duplicated broadcast-side subtrees (probed empirically —
    // q59's shuffle-side reuse does not apply), so the operator persists
    // the tiny codebook and both consumers must scan the cache, not
    // re-run the corpus aggregation
    spark.catalog.clearCache()
    val df = graft.SparkEntry.queries("q66_pq_adc_topk")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"q66's codebook consumers are not reading the cache:\n${p.take(1200)}")
    df.unpersist(blocking = true)
    spark.catalog.clearCache()
  }

  test("q70 scores probed buckets via a broadcast LUT join — never a corpus nested loop") {
    // the ADC side must be a BroadcastHashJoin against the tiny
    // (query × probed-cell × codebook) LUT keyed on (c_label, subspace,
    // code): rows of unprobed cells drop at the join, so the candidate
    // aggregation never sees the full code table. If those keys degenerate
    // away the join falls back to a nested loop and the bucket bound is
    // gone. (The plan's OTHER nested-loop joins are the deliberate
    // condition-less broadcasts of the ~80-row codebook / 10-row centroid
    // set — the q41/q66 expansion pattern — never a corpus×corpus pair.)
    spark.catalog.clearCache()
    val df = graft.SparkEntry.queries("q70_ivfpq_topk")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[c_label#\\d+, subspace#\\d+, code#\\d+\\]".r
        .findFirstIn(p).isDefined,
      s"q70 lost the (c_label, subspace, code)-keyed broadcast LUT join:\n${p.take(1600)}")
    assert(!p.contains("CartesianProduct"),
      s"q70 plans an unbounded cartesian pair join:\n${p.take(1200)}")
    df.unpersist(blocking = true)
    spark.catalog.clearCache()
  }

  test("q69 reuses the tf exchange: the corpus explodes once") {
    // freq (and through it the log-prob table) derives from the same tf
    // aggregation the per-doc mean consumes — shuffle-side duplicates, so
    // exchange reuse must collapse them (the q59 device; contrast q66's
    // broadcast-side case, which needs the cache contract instead)
    val df = graft.SparkEntry.queries("q69_unigram_surprisal")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"q69 re-ran the corpus explode+tf aggregation instead of reusing it:\n${p.take(1200)}")
  }

  test("q46 grouped percentile shuffles exactly once (partial merge first)") {
    val p = plan("q46_group_percentiles")
    assert(hashExchanges(p) === 1,
      s"q46 expected exactly the aggregation exchange:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "q46 percentile aggregate missing")
  }

  test("q80 span dedup: argmax winner, no per-hash window sort, no self-join blowup") {
    val p = plan("q80_span_dedup")
    assert(!p.contains("Window"),
      s"q80's first-occurrence winner must be the min(struct) agg, not a window sort:\n${p.take(800)}")
    assert(!p.contains("rangepartitioning"),
      "q80 grew a corpus-sized global sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "q80 planned a corpus-sized non-equi join")
  }

  test("q82 reuses the tf exchange: the corpus explodes once despite three consumers") {
    // raw counts, the one-row scalars, and the per-doc weighted sum all
    // chain off the same (doc, source, w) tf aggregation — the conditional
    // target sum exists precisely so no filtered second corpus branch
    // breaks subtree identity (see dsirWeights scaladoc). Statically that
    // is duplicated exchanges; at runtime AQE must collapse them.
    val df = graft.SparkEntry.queries("q82_dsir_weights")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"q82 re-ran the corpus explode+tf aggregation instead of reusing it:\n${p.take(1200)}")
    assert(!p.contains("rangepartitioning"),
      "q82 grew a corpus-sized global sort")
  }

  test("q88 reuses the bigram tf exchange: the corpus explodes once") {
    // bc, cc, the vocab scalar and the per-doc mean all chain off the one
    // (doc, w1, w2) tf aggregation — the q69/q82 discipline applied to the
    // bigram table; without reuse the corpus bigram explode would run up
    // to four times
    val df = graft.SparkEntry.queries("q88_bigram_surprisal")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"q88 re-ran the corpus bigram explode instead of reusing it:\n${p.take(1200)}")
    assert(!p.contains("rangepartitioning"),
      "q88 grew a corpus-sized global sort")
  }

  test("q108 reuses the trigram tf exchange: the corpus explodes once") {
    // t3 (and through it c12/c23/cu2/cu3 and both scalars) chains off the
    // training filter of the SAME (doc, w1, w2, w3) tf aggregation that
    // feeds the scoring join — without reuse the corpus trigram explode
    // would run twice and the model chain would re-shuffle the corpus
    val df = graft.SparkEntry.queries("q108_trigram_backoff")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"q108 re-ran the corpus trigram explode instead of reusing it:\n${p.take(1200)}")
    assert(!p.contains("rangepartitioning"),
      "q108 grew a corpus-sized global sort")
  }

  test("q02 pushes both filters into the parquet scan and reads only its columns") {
    val scans = graft.SparkEntry.queries("q02_filter_project")(spark, d).queryExecution
      .sparkPlan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size === 1)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") && pushed.contains("GreaterThan(l_discount"),
      s"q02 filters not pushed: $pushed")
    assert(scans.head.requiredSchema.fieldNames.toSet === Set("l_orderkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"))
  }

  test("q03 and q06 broadcast their small sides") {
    for (q <- Seq("q03_join3_topk", "q06_broadcast_join"))
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its broadcast join")
  }

  test("q09 top-k is TakeOrdered, not a global sort") {
    val p = plan("q09_sort_topk")
    assert(p.contains("TakeOrderedAndProject") && !p.contains("rangepartitioning"), p)
  }

  test("q01 aggregates partially before its shuffle") {
    val p = plan("q01_agg_pricing")
    assert(p.contains("functions=[partial_sum("), s"q01 lost its partial aggregate:\n$p")
  }

  test("a readstat projection scans only the projected column") {
    val path = java.nio.file.Files.createTempDirectory("graft_plan").resolve("nation.dta").toString
    graft.sources.readstat.stata.DtaWriter.write(spark.read.parquet(s"$d/nation.parquet")
      .selectExpr("CAST(n_nationkey AS double) n_key", "n_name"), path)
    val p = spark.read.format("readstat").load(path).select("n_name")
      .queryExecution.executedPlan.toString
    val scan = p.linesIterator.find(_.contains("BatchScan")).getOrElse(fail(s"no BatchScan:\n$p"))
    assert(scan.contains("n_name") && !scan.contains("n_key"), scan)
  }
}
