package graft.operators

import graft.SparkSpec

/** Executed pin for the RUNTIME half of the skew story: q29's salted join
  * is the manual/deterministic path; this spec proves the planner's own
  * escape — AQE's OptimizeSkewedJoin — actually engages on a hot key,
  * splitting the oversized partition into parallel sub-joins at runtime
  * (`skew=true` on the shuffled join in the final adaptive plan). Under
  * the shared engine config the hot join plans as a shuffled-hash join;
  * with the build side over the local-map threshold it stays sort-merge,
  * and the split must engage on both. Same
  * discipline as BucketedJoinSpec: the claim "at 100 TB, skewed keys take
  * salting or AQE skew-join" is asserted on an executed plan, not just
  * documented. Thresholds are scaled down to the test data (a hot
  * partition of ~2 MB vs a 256 KB skew threshold) — the RATIO shape is
  * what a real cluster sees with the default 256 MB threshold.
  */
class AqeSkewJoinSpec extends SparkSpec {

  test("AQE splits the hot key's partition at runtime (skew=true in the final plan)") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
    val old = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffled join
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      import spark.implicits._
      // 100k rows on ONE key + a uniform spread: the classic hot-key join
      val left = ((1 to 100000).map(i => (0L, i.toLong)) ++
        (1 to 10000).map(i => ((i % 200 + 1).toLong, i.toLong)))
        .toDF("k", "lv")
      val right = (0 to 200).map(i => (i.toLong, s"r$i")).toDF("k", "rv")

      def finalPlan(): String = {
        val joined = left.join(right, "k")
        // execute THIS QueryExecution (count() would plan a separate query
        // and leave this one un-executed, isFinalPlan=false)
        assert(joined.collect().length == 110000)
        joined.queryExecution.executedPlan.toString
      }
      // the FINAL adaptive plan (post-execution) must show the skew split,
      // on the shuffled-hash join the shared config plans here ...
      val shj = finalPlan()
      assert(shj.contains("ShuffledHashJoin(skew=true)"),
        s"expected an AQE skew-split shuffled-hash join, got:\n$shj")
      // ... and on the sort-merge join a build side over the threshold gets
      conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
      val smj = finalPlan()
      assert(smj.contains("SortMergeJoin(skew=true)"),
        s"expected an AQE skew-split sort-merge join, got:\n$smj")

      // control: with the skew optimization off, the SAME join executes
      // without a skew split — the pin above is the optimization engaging,
      // not a string that happens to always be there
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val control = left.join(right, "k")
      assert(control.collect().length == 110000)
      assert(!control.queryExecution.executedPlan.toString.contains("skew=true"))
    } finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
