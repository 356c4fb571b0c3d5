package graft.util

import graft.SparkSpec

/** Pins the shared engine config: the profiles differ only in cores,
  * shuffle width and split size, specs run the bench's join planner, and
  * that planner falls back to sort-merge when a build side's map output is
  * over the shuffled-hash-join local-map threshold.
  */
class SessionsSpec extends SparkSpec {

  private val sizing = Set("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize")

  test("test, bench and smoke profiles share one config apart from sizing") {
    val Seq(t, b, s) = Seq(Sessions.test, Sessions.bench, Sessions.smoke).map(_ -- sizing)
    assert(t === Sessions.base && b === Sessions.base && s === Sessions.base)
    assert(Sessions.test("spark.master") === "local[4]")
    assert(Sessions.bench("spark.master") === s"local[${Sessions.cores}]")
    assert(Sessions.bench("spark.sql.shuffle.partitions") === Sessions.cores.toString)
    assert(Sessions.smoke("spark.sql.shuffle.partitions") === (4 * Sessions.cores).toString)
  }

  test("specs run the bench's join planner") {
    assert(SparkSpec.session.conf.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(SparkSpec.session.conf.get(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") === "64m")
  }

  test("a build side over the local-map threshold plans sort-merge, under it shuffled-hash") {
    val conf = spark.conf
    val threshold = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    val keys = Seq(threshold, "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> conf.getOption(k)).toMap
    // two equal sides of ~100 KB of hard-to-compress map output per
    // partition: the static planner picks sort-merge (neither side is much
    // smaller), and AQE turns it into a shuffled-hash join only when every
    // partition of a side fits the threshold
    def side(v: String) = spark.range(0, 20000)
      .selectExpr("id % 5000 AS k", s"sha2(CAST(id AS STRING), 256) AS $v")
    def finalJoin(): String = {
      val j = side("lv").join(side("rv"), "k")
      assert(j.collect().length === 80000)
      val p = j.queryExecution.executedPlan.toString
      Seq("ShuffledHashJoin", "SortMergeJoin").find(p.contains).getOrElse(fail(p))
    }
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
      assert(finalJoin() === "ShuffledHashJoin") // the session's 64m threshold
      conf.set(threshold, "16k")
      assert(finalJoin() === "SortMergeJoin")
    } finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
