package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Planning is left to
  * Catalyst, so the engine config decides which join strategy a query
  * gets; specs, the scale smoke, the tools and the bench therefore all
  * start from the same `base` and differ only in cores, shuffle width and
  * split size (the profiles below).
  *
  * perfbench builds its own session (`perfbench.Main.newSession`), which
  * mirrors the `bench` profile.
  */
object Sessions {

  /** Engine config shared by every profile. */
  val base: Map[String, String] = Map(
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // shuffled-hash joins where the per-partition build side fits: a
    // sort-merge join pays two sorts the hash join skips. AQE still plans
    // sort-merge when a build side's map output is over the threshold.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    // events.parquet has TIMESTAMP(NANOS); read as nano longs (exact)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Cores for the bench and smoke profiles: `SPARK_GRAFT_CPUS`, else
    * every core of this machine.
    */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def sized(cores: Int, shufflePartitions: Int): Map[String, String] =
    base ++ Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString)

  /** Specs: four cores and four reducers, whatever the machine. */
  def test: Map[String, String] = sized(4, 4)

  /** Bench, Verify and the tools: one reducer per core. */
  def bench: Map[String, String] = sized(cores, cores)

  /** The scale smoke emulates a large lake's shape on small data: four
    * reducer waves per core, 1 MB file splits (the 10× corpus is ~25 MB
    * of parquet, which default split sizing packs into one task) and 1 MB
    * AQE partitions (AQE's 64 MB advisory size would coalesce every
    * shuffle of the corpus into one partition).
    */
  def smoke: Map[String, String] = sized(cores, 4 * cores) ++ Map(
    "spark.sql.files.maxPartitionBytes" -> (1L << 20).toString,
    "spark.sql.files.openCostInBytes" -> (64L << 10).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (1L << 20).toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> (256L << 10).toString)

  /** The session for `profile` (an existing one if this JVM has it). */
  def start(profile: Map[String, String], appName: String): SparkSession = {
    val spark = profile.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
