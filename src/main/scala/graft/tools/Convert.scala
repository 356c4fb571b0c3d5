package graft.tools

import org.apache.spark.sql.SparkSession

import graft.util.Sessions

/** Bulk lake conversion: `runMain graft.tools.Convert <in> <out> [--strict]`
  * — the capstone composition of the source layer's scale machinery, and
  * the first job a real migration runs: turn a directory tree of
  * `.dta`/`.sav`/`.zsav`/`.sas7bdat` containers into parquet.
  *
  * Default posture is the 100 TB one: `mode=PERMISSIVE` (one corrupt
  * container quarantines with a report instead of failing the load) +
  * `mergeSchema=true` (decades of monthly extracts drift — columns union,
  * types widen along the closed lattice, non-widenable conflicts still
  * fail with a column-named error). `--strict` flips both off for the
  * fail-fast interchange contract. Quarantine reports land in
  * `<out>.badfiles/`.
  *
  * Everything heavy is the existing engine: per-file row-range partitions,
  * projection/filter pushdown (parquet's writer projects nothing away, so
  * this is a full-width scan by design), executor-side decode, and
  * Spark's parquet writer — the driver only plans.
  */
object Convert {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Convert <inputDirOrFile> <outputParquetDir> [--strict]")
    val strict = args.contains("--strict")
    val spark = Sessions.start(Sessions.bench, "graft-convert")
    try {
      val n = convert(spark, args(0), args(1), strict)
      println(s"[convert] wrote $n rows: ${args(0)} -> ${args(1)}" +
        (if (strict) " (strict)" else " (permissive+mergeSchema)"))
    } finally spark.stop()
  }

  /** Library body: read `in` with the lake posture (or strict), write
    * parquet at `out`, return the row count (from the parquet side, so
    * the number reported is what actually landed).
    */
  def convert(spark: SparkSession, in: String, out: String,
      strict: Boolean = false): Long = {
    val reader = spark.read.format("readstat")
    val configured =
      if (strict) reader
      else reader
        .option("mode", "PERMISSIVE")
        .option("badFilesPath", out + ".badfiles")
        .option("mergeSchema", "true")
    configured.load(in).write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }
}
