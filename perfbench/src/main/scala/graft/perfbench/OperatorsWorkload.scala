package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The operator suite's two readstat round trips over the fixed
  * star-schema tables. Each op collects its query's result; the first
  * pass's result of every query is dumped as parquet for the DuckDB oracle,
  * and every later pass must return the same rows.
  */
final class OperatorsWorkload extends Workload {
  val name = "operators"

  val queries: Seq[String] = Seq("q50_dta_roundtrip_agg", "q56_zsav_roundtrip_agg")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val data: Path = java.nio.file.Paths.get(
    sys.props.getOrElse("perfbench.data", "perfbench/data/sf0.01")).toAbsolutePath
  private var prints: Seq[(String, String)] = Nil
  private val firstResult = scala.collection.mutable.Map[String, (StructType, Array[Row])]()

  def setup(spark: SparkSession, dir: Path): Unit = {
    val missing = tables.filterNot(t => Files.isRegularFile(data.resolve(s"$t.parquet")))
    require(missing.isEmpty, s"missing tables under $data: ${missing.mkString(", ")}")
    // resolve every table's schema once: the set-up a session pays before
    // its first query
    prints = tables.map { t =>
      val p = data.resolve(s"$t.parquet")
      t -> s"${Workload.digest(p)}:${spark.read.parquet(p.toString).schema.size}"
    }
  }

  def fingerprints: Seq[(String, String)] = prints

  private def canonical(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def pass(spark: SparkSession): Seq[Op] = queries.map { q =>
    val fn = graft.SparkEntry.queries(q)
    Op(name, q, "query", 0.0,
      () => { val df = fn(spark, data.toString); (df.schema, df.collect()) },
      { case (schema: StructType, rows: Array[Row] @unchecked) =>
          firstResult.get(q) match {
            case None => firstResult(q) = (schema, rows); None
            case Some((_, first)) =>
              if (canonical(first) == canonical(rows)) None
              else Some(s"$q returned different rows than its first run")
          }
        case other => Some(s"$q: unexpected result $other")
      },
      prep = () => {
        spark.catalog.clearCache()
        if (q.startsWith("q5")) graft.operators.ReadstatQueries.clearCache()
      })
  }

  /** Dumps each query's first result and the oracle SQL for the DuckDB
    * comparison that runs after this JVM exits.
    */
  override def dump(spark: SparkSession, work: Path): Unit = {
    val out = work.resolve("oracle")
    Files.createDirectories(out)
    firstResult.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val sql = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    Files.write(out.resolve("oracle_sql.json"), Json.render(sql).getBytes("UTF-8"))
  }

  def metrics(passes: Seq[PassResult]): Map[String, Metric] = Map.empty

  def layers(spark: SparkSession, trace: Trace, ledger: Ledger,
      traced: PassResult): Map[String, Double] =
    traced.ops.flatMap { r =>
      val q = r.op.name
      Seq(s"op.$q.s" -> r.secs, s"op.$q.task_s" -> r.engine.taskS,
        s"op.$q.shuffle_mb" -> r.engine.shuffleMb,
        s"op.$q.read_mb" -> r.engine.fsBytesRead / 1e6)
    }.toMap
}
