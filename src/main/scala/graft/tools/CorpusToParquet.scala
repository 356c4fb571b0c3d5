package graft.tools

import java.io.File

import graft.util.Sessions

/** Dumps every corpus `.sas7bdat`/`.dta` through the DSv2 source to parquet
  * (raw codes, no value-label decode) so an INDEPENDENT parser (pandas
  * read_sas / read_stata, driver-side python) can cross-check our decoded
  * values cell by cell — `tools/corpus_crosscheck.py` consumes the output.
  */
object CorpusToParquet {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/corpus_parquet"
    val spark = Sessions.start(Sessions.bench, "graft-corpus-to-parquet")
    val files = CorpusCheck.corpusFiles().filter { f =>
      val n = f.getName.toLowerCase
      n.endsWith(".sas7bdat") || n.endsWith(".dta")
    }
    var ok = 0
    var failed = 0
    files.foreach { f =>
      // unique name: parent-dir prefix avoids test1.sas7bdat collisions
      val rel = f.getPath.split('/').takeRight(2).mkString("__")
      try {
        val df = spark.read.format("readstat")
          .option("valueLabelsAsStrings", "false")
          .load(f.getPath)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$rel.parquet")
        ok += 1
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[dump] FAIL ${f.getPath}: ${e.getMessage}")
      }
    }
    println(s"dumped $ok of ${files.size} ($failed failed) to $outDir")
    spark.stop()
  }
}
