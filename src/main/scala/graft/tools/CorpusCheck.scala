package graft.tools

import java.io.File

import scala.collection.mutable

import graft.sources.readstat.{ReadstatFormats, ReadstatIO, ReadstatInputPartition, ReadstatOptions}
import graft.sources.readstat.{sas, spss, stata}

/** Real-world corpus smoke harness (VERDICT r1 item 1).
  *
  * Mirrors the reference's all-files smoke test
  * (`/root/reference/tests/readstat_all_files.rs:12-130`): for every binary
  * file in a corpus directory — open, parse metadata, read ALL rows through
  * the partition planner + row decoder, and assert
  *   rows read == metadata row_count,
  *   schema length == metadata column count,
  * plus a re-read of the second half via a row-range partition (offset path).
  *
  * Runs module-level (no SparkSession) so 573 files triage in seconds; the
  * DSv2 integration path is covered separately by RealCorpusSpec's
  * spark.read samples.
  */
object CorpusCheck {

  final case class Result(
      path: String,
      ok: Boolean,
      rows: Long,
      expectedRows: Long,
      cols: Int,
      expectedCols: Int,
      err: String)

  /** (rowCount, columnCount) straight from the format's metadata parse. */
  def expected(path: String): (Long, Int) = {
    val file = ReadstatIO.stamp(path)
    ReadstatOptions.detectFormat(path, None) match {
      case "dta" =>
        val in = ReadstatIO.buffered(ReadstatIO.open(path), file.len)
        val meta = try stata.Dta.parseMetadata(stata.Dta.ByteReader(in)) finally in.close()
        (meta.header.nobs, meta.variables.length)
      case "sav" | "zsav" =>
        val meta = spss.SavModule.parseMeta(file)
        (meta.header.rowCount.toLong, meta.variables.length)
      case "sas7bdat" =>
        val meta = sas.SasModule.parseMeta(file)
        (meta.rowCount, meta.columns.length)
    }
  }

  private def countRows(
      path: String,
      fmt: String,
      mod: ReadstatFormats.FormatModule,
      plan: ReadstatFormats.FilePlan,
      opts: ReadstatOptions,
      ranges: Seq[(Long, Long)]): Long = {
    var total = 0L
    for ((start, count) <- ranges if count > 0) {
      val r = mod.reader(ReadstatInputPartition(path, fmt, start, count), plan.context, plan.schema, opts)
      try {
        while (r.next()) { r.get(); total += 1 }
      } finally r.close()
    }
    total
  }

  def checkFile(path: String): Result = {
    try {
      val fmt = ReadstatOptions.detectFormat(path, None)
      val mod = ReadstatFormats.forName(fmt)
      val opts = ReadstatOptions.from(new java.util.HashMap[String, String]())
      val (expRows0, expCols) = expected(path)
      // zero-variable files are metadata-only: no row storage to read
      val expRows = if (expCols == 0) 0L else expRows0
      val plan = mod.parse(ReadstatIO.stamp(path), opts)
      val schema = plan.schema
      val total = countRows(path, fmt, mod, plan, opts, plan.ranges)

      // offset path: re-read the second half through an explicit row range
      val half = expRows / 2
      val tail =
        if (expRows > 1) countRows(path, fmt, mod, plan, opts, Seq((half, expRows - half)))
        else expRows - half
      val rowsOk = expRows < 0 || (total == expRows && tail == expRows - half)
      val colsOk = schema.length == expCols
      Result(path, rowsOk && colsOk, total, expRows, schema.length, expCols,
        if (rowsOk && colsOk) ""
        else if (!rowsOk) s"rows $total/$expRows tail $tail/${expRows - half}"
        else s"cols ${schema.length}/$expCols")
    } catch {
      case e: Throwable =>
        Result(path, ok = false, -1, -1, -1, -1, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  def collect(dir: File, exts: Set[String]): Seq[File] = {
    val out = mutable.ArrayBuffer[File]()
    def walk(d: File): Unit = {
      val entries = Option(d.listFiles()).getOrElse(Array.empty)
      entries.sortBy(_.getName).foreach { f =>
        if (f.isDirectory) { if (f.getName != "too_big") walk(f) }
        else {
          val ext = f.getName.split('.').lastOption.map(_.toLowerCase).getOrElse("")
          if (exts.contains(ext)) out += f
        }
      }
    }
    walk(dir)
    out.toSeq
  }

  def corpusFiles(root: String = "/root/reference/tests"): Seq[File] =
    collect(new File(s"$root/sas/data"), Set("sas7bdat")) ++
      collect(new File(s"$root/stata/data"), Set("dta")) ++
      collect(new File(s"$root/spss/data"), Set("sav", "zsav"))

  def main(args: Array[String]): Unit = {
    val files = if (args.nonEmpty) args.toSeq.map(new File(_)) else corpusFiles()
    var pass = 0
    var fail = 0
    val failures = mutable.ArrayBuffer[Result]()
    val t0 = System.nanoTime()
    files.foreach { f =>
      val r = checkFile(f.getPath)
      if (r.ok) pass += 1
      else { fail += 1; failures += r }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    failures.foreach(r => println(f"FAIL ${r.path}  ${r.err}"))
    println(f"corpus: $pass pass / $fail fail of ${files.size} in $secs%.1f s")
  }
}
