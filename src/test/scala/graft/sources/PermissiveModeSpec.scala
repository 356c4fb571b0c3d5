package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `mode=PERMISSIVE` file-level quarantine (r10 verdict #1): in a
  * multi-file load, a corrupt container is skipped-and-reported instead of
  * failing the whole read; FAILFAST (the default, pinned by
  * CorruptFileSpec) still throws. The reference's closest analogue is its
  * clean-prefix stop for truncated SAS (`src/sas/data.rs:538-545`) —
  * PERMISSIVE generalizes that posture to every format at file
  * granularity, which a 100 TB multi-file lake load needs (one truncated
  * or half-uploaded container always exists).
  */
class PermissiveModeSpec extends SparkSpec {

  private def mkCorpus(): (String, String) = {
    val dir = Files.createTempDirectory("graft_permissive")
    val sp = spark
    import sp.implicits._
    for (i <- 0 until 3) {
      (0 until 1000).map(j => (i * 1000 + j).toDouble).toDF("x")
        .coalesce(1)
        .write.format("readstat").mode("overwrite")
        .save(dir.resolve(s"part$i.dta").toString)
    }
    val bad = dir.resolve("part3_garbage.dta").toString
    Files.write(Paths.get(bad), Array.fill[Byte](4096)(0x5A))
    (dir.toString, bad)
  }

  test("PERMISSIVE: corrupt container is quarantined, good files all arrive, bad path reported") {
    val (dir, bad) = mkCorpus()
    val badDir = Files.createTempDirectory("graft_badfiles").toString
    val df = spark.read.format("readstat")
      .option("mode", "PERMISSIVE").option("badFilesPath", badDir)
      .load(dir)
    val xs = df.select("x").collect().map(_.getDouble(0)).sorted
    assert(xs.length === 3000, "every good file's rows must arrive")
    assert(xs.head === 0.0 && xs.last === 2999.0)
    assert(xs.toSeq === (0 until 3000).map(_.toDouble))
    val reports = new java.io.File(badDir).listFiles().filter(_.getName.endsWith(".json"))
    assert(reports.nonEmpty, "quarantine must write a bad-file record")
    val body = reports.map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(body.contains(bad), s"report must name the bad path, got: $body")
    assert(body.contains("\"stage\""))
  }

  test("FAILFAST default: the same corrupt multi-file load throws") {
    val (dir, _) = mkCorpus()
    val e = intercept[Exception] {
      spark.read.format("readstat").load(dir).collect()
    }
    assert(e != null)
  }

  test("PERMISSIVE: truncated container yields its clean prefix, reported at the read stage") {
    val (dir, _) = mkCorpus()
    // a fourth file that parses its header+metadata but truncates mid-data:
    // quarantine happens executor-side (stage "read"), the intact prefix
    // stands, all other files stay complete
    val sp = spark
    import sp.implicits._
    val p = Paths.get(dir).resolve("part4_trunc.dta").toString
    (0 until 50000).map(j => 100000.0 + j).toDF("x")
      .coalesce(1).write.format("readstat").mode("overwrite").save(p)
    val bytes = Files.readAllBytes(Paths.get(p))
    Files.write(Paths.get(p), java.util.Arrays.copyOf(bytes, (bytes.length * 0.6).toInt),
      StandardOpenOption.TRUNCATE_EXISTING)
    val badDir = Files.createTempDirectory("graft_badfiles_read").toString
    val xs = spark.read.format("readstat")
      .option("mode", "PERMISSIVE").option("badFilesPath", badDir)
      .load(dir)
      .select("x").collect().map(_.getDouble(0)).sorted
    val dbg = Option(new java.io.File(badDir).listFiles()).getOrElse(Array.empty)
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
    info(s"quarantine reports: $dbg")
    val good = xs.filter(_ < 100000.0)
    val prefix = xs.filter(_ >= 100000.0)
    assert(good.toSeq === (0 until 3000).map(_.toDouble), "good files must be complete")
    assert(prefix.length > 0 && prefix.length < 50000,
      s"truncated file must yield a non-empty strict prefix, got ${prefix.length}")
    assert(prefix.zipWithIndex.forall { case (v, i) => v == 100000.0 + i },
      "prefix values must be the intact leading rows, never garbage")
    val body = new java.io.File(badDir).listFiles()
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8")).mkString
    assert(body.contains("part4_trunc.dta") && body.contains("read"))
  }

  test("PERMISSIVE: count() comes from the scan, not metadata (quarantine distrust)") {
    val (dir, _) = mkCorpus()
    val df = spark.read.format("readstat").option("mode", "PERMISSIVE").load(dir)
    assert(df.count() === 3000L)
    // the metadata COUNT(*) shortcut must not plan in permissive mode — a
    // truncated body scans fewer rows than its header claims
    val counted = df.groupBy().count()
    assert(ScanStatisticsSpec.scans(counted) === ((0, 1)),
      s"permissive count must scan:\n${counted.queryExecution.executedPlan}")
    assert(counted.collect()(0).getLong(0) === 3000L)
  }

  test("unknown mode value fails with a named error") {
    val e = intercept[Exception] {
      spark.read.format("readstat").option("mode", "DROPMALFORMED")
        .load("/nonexistent.dta").schema
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("unsupported mode")), s"got: ${msgs(e)}")
  }
}
