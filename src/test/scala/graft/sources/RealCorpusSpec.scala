package graft.sources

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.tools.CorpusCheck

/** Validation against the reference's real-world binary corpora
  * (441 `.sas7bdat` + 115 `.dta` + 17 `.sav/.zsav` under
  * `/root/reference/tests/{sas,stata,spss}/data` — read-only data inputs).
  *
  * Mirrors the reference's all-files smoke test
  * (`tests/readstat_all_files.rs:12-130`) plus the golden cell values from
  * `tests/sas/regression_tests.rs:10-40` (MIX-page alignment guard) and the
  * publicly documented contents of pyreadstat's `sample.sav`.
  */
class RealCorpusSpec extends SparkSpec {

  private val corpusRoot = new File("/root/reference/tests")

  private def haveCorpus: Boolean = corpusRoot.isDirectory

  test("all real-world corpus files: read fully, rows==metadata, cols==metadata") {
    assume(haveCorpus, s"needs the reference corpus under $corpusRoot (absent)")
    val files = CorpusCheck.corpusFiles()
    assert(files.size >= 500, s"expected the full corpus, found ${files.size} files")
    val failures = new ConcurrentLinkedQueue[CorpusCheck.Result]()
    val pool = Executors.newFixedThreadPool(16)
    files.foreach { f =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val r = CorpusCheck.checkFile(f.getPath)
          if (!r.ok) failures.add(r)
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(15, TimeUnit.MINUTES))
    val bad = failures.asScala.toSeq.sortBy(_.path)
    assert(bad.isEmpty,
      s"${bad.size} corpus failures:\n" + bad.map(r => s"  ${r.path}: ${r.err}").mkString("\n"))
  }

  test("golden values: data_pandas/test1.sas7bdat (MIX-page row alignment)") {
    assume(haveCorpus, s"needs the reference corpus under $corpusRoot (absent)")
    val df = spark.read.format("readstat")
      .load("/root/reference/tests/sas/data/data_pandas/test1.sas7bdat")
    val rows = df.select("Column1", "Column3", "Column8").collect()
    assert(rows.length == 10)
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    // reference `tests/sas/regression_tests.rs:31-39`
    assert(d(rows(7), 0).contains(0.148))
    assert(d(rows(8), 0).isEmpty)
    assert(d(rows(9), 0).contains(0.663))
    assert(d(rows(7), 1).contains(37.0))
    assert(d(rows(8), 1).contains(15.0))
    assert(d(rows(9), 1).isEmpty)
    assert(d(rows(7), 2).contains(8833.0))
    assert(d(rows(8), 2).contains(3227.0))
    assert(d(rows(9), 2).isEmpty)
  }

  test("golden values: spss sample.sav (pyreadstat public fixture)") {
    assume(haveCorpus, s"needs the reference corpus under $corpusRoot (absent)")
    val df = spark.read.format("readstat")
      .load("/root/reference/tests/spss/data/sample.sav")
    val rows = df.collect()
    assert(rows.length == 5)
    val r0 = rows(0)
    assert(r0.getAs[String]("mychar") == "a")
    assert(r0.getAs[Double]("mynum") == 1.1)
    assert(r0.getAs[java.sql.Date]("mydate").toString == "2018-05-06")
    assert(r0.getAs[String]("mylabl") == "Male")
    assert(r0.getAs[String]("myord") == "low")
    assert(rows(1).getAs[String]("mylabl") == "Female")
    assert(rows(2).getAs[Double]("mynum") == -1000.3)
  }

  test("regression locks: labelled/ordered/datetime sav decode") {
    assume(haveCorpus, s"needs the reference corpus under $corpusRoot (absent)")
    // value labels through real files written by SPSS/haven
    val ls = spark.read.format("readstat")
      .load("/root/reference/tests/spss/data/labelled-str.sav").collect()
    assert(ls.map(_.getString(0)).take(2).toSeq == Seq("Male", "Female"))
    val oc = spark.read.format("readstat")
      .load("/root/reference/tests/spss/data/ordered_category.sav").collect()
    assert(oc.map(_.getString(0)).take(4).toSeq == Seq("high", "low", "medium", "low"))
    // date + datetime + time triple from one row (row 1 of datetime.sav)
    val dt = spark.read.format("readstat")
      .load("/root/reference/tests/spss/data/datetime.sav").collect()
    assert(dt(1).getAs[java.sql.Date]("date").toString == "2014-09-23")
    assert(dt(1).getAs[java.time.LocalDateTime]("date.posix").toString.startsWith("2014-09-23"))
    assert(dt(1).getAs[Long]("time") == 57560000000000L) // 15:59:20 in nanos
  }

  test("encoding goldens: umlauts, big5, hebrews, tegulu VLS") {
    assume(haveCorpus, s"needs the reference corpus under $corpusRoot (absent)")
    val um = spark.read.format("readstat")
      .load("/root/reference/tests/spss/data/umlauts.sav").collect()
    assert(um.map(_.getString(0)).toSeq ==
      Seq("the ä umlaut", "the ü umlaut", "the ä umlaut", "the ö umlaut"))

    // cp950.sas7bdat declares encoding byte 118 → CP950/Big5
    val big5 = spark.read.format("readstat")
      .load("/root/reference/tests/sas/data/data_big5/cp950.sas7bdat").collect()
    assert(big5.head.getString(0) == "我愛你")
    // testbig5.sas7bdat *claims* windows-1252 (encoding byte 62) though its
    // bytes are Big5; the reference decodes per the declared charset
    // (`src/sas/encoding.rs:4-150`), so parity = the same 1252 rendering
    val tb = spark.read.format("readstat")
      .load("/root/reference/tests/sas/data/data_big5/testbig5.sas7bdat").collect()
    assert(tb.head.getString(0) == "§Ú·R§A")

    // Hebrew variable names survive the UTF-8 decode
    val heb = spark.read.format("readstat")
      .load("/root/reference/tests/spss/data/hebrews.sav")
    assert(heb.schema.fieldNames.head.exists(c => c >= 'א' && c <= 'ת'))
    assert(heb.count() > 0)

    // VLS merge: 512-byte very long string surfaces as ONE column
    // (reference `tests/spss/smoke_tests.rs:79-94`)
    val teg = spark.read.format("readstat")
      .load("/root/reference/tests/spss/data/tegulu.sav")
    assert(teg.schema.fieldNames.contains("Q16br9oe_Q24br9oe"))
    val s = teg.collect().head.getAs[String]("Q16br9oe_Q24br9oe")
    assert(s.startsWith("నేను")) // Telugu text decodes
  }
}
