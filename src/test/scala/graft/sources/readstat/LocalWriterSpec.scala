package graft.sources.readstat

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.readstat.sas.SasFixtureWriter
import graft.sources.readstat.spss.SavWriter
import graft.sources.readstat.stata.DtaWriter

/** The local Row writers (`DtaWriter.writeRows`, `SavWriter.writeRows`,
  * `SasFixtureWriter.writeRowsStreaming`) need no SparkSession; a failed
  * write closes its output and leaves no file behind.
  */
class LocalWriterSpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("id", IntegerType), StructField("s", StringType)))
  private val widths = Map("s" -> 3)

  /** `n` rows, string `s` of three bytes except at row `longAt`. */
  private def rows(n: Int, longAt: Int = -1): Iterator[Row] =
    Iterator.tabulate(n)(i => Row(i, if (i == longAt) "toolong" else f"${i % 1000}%03d"))

  private def target(name: String): Path = Files.createTempDirectory("graft_lw").resolve(name)

  /** Descriptors of this process open on `p` (Linux; none elsewhere). */
  private def openOn(p: Path): Seq[String] = {
    val fds = Paths.get("/proc/self/fd")
    if (!Files.isDirectory(fds)) return Nil
    val ls = Files.list(fds)
    try ls.toArray.toSeq.flatMap { fd =>
      scala.util.Try(Files.readSymbolicLink(fd.asInstanceOf[Path]).toString).toOption
    }.filter(_.startsWith(p.toString))
    finally ls.close()
  }

  /** `write` throws an IllegalArgumentException naming `what`; no file or
    * open descriptor is left at `p`.
    */
  private def failsClean(p: Path, what: String)(write: => Any): Unit = {
    val e = intercept[IllegalArgumentException](write)
    assert(e.getMessage.contains(what), e.getMessage)
    assert(!Files.exists(p), s"$p left behind")
    assert(openOn(p).isEmpty, s"$p still open")
  }

  // the long string sits in the second chunk: earlier chunks are on disk
  private val longAt = Spill.ChunkRows + 10

  test("dta: a string longer than its width fails the write and leaves no file") {
    val p = target("t.dta")
    failsClean(p, "string too long")(
      DtaWriter.writeRows(schema, rows(longAt + 5, longAt), p.toString, widths))
  }

  test("sav and zsav: a string longer than its width fails the write and leaves no file") {
    for ((file, zsav) <- Seq("t.sav" -> false, "t.zsav" -> true)) {
      val p = target(file)
      failsClean(p, "string too long")(SavWriter.writeRows(schema, rows(longAt + 5, longAt),
        p.toString, widths, compress = false, valueLabels = Map.empty, zsav = zsav))
    }
  }

  test("sas7bdat: a string longer than its width fails the write and leaves no file") {
    val p = target("t.sas7bdat")
    failsClean(p, "string too long")(SasFixtureWriter.writeRowsStreaming(
      schema, rows(longAt + 5, longAt), p.toString, widths, longAt + 5L))
  }

  test("a failing row iterator leaves no file") {
    val p = target("t.dta")
    val failing = rows(longAt) ++ Iterator(0).map[Row](_ => throw new IllegalArgumentException("source failed"))
    failsClean(p, "source failed")(DtaWriter.writeRows(schema, failing, p.toString, widths))
  }

  test("sas7bdat: an iterator with more or fewer rows than declared fails the write") {
    val more = target("more.sas7bdat")
    failsClean(more, "more than 5 rows")(
      SasFixtureWriter.writeRowsStreaming(schema, rows(6), more.toString, widths, 5L))
    val fewer = target("fewer.sas7bdat")
    failsClean(fewer, "iterator ended at 4 of 5")(
      SasFixtureWriter.writeRowsStreaming(schema, rows(4), fewer.toString, widths, 5L))
    val exact = target("exact.sas7bdat")
    assert(SasFixtureWriter.writeRowsStreaming(schema, rows(5), exact.toString, widths, 5L) === 5L)
  }

  test("writes of one schema on several threads at once write the same bytes") {
    val want = target("seq.dta")
    DtaWriter.writeRows(schema, rows(3 * Spill.ChunkRows), want.toString, widths)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val outs = (0 until 6).map(k => target(s"par$k.dta"))
      outs.map(p => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = DtaWriter.writeRows(schema, rows(3 * Spill.ChunkRows), p.toString, widths)
      })).foreach(_.get())
      outs.foreach(p => assert(java.util.Arrays.equals(Files.readAllBytes(p), Files.readAllBytes(want)), p))
    } finally pool.shutdown()
  }

  test("dates and timestamps: java.sql and java.time values write the same bytes") {
    val sch = StructType(Seq(StructField("d", DateType), StructField("ts", TimestampType)))
    val days = Seq(-3653L, 0L, 18000L, 20000L)
    val sql = days.map(d => Row(java.sql.Date.valueOf(LocalDate.ofEpochDay(d)),
      new java.sql.Timestamp(d * 86400000L + 1234L)))
    val java8 = days.map(d => Row(LocalDate.ofEpochDay(d),
      java.time.Instant.ofEpochMilli(d * 86400000L + 1234L)))
    val a = target("a.dta")
    val b = target("b.dta")
    DtaWriter.writeRows(sch, sql.iterator, a.toString, Map.empty)
    DtaWriter.writeRows(sch, java8.iterator, b.toString, Map.empty)
    assert(java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b)))
  }
}
