package graft.sources

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Independent oracle for the single-container commit: the committed
  * `src/test/resources/commit_oracle` files were written by the sequential
  * assembler that the parallel render/stitch commit replaced, and their
  * expected values come from pandas 2.2.2's own dta and sas7bdat readers
  * (`generate.py` there). No Python runs at test time.
  *
  * No independent SPSS reader is installed (pyreadstat is absent), so sav
  * and zsav have no pandas oracle; `ParallelCommitSpec` covers them against
  * a one-partition write and the bytecode stream instead.
  */
class CommitOracleSpec extends SparkSpec {

  private val dir = Paths.get(getClass.getResource("/commit_oracle/expected.json").toURI).getParent

  private lazy val expected = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(dir.resolve("expected.json").toFile)

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  /** Our value in expected.json's vocabulary (numbers as doubles, dates
    * and datetimes as ISO text to the millisecond).
    */
  private def canon(v: Any): Any = v match {
    case null => null
    case d: java.time.LocalDate => tsFmt.format(d.atStartOfDay)
    case d: java.sql.Date => tsFmt.format(d.toLocalDate.atStartOfDay)
    case t: java.time.LocalDateTime => tsFmt.format(t)
    case n: java.lang.Number => n.doubleValue()
    case s: String => s
    case x => fail(s"unexpected value $x (${x.getClass})")
  }

  private def jsonCell(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isNull) null else if (n.isNumber) n.asDouble() else n.asText()

  for ((name, _, _) <- CommitOracle.Files) {
    test(s"our reader returns pandas' values for $name") {
      val exp = expected.get(name)
      val cols = (0 until exp.get("columns").size()).map(exp.get("columns").get(_).asText())
      val back = spark.read.format("readstat").load(dir.resolve(name).toString)
      assert(back.columns.toSeq === cols)
      val ours: Array[Row] = back.collect().sortBy(r => canon(r.get(0)).asInstanceOf[Double])
      val rows = exp.get("rows")
      assert(ours.length === rows.size())
      for (i <- ours.indices; c <- cols.indices) {
        val want = jsonCell(rows.get(i).get(c))
        val got = canon(ours(i).get(c))
        assert(got == want, s"$name row $i col ${cols(c)}")
      }
    }
  }

  test("re-writing the oracle frame at 3 partitions reproduces every file byte for byte") {
    val out = Files.createTempDirectory("graft_oracle")
    CommitOracle.writeAll(spark, out.toString)
    for ((name, _, _) <- CommitOracle.Files) {
      val want = Files.readAllBytes(dir.resolve(name))
      val got = Files.readAllBytes(out.resolve(name))
      assert(got.length === want.length, name)
      assert(java.util.Arrays.equals(got, want), s"$name differs from the committed oracle")
    }
  }
}
