package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.sas.SasFixtureWriter
import graft.sources.readstat.spss.SavWriter
import graft.sources.readstat.stata.DtaWriter

/** Informative-null modes across all three formats (SURVEY.md P7,
  * reference `tests/informative_nulls.rs`).
  */
class InformativeNullsSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_in").resolve(name).toString

  test("stata: .a/.z sentinels → separate indicator column") {
    import scala.jdk.CollectionConverters._
    // int32 sentinels: . = 0x7fffffe5, .a = +1, .z = +26
    val schema = StructType(Seq(StructField("x", IntegerType)))
    val rows = Seq(Row(42), Row(0x7fffffe5 + 1), Row(0x7fffffe5 + 26), Row(null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("tagged.dta")
    DtaWriter.write(df, path)

    val back = spark.read.format("readstat")
      .option("informativeNulls", "separate").load(path)
    assert(back.columns.toSeq === Seq("x", "x_null"))
    val got = back.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got === Seq(
      (Some(42), None), (None, Some(".a")), (None, Some(".z")), (None, None)))
  }

  test("stata: struct and merged modes") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("x", IntegerType)))
    val rows = Seq(Row(7), Row(0x7fffffe5 + 2), Row(null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("modes.dta")
    DtaWriter.write(df, path)

    val st = spark.read.format("readstat")
      .option("informativeNulls", "struct").load(path)
    assert(st.schema("x").dataType.isInstanceOf[StructType])
    val sGot = st.selectExpr("x.value", "x.null_indicator").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(sGot === Seq((Some(7), None), (None, Some(".b")), (None, None)))

    val mg = spark.read.format("readstat")
      .option("informativeNulls", "merged").load(path)
    assert(mg.schema("x").dataType === StringType)
    assert(mg.collect().map(r => Option(r.getString(0))).toSeq ===
      Seq(Some("7"), Some(".b"), None))
  }

  test("stata: .a/.b/.z in float and double columns match pandas' tags") {
    // written through DtaWriter.writeRows; the committed copy is what
    // pandas read back (src/test/resources/tagged_missing/generate.py)
    val dir = java.nio.file.Paths.get(
      getClass.getResource("/tagged_missing/expected.json").toURI).getParent
    val path = tmp("tagged_fd.dta")
    TaggedMissing.write(path)
    assert(java.util.Arrays.equals(Files.readAllBytes(java.nio.file.Paths.get(path)),
      Files.readAllBytes(dir.resolve("tagged.dta"))),
      "writeRows no longer writes the committed tagged.dta")
    val exp = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(dir.resolve("expected.json").toFile).get("rows")
    // pandas' view per cell: a number, "." (system missing) or ".a"-".z"
    val want = (0 until exp.size()).map(i => (0 until 2).map { c =>
      val n = exp.get(i).get(c)
      if (n.isNumber) Left(n.asDouble()) else Right(n.asText())
    })
    assert(want.flatten.collect { case Right(t) if t != "." => t }.distinct === Seq(".a", ".b", ".z"))

    val sep = spark.read.format("readstat")
      .option("informativeNulls", "separate").load(path)
    assert(sep.columns.toSeq === Seq("f", "f_null", "d", "d_null"))
    val sRows = sep.collect()
    assert(sRows.length === want.size)
    for ((r, w) <- sRows.zip(want); c <- 0 until 2) {
      val (v, ind) = (Option(r.get(2 * c)).map(_.toString.toDouble), Option(r.getString(2 * c + 1)))
      w(c) match {
        case Left(x) => assert((v, ind) === (Some(x), None))
        case Right(".") => assert((v, ind) === (None, None))
        // the value column keeps NaN for a tag (reference parity)
        case Right(tag) => assert(v.exists(_.isNaN) && ind === Some(tag), s"$r vs $tag")
      }
    }

    val mg = spark.read.format("readstat")
      .option("informativeNulls", "merged").load(path)
    assert(mg.schema.map(_.dataType) === Seq(StringType, StringType))
    for ((r, w) <- mg.collect().zip(want); c <- 0 until 2) w(c) match {
      case Left(x) => assert(r.getString(c).toDouble === x)
      case Right(".") => assert(r.getString(c) === null)
      case Right(tag) => assert(r.getString(c) === tag)
    }
  }

  test("spss: declared discrete missings → null + indicator") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("code", DoubleType)))
    val rows = Seq(Row(1.0), Row(97.0), Row(99.0), Row(null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("missing.sav")
    SavWriter.write(df, path, missingValues = Map("code" -> Seq(97.0, 99.0)))

    // without informative nulls: declared missings are plain nulls
    val plain = spark.read.format("readstat").load(path)
    assert(plain.collect().map(r => Option(r.get(0))).toSeq ===
      Seq(Some(1.0), None, None, None))

    val sep = spark.read.format("readstat")
      .option("informativeNulls", "separate").load(path)
    assert(sep.columns.toSeq === Seq("code", "code_null"))
    assert(sep.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq ===
      Seq((Some(1.0), None), (None, Some("97")), (None, Some("99")), (None, None)))
  }

  test("sas: .A-.Z NaN tags → indicator") {
    import scala.jdk.CollectionConverters._
    def tagged(letter: Char): Double = {
      val typeByte = (0xFF ^ (letter.toInt)).toLong // 'A' → 0xBE
      java.lang.Double.longBitsToDouble(0x7ff0000000000000L | (typeByte << 40))
    }
    val schema = StructType(Seq(StructField("v", DoubleType)))
    val rows = Seq(Row(5.5), Row(tagged('A')), Row(tagged('Z')), Row(null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("tagged.sas7bdat")
    SasFixtureWriter.write(df, path)

    val sep = spark.read.format("readstat")
      .option("informativeNulls", "separate").load(path)
    assert(sep.columns.toSeq === Seq("v", "v_null"))
    assert(sep.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq ===
      Seq((Some(5.5), None), (None, Some(".A")), (None, Some(".Z")), (None, None)))
  }

  test("merged mode renders date/time columns (r4: previously threw)") {
    import scala.jdk.CollectionConverters._
    // --- dta %td with a .a-tagged missing: write the raw int days (stata
    // 1960 epoch), then patch the display format to %td so the reader types
    // the column as a date — the writer has no way to emit tagged missings
    // for DateType directly
    val days = java.time.LocalDate.parse("2021-06-01").toEpochDay.toInt
    val schema = StructType(Seq(StructField("d", IntegerType)))
    val rows = Seq(Row(days + 3653), Row(0x7fffffe5 + 1), Row(null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("merged_td.dta")
    DtaWriter.write(df, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val marker = "<formats>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val at = bytes.indexOfSlice(marker)
    assert(at > 0)
    val fmt = "%td".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    java.util.Arrays.fill(bytes, at + marker.length, at + marker.length + 57, 0.toByte)
    System.arraycopy(fmt, 0, bytes, at + marker.length, fmt.length)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    // sanity: the patched column reads back as a date without the option
    assert(spark.read.format("readstat").load(path).schema("d").dataType === DateType)
    val mg = spark.read.format("readstat")
      .option("informativeNulls", "merged").load(path)
    assert(mg.schema("d").dataType === StringType)
    assert(mg.collect().map(r => Option(r.getString(0))).toSeq ===
      Seq(Some("2021-06-01"), Some(".a"), None))

    // --- sav DATE with a declared-missing date code
    val missRaw = (java.time.LocalDate.parse("1999-12-31").toEpochDay * 86400L +
      12219379200L).toDouble
    val schema2 = StructType(Seq(StructField("d", DateType)))
    val rows2 = Seq(Row(java.sql.Date.valueOf("2021-06-01")),
      Row(java.sql.Date.valueOf("1999-12-31")), Row(null))
    val df2 = spark.createDataFrame(rows2.asJava, schema2)
    val path2 = tmp("merged_date.sav")
    SavWriter.write(df2, path2, missingValues = Map("d" -> Seq(missRaw)))
    val mg2 = spark.read.format("readstat")
      .option("informativeNulls", "merged").load(path2)
    assert(mg2.schema("d").dataType === StringType)
    assert(mg2.collect().map(r => Option(r.getString(0))).toSeq ===
      Seq(Some("2021-06-01"), Some("13165977600"), None))

    // --- sas DATETIME: value rows render, plain missing stays null
    val schema3 = StructType(Seq(StructField("t", TimestampNTZType)))
    val rows3 = Seq(
      Row(java.time.LocalDateTime.parse("2021-06-01T12:34:56")),
      Row(java.time.LocalDateTime.parse("2021-06-01T12:34:56.789")), Row(null))
    val df3 = spark.createDataFrame(rows3.asJava, schema3)
    val path3 = tmp("merged_dt.sas7bdat")
    SasFixtureWriter.write(df3, path3)
    val mg3 = spark.read.format("readstat")
      .option("informativeNulls", "merged").load(path3)
    assert(mg3.schema("t").dataType === StringType)
    assert(mg3.collect().map(r => Option(r.getString(0))).toSeq ===
      Seq(Some("2021-06-01 12:34:56"), Some("2021-06-01 12:34:56.789000"), None))
  }

  test("indicator name colliding with a real column errors (ref lib.rs:165-183)") {
    import scala.jdk.CollectionConverters._
    // a file that REALLY contains `x_null` next to `x`: the default suffix
    // would duplicate the name, so the read must fail naming the collision
    val schema = StructType(Seq(StructField("x", IntegerType), StructField("x_null", IntegerType)))
    val df = spark.createDataFrame(Seq(Row(1, 2)).asJava, schema)
    val path = tmp("collide.dta")
    DtaWriter.write(df, path)
    val e = intercept[Exception] {
      spark.read.format("readstat")
        .option("informativeNulls", "separate").load(path).collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .filter(_ != null)).mkString(" | ")
    assert(rootMsg(e).contains("x_null"))
    // a different suffix avoids the collision
    val ok = spark.read.format("readstat")
      .option("informativeNulls", "separate")
      .option("informativeNullSuffix", "_miss").load(path)
    assert(ok.columns.toSeq === Seq("x", "x_miss", "x_null", "x_null_miss"))
  }

  test("informativeNullColumns restricts tracking") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", IntegerType)))
    val rows = Seq(Row(1, 2))
    val df = spark.createDataFrame(rows.asJava, schema)
    val path = tmp("cols.dta")
    DtaWriter.write(df, path)
    val back = spark.read.format("readstat")
      .option("informativeNulls", "separate")
      .option("informativeNullColumns", "b").load(path)
    assert(back.columns.toSeq === Seq("a", "b", "b_null"))
  }
}

/** The tagged-missing dta behind `src/test/resources/tagged_missing`: a
  * float and a double column holding a value, Stata's `.a`, `.b` and `.z`
  * (float 0x7F000000 + k·0x800, double 0x7FE0000000000000 + k·2^40) and
  * the system missing. Regenerate the committed file and its pandas view
  * with `sbt "Test/runMain graft.sources.TaggedMissing <dir>"`, then
  * `python3 src/test/resources/tagged_missing/generate.py <dir>`.
  */
object TaggedMissing {
  private def f(k: Int) = java.lang.Float.valueOf(java.lang.Float.intBitsToFloat(0x7F000000 + k * 0x800))
  private def d(k: Int) = java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(0x7FE0000000000000L + (k.toLong << 40)))

  def write(path: String): Unit = {
    val schema = StructType(Seq(StructField("f", FloatType), StructField("d", DoubleType)))
    val rows = Seq(Row(1.5f, 2.25), Row(f(1), d(1)), Row(f(2), d(2)), Row(f(26), d(26)),
      Row(null, null), Row(-3.0f, d(2)))
    DtaWriter.writeRows(schema, rows.iterator, path, Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args.headOption.getOrElse("/tmp/tagged_missing"))
    Files.createDirectories(dir)
    write(dir.resolve("tagged.dta").toString)
  }
}
