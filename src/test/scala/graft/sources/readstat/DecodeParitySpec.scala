package graft.sources.readstat

import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.sas.{RleEncode, Sas, SasFixtureWriter}
import graft.sources.readstat.spss.SavWriter
import graft.sources.readstat.stata.{Dta, DtaWriter}

/** One decode surface for every format: each container below has a
  * numeric column `x` and a date column `d` that carry tagged missings
  * (dta, sas7bdat) or declared missings (sav), plus a string `s`. Every
  * `informativeNulls` mode (unset, separate, struct, merged) must return
  * the same values on the row path and on the columnar path, and a pushed
  * filter on an indicator or a merged column must keep exactly the rows
  * that match it.
  */
class DecodeParitySpec extends SparkSpec {
  import DecodeParitySpec.Tags

  private val N = 48
  private val base = LocalDate.of(2021, 6, 1)

  // row model: x = 3i except i%6 ∈ {1, 2} (tagged / declared missing) and
  // i%6 == 3 (system missing); d = base + i except i%6 == 4 (tagged /
  // declared missing) and i%6 == 5 (system missing)
  private def xVal(i: Int): Option[Double] = if (Set(1, 2, 3)(i % 6)) None else Some(i * 3.0)
  private def xTag(i: Int, t: Tags): Option[String] =
    if (i % 6 == 1) Some(t.xa) else if (i % 6 == 2) Some(t.xb) else None
  private def dVal(i: Int): Option[LocalDate] = if (Set(4, 5)(i % 6)) None else Some(base.plusDays(i))
  private def dTag(i: Int, t: Tags): Option[String] = if (i % 6 == 4) Some(t.d) else None
  private def sVal(i: Int): String = s"v$i"

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_parity").resolve(name).toString

  private def dtaFile(): String = {
    // int32 sentinels: . = 0x7fffffe5, .a = +1, .b = +2, .c = +3; the date
    // column's raw cell is days since 1960
    val miss = 0x7fffffe5
    val path = tmp("parity.dta")
    val rows = (0 until N).map { i =>
      val x: Any = i % 6 match {
        case 1 => miss + 1
        case 2 => miss + 2
        case 3 => null
        case _ => i * 3
      }
      val d: Any = i % 6 match {
        case 4 => Integer.valueOf((miss + 3 - Dta.EpochShiftDays).toInt)
        case 5 => null
        case _ => Integer.valueOf(base.plusDays(i).toEpochDay.toInt)
      }
      Row(x, d, sVal(i))
    }
    DtaWriter.writeRows(StructType(Seq(StructField("x", IntegerType),
      StructField("d", DateType), StructField("s", StringType))),
      rows.iterator, path, Map("s" -> 3))
    path
  }

  private val savMissingDate = LocalDate.of(1999, 12, 31)

  private def savFile(name: String, compress: Boolean): String = {
    val path = tmp(name)
    val rows = (0 until N).map { i =>
      val x: Any = i % 6 match {
        case 1 => 97.0
        case 2 => 99.0
        case 3 => null
        case _ => i * 3.0
      }
      val d: Any = i % 6 match {
        case 4 => java.sql.Date.valueOf(savMissingDate)
        case 5 => null
        case _ => java.sql.Date.valueOf(base.plusDays(i))
      }
      Row(x, d, sVal(i))
    }
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(StructField("x", DoubleType),
      StructField("d", DateType), StructField("s", StringType))))
    // SPSS dates are seconds since 1582-10-14
    val missRaw = (savMissingDate.toEpochDay * 86400L + 12219379200L).toDouble
    SavWriter.write(df, path, compress = compress,
      missingValues = Map("x" -> Seq(97.0, 99.0), "d" -> Seq(missRaw)))
    path
  }

  /** A sas7bdat whose row bytes the spec lays out itself: the date column
    * carries a tagged NaN, which no Spark DateType value can express.
    */
  private def sasFile(name: String, rle: Boolean): String = {
    val path = tmp(name)
    val schema = StructType(Seq(StructField("x", DoubleType),
      StructField("d", DateType), StructField("s", StringType)))
    val widths = Map("s" -> 3)
    val rowLength = SasFixtureWriter.colsFor(schema, widths).map(_.length).sum
    assert(rowLength === 19)
    def tagged(letter: Char): Long = 0x7ff0000000000000L | ((0xFF ^ letter.toInt).toLong << 40)
    val systemMissing = 0x7ff0000000000001L
    def put(b: Array[Byte], off: Int, bits: Long): Unit =
      (0 until 8).foreach(k => b(off + k) = ((bits >> (8 * k)) & 0xff).toByte)
    val rows = (0 until N).map { i =>
      val b = new Array[Byte](rowLength)
      put(b, 0, i % 6 match {
        case 1 => tagged('A')
        case 2 => tagged('B')
        case 3 => systemMissing
        case _ => java.lang.Double.doubleToRawLongBits(i * 3.0)
      })
      put(b, 8, i % 6 match {
        case 4 => tagged('C')
        case 5 => systemMissing
        case _ => java.lang.Double.doubleToRawLongBits(
          (base.plusDays(i).toEpochDay + Sas.EpochShiftDays).toDouble)
      })
      java.util.Arrays.fill(b, 16, 19, ' '.toByte)
      val s = sVal(i).getBytes("UTF-8")
      System.arraycopy(s, 0, b, 16, s.length)
      b
    }
    if (rle) SasFixtureWriter.writeCompressedFramed(schema, widths, path, N, rdc = false) { emit =>
      rows.foreach { r =>
        val c = RleEncode.encode(r)
        if (c.length < rowLength) emit(c, c.length) else emit(r, rowLength)
      }
    } else SasFixtureWriter.writeFramedStreaming(schema, widths, path, N) { out =>
      rows.foreach(out.write)
    }
    path
  }

  private val dtaTags = Tags(".a", ".b", ".c")
  private val sasTags = Tags(".A", ".B", ".C")
  private val savTags = Tags("97", "99", "13165977600")

  private lazy val files: Seq[(String, String, Tags)] = Seq(
    ("dta", dtaFile(), dtaTags),
    ("raw sav", savFile("raw.sav", compress = false), savTags),
    ("bytecode sav", savFile("bytecode.sav", compress = true), savTags),
    ("plain sas7bdat", sasFile("plain.sas7bdat", rle = false), sasTags),
    ("RLE sas7bdat", sasFile("rle.sas7bdat", rle = true), sasTags))

  private val modes = Seq(None, Some("separate"), Some("struct"), Some("merged"))

  private def render(d: Double): String = if (d == Math.rint(d)) d.toLong.toString else d.toString

  /** The rows every read must return, per mode, in normalized form. */
  private def expected(mode: Option[String], t: Tags): Seq[Seq[Any]] = (0 until N).map { i =>
    val x = xVal(i).map(Double.box).orNull
    val d = dVal(i).map(_.toString).orNull
    mode match {
      case None => Seq(x, d, sVal(i))
      case Some("separate") => Seq(x, xTag(i, t).orNull, d, dTag(i, t).orNull, sVal(i))
      case Some("struct") => Seq((x, xTag(i, t).orNull), (d, dTag(i, t).orNull), sVal(i))
      case _ => Seq(xTag(i, t).orElse(xVal(i).map(render)).orNull,
        dTag(i, t).orElse(dVal(i).map(_.toString)).orNull, sVal(i))
    }
  }

  private def norm(v: Any): Any = v match {
    case null => null
    case r: Row => (norm(r.get(0)), norm(r.get(1)))
    case n: java.lang.Number => n.doubleValue()
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case other => other
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map(norm))

  private def read(path: String, mode: Option[String], columnar: Boolean): DataFrame = {
    val r = spark.read.format("readstat")
      .option("columnar", columnar.toString)
      .option("maxPartitionBytes", "64").option("minRowsPerPartition", "10")
    mode.fold(r)(m => r.option("informativeNulls", m)).load(path)
  }

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  /** Pushed filters per mode: (filter, its test on an expected row). */
  private def filters(mode: Option[String], t: Tags): Seq[(Column, Seq[Any] => Boolean)] = mode match {
    case Some("separate") => Seq(
      (col("x_null") === t.xa, _(1) == t.xa),
      (col("d_null") === t.d, _(3) == t.d),
      (col("x_null").isNull && col("x") > 30, r => r(1) == null && r(0) != null &&
        r(0).asInstanceOf[Double] > 30))
    case Some("merged") => Seq(
      (col("x") === t.xb, _(0) == t.xb),
      (col("x") === "12", _(0) == "12"),
      (col("d") === t.d, _(1) == t.d),
      (col("d") === base.toString, _(1) == base.toString))
    case Some("struct") => Seq.empty
    case _ => Seq(
      (col("x") > 30, r => r(0) != null && r(0).asInstanceOf[Double] > 30),
      (col("d").isNull, _(1) == null))
  }

  private def parity(name: String): Unit = {
    val (_, path, t) = files.find(_._1 == name).get
    modes.foreach { mode =>
      val want = expected(mode, t)
      Seq(true, false).foreach { columnar =>
        val df = read(path, mode, columnar)
        val what = s"$name informativeNulls=${mode.getOrElse("unset")} columnar=$columnar"
        assert(df.columns.toSeq === (mode match {
          case Some("separate") => Seq("x", "x_null", "d", "d_null", "s")
          case _ => Seq("x", "d", "s")
        }), what)
        assert(isColumnar(df) === (columnar && !mode.contains("struct")), what)
        assert(rows(df) === want, what)
        filters(mode, t).foreach { case (f, keep) =>
          val hits = want.filter(keep)
          assert(hits.nonEmpty, s"$what filter $f matches no row")
          assert(rows(df.filter(f)) === hits, s"$what filter $f")
        }
      }
    }
  }

  test("dta: every informativeNulls mode reads alike on the row and columnar paths") {
    parity("dta")
  }
  test("raw sav: every informativeNulls mode reads alike on the row and columnar paths") {
    parity("raw sav")
  }
  test("bytecode sav: every informativeNulls mode reads alike on the row and columnar paths") {
    parity("bytecode sav")
  }
  test("plain sas7bdat: every informativeNulls mode reads alike on the row and columnar paths") {
    parity("plain sas7bdat")
  }
  test("RLE sas7bdat: every informativeNulls mode reads alike on the row and columnar paths") {
    parity("RLE sas7bdat")
  }
}

object DecodeParitySpec {
  /** Per-format missing codes: how `x`'s two codes and `d`'s one code are
    * named by the indicator.
    */
  private final case class Tags(xa: String, xb: String, d: String)
}
