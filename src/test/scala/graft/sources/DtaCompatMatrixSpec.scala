package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cross-version consistency over the REAL `stata-compat-*.dta` corpus: the
  * same table written by Stata in versions 102-118, both endiannesses, must
  * decode to identical values through every version-specific code path
  * (type-code tables, layout variants, byte order). The v118 file is the
  * reference point.
  */
class DtaCompatMatrixSpec extends SparkSpec {

  private val dir = "/root/reference/tests/stata/data"
  private def haveCorpus = new java.io.File(s"$dir/stata-compat-118.dta").isFile

  test("all stata-compat versions decode to the same values") {
    assume(haveCorpus, s"needs the Stata compat corpus in $dir (absent)")
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("stata-compat-(be-)?\\d+\\.dta"))
      .map(_.getPath).sorted
    assert(files.length >= 19, s"expected the full compat matrix, got ${files.length}")

    def table(path: String): Map[String, Seq[Any]] = {
      val df = spark.read.format("readstat").load(path)
      val numeric = df.schema.fields
        .filter(f => Set("index", "i8", "i16", "i32", "f", "d").contains(f.name))
        .map(f => col(f.name).cast("double").as(f.name))
      val rows = df.select(numeric.toIndexedSeq: _*).orderBy("index").collect()
      val cols = rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Seq.empty)
      cols.map(c => c -> rows.map(_.getAs[Any](c)).toSeq).toMap
    }

    val ref = table(s"$dir/stata-compat-118.dta")
    assert(ref.nonEmpty && ref("index").nonEmpty)
    files.foreach { p =>
      val got = table(p)
      got.foreach { case (c, vals) =>
        assert(vals == ref(c), s"${new java.io.File(p).getName} column $c differs")
      }
    }

    // where the file carries a date format, the date value must agree with
    // the v118 rendering (epoch conversion across layout generations)
    val refDates = spark.read.format("readstat").load(s"$dir/stata-compat-118.dta")
      .select("index", "dt").orderBy("index").collect()
      .map(r => r.getInt(0) -> String.valueOf(r.get(1))).toMap
    files.foreach { p =>
      val df = spark.read.format("readstat").load(p)
      if (df.schema("dt").dataType == org.apache.spark.sql.types.DateType) {
        df.select(col("index").cast("int"), col("dt")).orderBy("index").collect().foreach { r =>
          assert(String.valueOf(r.get(1)) == refDates(r.getInt(0)),
            s"${new java.io.File(p).getName} dt row ${r.getInt(0)}")
        }
      }
    }
  }
}
