package graft.sources.readstat

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Metadata probe (SURVEY.md §2.1 S7; `readstat_metadata_json`
  * reference `src/lib.rs:425-438`): one row per column with file-level
  * facts, without reading any data rows.
  */
object ReadstatMetadata {

  final case class ColumnMeta(
      file: String,
      format: String,
      row_count: Long,
      compression: String,
      encoding: String,
      column_index: Int,
      column_name: String,
      storage_type: String,
      spark_type: String,
      column_format: String,
      label: String,
      value_label_name: String,
      /** O3: 1-based position of this column in the file's sort order
        * (0 = not a sort key; Stata sortlist).
        */
      sort_key_pos: Int)

  def describe(spark: SparkSession, path: String, format: Option[String] = None): DataFrame = {
    import spark.implicits._
    val fmt = ReadstatOptions.detectFormat(path, format)
    val opts = ReadstatOptions.from(new java.util.HashMap[String, String]())
    val file = ReadstatIO.stamp(path)
    val rows: Seq[ColumnMeta] = fmt match {
      case "dta" =>
        val in = ReadstatIO.buffered(ReadstatIO.open(path), file.len)
        val meta = try stata.Dta.parseMetadata(stata.Dta.ByteReader(in)) finally in.close()
        meta.variables.zipWithIndex.map { case (v, i) =>
          ColumnMeta(path, s"dta v${meta.header.version}", meta.header.nobs, "none",
            meta.charsetName, i, v.name,
            v.varType.toString.stripPrefix("T").toLowerCase,
            stata.DtaRowDecoder.sparkField(v, opts, labeled = false).dataType.simpleString,
            v.format.getOrElse(""), v.label.getOrElse(""), v.valueLabelName.getOrElse(""),
            meta.sortedBy.indexOf(i + 1) + 1)
        }.toSeq
      case "sav" | "zsav" =>
        val meta = spss.SavModule.parseMeta(file)
        meta.variables.zipWithIndex.map { case (v, i) =>
          ColumnMeta(path, if (meta.header.zsav) "zsav" else "sav", meta.header.rowCount,
            meta.header.compression match {
              case 0 => "none"; case 1 => "bytecode"; case 2 => "zlib"; case c => s"$c"
            },
            meta.charsetName, i, v.name,
            if (v.isString) s"str${v.stringLen}" else "double",
            spss.SavModule.sparkField(v, meta, opts).dataType.simpleString,
            s"fmt${v.formatType}", "", v.valueLabelSet.getOrElse(""), 0)
        }.toSeq
      case "sas7bdat" =>
        val meta = sas.SasModule.parseMeta(file)
        meta.columns.zipWithIndex.map { case (c, i) =>
          ColumnMeta(path,
            s"sas7bdat ${if (meta.header.bit64) "64" else "32"}-bit",
            meta.rowCount,
            meta.compression match {
              case sas.Sas.CNone => "none"
              case sas.Sas.CRle => "rle"
              case sas.Sas.CRdc => "rdc"
            },
            meta.charsetName, i, c.name,
            if (c.isChar) s"char${c.length}" else s"num${c.length}",
            sas.SasModule.sparkField(c).dataType.simpleString,
            c.format, c.label, "", 0)
        }.toSeq
    }
    spark.createDataFrame(rows)
  }
}
