package graft.sources.readstat

/** Options for the readstat source (SURVEY.md §7.1 M2).
  *
  * Mirrors the reference's ScanOptions surface (`src/lib.rs:118-161`):
  * missingStringAsNull (default true), valueLabelsAsStrings (default true),
  * plus Spark-side partition sizing.
  */
final case class ReadstatOptions(
    format: Option[String],
    missingStringAsNull: Boolean,
    valueLabelsAsStrings: Boolean,
    maxPartitionBytes: Long,
    minRowsPerPartition: Long,
    informativeNulls: Option[String],
    informativeNullColumns: Option[Set[String]],
    informativeNullSuffix: String,
    inferSchema: Boolean = false,
    /** sink: "rle" (sas7bdat), "bytecode" (sav; zsav implies zlib). */
    compression: Option[String] = None,
    /** sink: JSON `{"col":{"1":"Low",...},...}` — numeric code → label. */
    valueLabels: Option[String] = None,
    /** sink: JSON `{"col":"Column label",...}`. */
    variableLabels: Option[String] = None,
    /** sav sink: JSON `{"col":[97,99],...}` — declared numeric missings. */
    missingValues: Option[String] = None,
    /** sav sink: JSON `{"col":{"val":"label",...},...}` — long-string value
      * labels (subtype 21).
      */
    stringValueLabels: Option[String] = None,
    /** sav sink: JSON `{"col":["NA","??"],...}` — long-string missings
      * (subtype 22).
      */
    stringMissingValues: Option[String] = None,
    /** vectorized scan (escape hatch; row path remains for coercion/structs). */
    columnar: Boolean = true,
    /** streaming source: cap files admitted per micro-batch. */
    maxFilesPerTrigger: Option[Int] = None,
    /** scan-level narrowing, the reference's `CompressOptionsLite`
      * (`src/lib.rs:142-161`): `option("compress", true)` narrows the scan
      * schema like the `Compress.compressDf` library call; the per-toggle
      * options mirror the reference's fields.
      */
    compress: Boolean = false,
    /** compress: restrict narrowing to these columns (reference `cols`). */
    compressColumns: Option[Seq[String]] = None,
    /** compress: numeric → smallest integral (reference `compress_numeric`). */
    compressNumeric: Boolean = true,
    /** compress: all-midnight datetime → date (reference `datetime_to_date`). */
    compressDatetimeToDate: Boolean = true,
    /** compress: all-parseable string → double (reference `string_to_numeric`). */
    compressStringToNumeric: Boolean = false,
    /** zsav scan: zlib blocks inflated ahead of the sequential bytecode
      * decoder (bounded pipeline depth per stream). 1 = sequential inflate
      * (the reference's behavior); default scales with the core count.
      */
    zsavLookahead: Option[Int] = None,
    /** dta scan: cap on strL (GSO) content bytes loaded by the driver —
      * the table is broadcast to executors, so an unbounded GSO section
      * would pressure the driver silently. Named error past the cap.
      */
    maxStrlBytes: Long = 1L << 30,
    /** Corrupt-container policy (r10 verdict #1). FAILFAST (default): any
      * unreadable container fails the load — the reference's posture and
      * CorruptFileSpec's pinned behavior. PERMISSIVE: a container whose
      * header/metadata parse or data decode fails is QUARANTINED at the
      * FILE level — its good prefix (where the format makes that
      * detectable) still arrives, every other file's rows arrive intact,
      * and the bad path is reported (Spark-log warning + one JSON record
      * under [[badFilesPath]] when set). On a 100 TB lake one truncated
      * file always exists; quarantine keeps the load alive without
      * fabricating rows.
      */
    mode: String = "FAILFAST",
    /** PERMISSIVE only: directory receiving one JSON record per
      * quarantined container (`{"path":…,"stage":…,"error":…}`), the
      * `badRecordsPath` analogue at file granularity.
      */
    badFilesPath: Option[String] = None,
    /** Multi-file loads: union columns + widen same-name type conflicts
      * along the [[SchemaMerge]] lattice instead of the default fail-fast;
      * files missing a column read it as null (parquet's mergeSchema
      * contract at the container level). Batch only — the streaming
      * source keeps the fail-fast contract.
      */
    mergeSchema: Boolean = false,
    /** PERMISSIVE + mergeSchema streams only: when a WIDENABLE arrival
      * lands (fits the merge lattice but needs a wider schema than the
      * running query declared), `true` (default) HOLDS the offset before
      * the file so a restart can re-merge and admit it — at the cost of
      * blocking every later file until that restart (the IntakeSupervisor
      * contract). `false` opts out: the widenable file QUARANTINES like
      * any other misfit (skip + report) and the stream keeps flowing —
      * the pre-hold PERMISSIVE behavior, for deployments with no
      * supervisor to restart them (r11 ADVICE).
      */
    streamWidenHold: Boolean = true) extends Serializable {
  def inMode: Option[InformativeNulls.Mode] = informativeNulls.map(InformativeNulls.parseMode)
  def inTracked(name: String): Boolean =
    informativeNulls.isDefined && informativeNullColumns.forall(_.contains(name))
  def permissive: Boolean = mode.equalsIgnoreCase("PERMISSIVE")
}

object ReadstatOptions {
  def from(m: java.util.Map[String, String]): ReadstatOptions = {
    def get(k: String): Option[String] = {
      // CaseInsensitiveStringMap lower-cases keys
      Option(m.get(k)).orElse(Option(m.get(k.toLowerCase)))
    }
    ReadstatOptions(
      format = get("format").map(_.toLowerCase),
      missingStringAsNull = get("missingStringAsNull").forall(_.toBoolean),
      valueLabelsAsStrings = get("valueLabelsAsStrings").forall(_.toBoolean),
      maxPartitionBytes = get("maxPartitionBytes").map(_.toLong).getOrElse(128L * 1024 * 1024),
      minRowsPerPartition = get("minRowsPerPartition").map(_.toLong).getOrElse(8192L),
      informativeNulls = get("informativeNulls"),
      informativeNullColumns =
        get("informativeNullColumns").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet),
      informativeNullSuffix = get("informativeNullSuffix").getOrElse("_null"),
      inferSchema = get("inferSchema").exists(_.toBoolean),
      compression = get("compression").map(_.toLowerCase).filter(_ != "none"),
      valueLabels = get("valueLabels"),
      variableLabels = get("variableLabels"),
      missingValues = get("missingValues"),
      stringValueLabels = get("stringValueLabels"),
      stringMissingValues = get("stringMissingValues"),
      columnar = get("columnar").forall(_.toBoolean),
      maxFilesPerTrigger = get("maxFilesPerTrigger").map(_.toInt).filter(_ > 0),
      compress = get("compress").exists(_.toBoolean),
      compressColumns =
        get("compressColumns").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      compressNumeric = get("compressNumeric").forall(_.toBoolean),
      compressDatetimeToDate = get("compressDatetimeToDate").forall(_.toBoolean),
      compressStringToNumeric = get("compressStringToNumeric").exists(_.toBoolean),
      // 0/negative reads as "no prefetch" → sequential (1), never silently
      // the parallel default
      zsavLookahead = get("zsavLookahead").map(v => math.max(1, v.toInt)),
      maxStrlBytes = get("maxStrlBytes").map(_.toLong).getOrElse(1L << 30),
      mode = get("mode").map { m =>
        require(m.equalsIgnoreCase("FAILFAST") || m.equalsIgnoreCase("PERMISSIVE"),
          s"readstat: unsupported mode '$m' (FAILFAST or PERMISSIVE)")
        m.toUpperCase
      }.getOrElse("FAILFAST"),
      badFilesPath = get("badFilesPath").filter(_.nonEmpty),
      mergeSchema = get("mergeSchema").exists(_.toBoolean),
      streamWidenHold = get("streamWidenHold").forall(_.toBoolean))
    // `preserveOrder` is accepted for parity with the reference (O2): Spark
    // partitions are already consumed in partition-index order at collect,
    // so no reorder machinery is needed — the option is a documented no-op.
  }

  /** The readstat file extensions and the format each names: the one
    * list behind format sniffing and directory listings.
    */
  private val Extensions =
    Seq(".sas7bdat" -> "sas7bdat", ".dta" -> "dta", ".sav" -> "sav", ".zsav" -> "sav")

  /** The format a file name's extension names, if it is a readstat one. */
  def formatOf(name: String): Option[String] = {
    val n = name.toLowerCase
    Extensions.collectFirst { case (ext, fmt) if n.endsWith(ext) => fmt }
  }

  /** Format sniffing by extension (`detect_format` reference `src/lib.rs:383-394`). */
  def detectFormat(path: String, opt: Option[String]): String = opt.orElse(formatOf(path)).getOrElse(
    throw new IllegalArgumentException(
      s"cannot detect readstat format from path: $path (use option(\"format\", ...))"))
}
