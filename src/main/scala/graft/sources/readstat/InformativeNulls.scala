package graft.sources.readstat

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Informative nulls (SURVEY.md §2.2 P7; reference `src/lib.rs:62-115`):
  * user-defined missing codes (SAS `.A`–`.Z`/`._`, Stata `.a`–`.z`, SPSS
  * discrete/range missings) surface as a string indicator next to the null.
  *
  * Modes: `separate` adds a `<col><suffix>` String column after each
  * tracked column; `struct` replaces the column with
  * Struct{value, null_indicator}; `merged` replaces it with
  * coalesce(value-as-string, indicator). System missing stays a plain
  * null with no indicator in every mode.
  */
object InformativeNulls {

  sealed trait Mode
  case object Separate extends Mode
  case object Struct extends Mode
  case object Merged extends Mode

  def parseMode(s: String): Mode = s.toLowerCase match {
    case "separate" => Separate
    case "struct" => Struct
    case "merged" => Merged
    case other => throw new IllegalArgumentException(
      s"informativeNulls must be separate|struct|merged, got '$other'")
  }

  /** How one source column materializes in the output schema. */
  sealed trait Role
  /** plain value (possibly with a sibling indicator column) */
  case object RValue extends Role
  /** the `<col><suffix>` indicator column of a tracked column */
  case object RIndicator extends Role
  /** Struct{value, null_indicator} */
  case object RStruct extends Role
  /** merged string */
  case object RMerged extends Role

  /** Merged-mode renders for temporal values (r3 verdict #5: previously a
    * documented throw). The reference merges via a Polars cast-to-String
    * (`/root/reference/src/lib.rs:339-355`), so the render is the engine's
    * native temporal formatting; ours is ISO-8601 with a space separator and
    * microsecond fraction only when non-zero.
    */
  def renderDays(days: Int): String =
    java.time.LocalDate.ofEpochDay(days.toLong).toString

  def renderMicros(us: Long): String = {
    val secs = Math.floorDiv(us, 1000000L)
    val frac = Math.floorMod(us, 1000000L)
    val ldt = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d" +
      f" ${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    if (frac == 0L) base else base + f".$frac%06d"
  }

  /** time-of-day stored as nanos-of-day (`logical_type=time` Long columns). */
  def renderNanosOfDay(ns: Long): String = {
    val s = ns / 1000000000L
    val frac = ns % 1000000000L
    val base = f"${s / 3600}%02d:${s % 3600 / 60}%02d:${s % 60}%02d"
    if (frac == 0L) base else base + f".${frac / 1000}%06d"
  }

  /** Fail fast when a `<col><suffix>` indicator name collides with a real
    * column in the file (reference `check_informative_null_collisions`,
    * `src/lib.rs:165-183` — called in every mode, `src/sas/polars_output.rs:
    * 819-820`): a file with a column literally named `x_null` plus
    * informativeNulls on `x` must error, not emit duplicate column names.
    */
  def checkCollisions(
      allNames: Seq[String],
      eligibleTracked: Seq[String],
      mode: Option[Mode],
      suffix: String): Unit = {
    if (mode.isEmpty) return
    val existing = allNames.toSet
    eligibleTracked.foreach { n =>
      val ind = n + suffix
      if (existing.contains(ind)) throw new IllegalArgumentException(
        s"readstat: informative null indicator column '$ind' conflicts with " +
          "an existing column; choose a different informativeNullSuffix")
    }
  }

  def structTypeFor(valueType: DataType): StructType =
    StructType(Seq(
      StructField("value", valueType, nullable = true),
      StructField("null_indicator", StringType, nullable = true)))

  /** Expand one eligible source field per the mode. Returns (field, role)
    * pairs in output order.
    */
  def expand(
      field: StructField,
      eligible: Boolean,
      mode: Option[Mode],
      suffix: String): Seq[(StructField, Role)] = mode match {
    case None => Seq((field, RValue))
    case Some(_) if !eligible => Seq((field, RValue))
    case Some(Separate) => Seq(
      (field, RValue),
      (StructField(field.name + suffix, StringType, nullable = true), RIndicator))
    case Some(Struct) => Seq(
      (field.copy(dataType = structTypeFor(field.dataType)), RStruct))
    case Some(Merged) => Seq(
      (field.copy(dataType = StringType), RMerged))
  }

  /** A file's output columns in order: each source column expanded per
    * the mode (a column is eligible when it can carry informative nulls
    * and `informativeNullColumns` tracks it), after the collision check.
    */
  def fieldsWithRoles(
      cols: Seq[ReadstatFormats.SourceColumn],
      opts: ReadstatOptions): Seq[Output] = {
    val eligible = cols.filter(c => c.informative && opts.inTracked(c.field.name)).map(_.field.name)
    checkCollisions(cols.map(_.field.name), eligible, opts.inMode, opts.informativeNullSuffix)
    val tracked = eligible.toSet
    cols.flatMap { c =>
      expand(c.field, tracked(c.field.name), opts.inMode, opts.informativeNullSuffix)
        .map { case (f, role) => Output(f, role, c) }
    }
  }

  /** One output column: its field, its role and the source column behind
    * it.
    */
  final case class Output(field: StructField, role: Role, source: ReadstatFormats.SourceColumn) {

    /** The boxed decoder of this column's value. */
    def decoder: (Array[Byte], Int) => Any = role match {
      case RValue => source.value
      case RIndicator => source.indicator
      case RStruct =>
        val value = source.value
        val indicator = source.indicator
        (b, o) => new GenericInternalRow(Array[Any](value(b, o), indicator(b, o)))
      case RMerged =>
        val value = source.value
        val indicator = source.indicator
        val render = renderer(source.field)
        (b, o) => {
          val ind = indicator(b, o)
          if (ind != null) ind
          else {
            val v = value(b, o)
            if (v == null) null else render(v)
          }
        }
    }

    /** The columnar appender: the format's unboxed one for a plain value
      * column that has it, else the boxed fallback over [[decoder]].
      */
    def appender: ColumnAppender = role match {
      case RValue => source.appender.getOrElse(ColumnAppender.boxed(source.value, field.dataType))
      case _ => ColumnAppender.boxed(decoder, field.dataType)
    }
  }

  /** Merged mode's render of a decoded value by its Spark type, resolved
    * once per column: the reference merges with a cast to String
    * (`src/lib.rs:339-355`), so temporal columns render the converted
    * value and numbers render like the label fallback.
    */
  private def renderer(field: StructField): Any => UTF8String = field.dataType match {
    case DateType => v => UTF8String.fromString(renderDays(v.asInstanceOf[java.lang.Integer].intValue()))
    case TimestampNTZType | TimestampType =>
      v => UTF8String.fromString(renderMicros(v.asInstanceOf[java.lang.Long].longValue()))
    case LongType if field.metadata.contains("logical_type") &&
        field.metadata.getString("logical_type") == "time" =>
      v => UTF8String.fromString(renderNanosOfDay(v.asInstanceOf[java.lang.Long].longValue()))
    case StringType => v => v.asInstanceOf[UTF8String]
    case _ => v => UTF8String.fromString(
      stata.DtaRowDecoder.renderNumber(v.asInstanceOf[java.lang.Number].doubleValue()))
  }
}
