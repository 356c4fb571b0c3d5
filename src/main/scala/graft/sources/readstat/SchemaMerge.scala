package graft.sources.readstat

import org.apache.spark.sql.types._

/** Multi-file schema merging for `option("mergeSchema", "true")` (r11).
  *
  * A 100 TB lake of monthly extracts drifts: a survey wave adds a column,
  * a numeric variable is re-coded from `int` to `double`, a date becomes a
  * full datetime. The default multi-file contract is fail-fast on any
  * disagreement (a silent misread is worse than an error — the r1 posture,
  * pinned in MultiFileSpec), and that stays the default. With
  * `mergeSchema=true` the load instead resolves to the UNION of columns in
  * first-appearance order, with same-name type conflicts WIDENED along a
  * closed lattice (never narrowed, never guessed):
  *
  *   - integrals widen by rank: byte < short < int < long
  *   - an integral meeting float/double widens to double (double holds
  *     every byte/short/int exactly; the formats' own numerics are
  *     IEEE doubles at rest, so this is the value already in the file)
  *   - float meets double → double
  *   - date meets timestamp_ntz → timestamp_ntz (a date is the midnight
  *     of that day; the render the temporal informative-nulls path pins)
  *   - anything else (string vs numeric, struct shape changes, boolean) —
  *     named error listing the column and both types: that is a data-
  *     modeling conflict no engine should paper over.
  *
  * Files missing a merged column read it as null — the same contract as
  * parquet's mergeSchema. Per-file reads stay fully pushed down: each
  * container decodes only ITS OWN columns (the aligning layer null-fills
  * and widens afterward, row-locally on the executor), so projection and
  * decode-skip pushdown are untouched where the column exists.
  *
  * The reference has no multi-file mode at all (one scan = one container,
  * `src/lib.rs:118-161` takes a single path) — this extends the engine's
  * own multi-file load, not a reference behavior.
  */
object SchemaMerge {

  private def intRank(t: DataType): Int = t match {
    case ByteType => 0
    case ShortType => 1
    case IntegerType => 2
    case LongType => 3
    case _ => -1
  }

  private def fromRank(r: Int): DataType = r match {
    case 0 => ByteType
    case 1 => ShortType
    case 2 => IntegerType
    case 3 => LongType
  }

  /** The widened type of two natural column types, or None when the
    * conflict is not widenable (the caller names the column and fails).
    */
  def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case _ if intRank(a) >= 0 && intRank(b) >= 0 =>
      Some(fromRank(math.max(intRank(a), intRank(b))))
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case _ if intRank(a) >= 0 && (b == FloatType || b == DoubleType) => Some(DoubleType)
    case _ if intRank(b) >= 0 && (a == FloatType || a == DoubleType) => Some(DoubleType)
    case (DateType, TimestampNTZType) | (TimestampNTZType, DateType) =>
      Some(TimestampNTZType)
    case _ => None
  }

  /** Merge per-file schemas into the load's table schema: union of columns
    * in first-appearance order, same-name types widened. Throws a
    * column-named IllegalArgumentException on a non-widenable conflict.
    */
  def merge(schemas: Seq[(String, StructType)]): StructType = {
    require(schemas.nonEmpty, "readstat mergeSchema: no schemas to merge")
    val order = scala.collection.mutable.LinkedHashMap[String, StructField]()
    val firstPath = scala.collection.mutable.Map[String, String]()
    for ((path, s) <- schemas; f <- s.fields) {
      order.get(f.name) match {
        case None =>
          order(f.name) = f.copy(nullable = true)
          firstPath(f.name) = path
        case Some(prev) =>
          val w = widen(prev.dataType, f.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"readstat mergeSchema: column '${f.name}' is " +
                s"${prev.dataType.simpleString} in ${firstPath(f.name)} but " +
                s"${f.dataType.simpleString} in $path — not widenable " +
                "(only numeric rank and date->timestamp widen; remap the " +
                "column or load the files separately)"))
          order(f.name) = prev.copy(dataType = w, nullable = true)
      }
    }
    StructType(order.values.toSeq)
  }
}

/** The one schema-fit rule of every readstat read: does a file fit the
  * relation's table, and how is it conformed?
  *
  * A relation pins the natural (name, type) column list its files agreed
  * on ([[ReadstatFileIndex]]): at load, the first plannable file's list,
  * or under `mergeSchema` the merge of all of them; under a user-given
  * schema, the same list taken at the first scan. The load, every later
  * scan and the streaming source's admission gate hold each file to it:
  *   - default: the file's (name, type) list equals the pinned one;
  *   - `mergeSchema`: each of the file's columns is pinned and widens INTO
  *     the pinned type along [[SchemaMerge.widen]]; columns the file lacks
  *     read as null.
  * A file that misses is a named error on the driver. A file that fits is
  * conformed on the executor: it decodes its own natural columns, and
  * [[AligningReader]] null-fills, widens or range-checked-narrows them to
  * the scan's required schema (`ReadstatReaderFactory`).
  */
object SchemaFit {

  /** The natural column list a relation pinned, and what it came from. */
  final case class Table(from: String, natural: StructType)

  /** None when a file whose own columns are `natural` fits `table`, else
    * the named error. `stream` picks the remedy the message offers.
    */
  def misfit(
      table: Table,
      path: String,
      natural: StructType,
      merge: Boolean,
      stream: Boolean): Option[IllegalArgumentException] = {
    val detail =
      if (merge) {
        val pinned = table.natural.fields.map(f => f.name -> f.dataType).toMap
        val narrower = natural.fields.collect {
          case f if pinned.get(f.name).exists(t => !SchemaMerge.widen(f.dataType, t).contains(t)) =>
            s"${f.name}:${f.dataType.simpleString}->${pinned(f.name).simpleString}"
        }
        val fresh = natural.fieldNames.filterNot(pinned.contains)
        Seq("not widenable into the table" -> narrower, "new columns" -> fresh).collect {
          case (what, cols) if cols.nonEmpty => s"$what: ${cols.mkString(", ")}"
        }
      } else {
        val a = table.natural.fields.map(f => (f.name, f.dataType)).toSeq
        val b = natural.fields.map(f => (f.name, f.dataType)).toSeq
        if (a == b) Nil
        else Seq("differing fields: " +
          (a.diff(b) ++ b.diff(a)).map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", "))
      }
    val remedy = (stream, merge) match {
      case (false, false) =>
        "multi-file loads require identical schemas (or option(\"mergeSchema\", \"true\"))"
      case (false, true) =>
        "a loaded relation keeps its merged schema; load the files again to re-merge"
      case (true, false) =>
        "schema drift in a newly arrived file would misread under the stream's " +
          "fixed schema; quarantine it with mode=PERMISSIVE, restart the stream " +
          "over the new schema, or admit narrower arrivals with " +
          "option(\"mergeSchema\", \"true\")"
      case (true, true) =>
        "a running stream's output schema is fixed; quarantine it with " +
          "mode=PERMISSIVE or restart the stream to re-merge"
    }
    if (detail.isEmpty) None
    else Some(new IllegalArgumentException(
      s"readstat: schema mismatch between ${table.from} and $path " +
        s"(${detail.mkString("; ")}); $remedy"))
  }
}

/** Shared natural→required value converters for the row path: narrowing
  * casts (the read side of `inferSchema`/user schemas — range-checked,
  * column-named error on overflow) and widening casts (the read side of
  * `mergeSchema` — total by construction along the [[SchemaMerge.widen]]
  * lattice). Values are Spark internal representations (UTF8String, days,
  * micros).
  */
private[readstat] object Coerce {
  private def oob(name: String, v: Any, t: DataType): Nothing =
    throw new IllegalArgumentException(
      s"readstat: value $v of column '$name' does not fit the requested " +
        s"${t.simpleString} type (out of range or non-integral)")

  private def checked(name: String, t: DataType, lo: Long, hi: Long)(v: Double): Long = {
    if (v != Math.rint(v) || v < lo || v > hi) oob(name, v, t)
    v.toLong
  }

  def converter(name: String, from: DataType, to: DataType): Any => Any =
    (from, to) match {
      case (a, b) if a == b => identity[Any] _
      // narrowing (range-checked)
      case (DoubleType, BooleanType) => (v: Any) => v.asInstanceOf[Double] != 0.0
      case (DoubleType, ByteType) => (v: Any) =>
        checked(name, to, Byte.MinValue, Byte.MaxValue)(v.asInstanceOf[Double]).toByte
      case (DoubleType, ShortType) => (v: Any) =>
        checked(name, to, Short.MinValue, Short.MaxValue)(v.asInstanceOf[Double]).toShort
      case (DoubleType, IntegerType) => (v: Any) =>
        checked(name, to, Int.MinValue, Int.MaxValue)(v.asInstanceOf[Double]).toInt
      case (DoubleType, LongType) => (v: Any) =>
        checked(name, to, Long.MinValue, Long.MaxValue)(v.asInstanceOf[Double])
      case (DoubleType, FloatType) => (v: Any) => v.asInstanceOf[Double].toFloat
      case (FloatType, BooleanType) => (v: Any) => v.asInstanceOf[Float] != 0.0f
      case (FloatType, ByteType) => (v: Any) =>
        checked(name, to, Byte.MinValue, Byte.MaxValue)(v.asInstanceOf[Float].toDouble).toByte
      case (FloatType, ShortType) => (v: Any) =>
        checked(name, to, Short.MinValue, Short.MaxValue)(v.asInstanceOf[Float].toDouble).toShort
      case (FloatType, IntegerType) => (v: Any) =>
        checked(name, to, Int.MinValue, Int.MaxValue)(v.asInstanceOf[Float].toDouble).toInt
      case (FloatType, DoubleType) => (v: Any) => v.asInstanceOf[Float].toDouble
      case (LongType, BooleanType) => (v: Any) => v.asInstanceOf[Long] != 0L
      case (LongType, ByteType) => (v: Any) => {
        val x = v.asInstanceOf[Long]
        if (x < Byte.MinValue || x > Byte.MaxValue) oob(name, x, to)
        x.toByte
      }
      case (LongType, ShortType) => (v: Any) => {
        val x = v.asInstanceOf[Long]
        if (x < Short.MinValue || x > Short.MaxValue) oob(name, x, to)
        x.toShort
      }
      case (LongType, IntegerType) => (v: Any) => {
        val x = v.asInstanceOf[Long]
        if (x < Int.MinValue || x > Int.MaxValue) oob(name, x, to)
        x.toInt
      }
      case (ByteType, BooleanType) => (v: Any) => v.asInstanceOf[Byte] != 0
      case (ShortType, ByteType) => (v: Any) => {
        val x = v.asInstanceOf[Short]
        if (x < Byte.MinValue || x > Byte.MaxValue) oob(name, x, to)
        x.toByte
      }
      case (ShortType, BooleanType) => (v: Any) => v.asInstanceOf[Short] != 0
      case (IntegerType, ByteType) => (v: Any) => {
        val x = v.asInstanceOf[Int]
        if (x < Byte.MinValue || x > Byte.MaxValue) oob(name, x, to)
        x.toByte
      }
      case (IntegerType, ShortType) => (v: Any) => {
        val x = v.asInstanceOf[Int]
        if (x < Short.MinValue || x > Short.MaxValue) oob(name, x, to)
        x.toShort
      }
      case (IntegerType, BooleanType) => (v: Any) => v.asInstanceOf[Int] != 0
      case (TimestampNTZType | TimestampType, DateType) =>
        (v: Any) => Math.floorDiv(v.asInstanceOf[Long], 86400000000L).toInt
      case (StringType, DoubleType) => (v: Any) => {
        val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString.trim
        try s.toDouble
        catch { case _: NumberFormatException => oob(name, s, DoubleType) }
      }
      // widening (mergeSchema lattice — total, no range checks needed)
      case (ByteType, ShortType) => (v: Any) => v.asInstanceOf[Byte].toShort
      case (ByteType, IntegerType) => (v: Any) => v.asInstanceOf[Byte].toInt
      case (ByteType, LongType) => (v: Any) => v.asInstanceOf[Byte].toLong
      case (ByteType, DoubleType) => (v: Any) => v.asInstanceOf[Byte].toDouble
      case (ByteType, FloatType) => (v: Any) => v.asInstanceOf[Byte].toFloat
      case (ShortType, IntegerType) => (v: Any) => v.asInstanceOf[Short].toInt
      case (ShortType, LongType) => (v: Any) => v.asInstanceOf[Short].toLong
      case (ShortType, DoubleType) => (v: Any) => v.asInstanceOf[Short].toDouble
      case (ShortType, FloatType) => (v: Any) => v.asInstanceOf[Short].toFloat
      case (IntegerType, LongType) => (v: Any) => v.asInstanceOf[Int].toLong
      case (IntegerType, DoubleType) => (v: Any) => v.asInstanceOf[Int].toDouble
      case (LongType, DoubleType) => (v: Any) => v.asInstanceOf[Long].toDouble
      // a date is that day's midnight: days → micros-of-midnight
      case (DateType, TimestampNTZType) =>
        (v: Any) => v.asInstanceOf[Int].toLong * 86400000000L
      case (a, b) => throw new IllegalArgumentException(
        s"readstat: cannot coerce $name from ${a.simpleString} to ${b.simpleString}")
    }
}

/** Conforms one file's naturally-decoded rows to the scan's required
  * schema: required columns the file lacks read as null; a natural type
  * narrower than the required one widens (`mergeSchema`), a wider one
  * narrows range-checked (`inferSchema`, a user-given schema), both via
  * [[Coerce]]. Runs row-locally on the executor — conforming never changes
  * what the container decoder reads (projection pushdown still reaches
  * the bytes). Narrowing is range-checked: an inferSchema-derived schema
  * never trips it (Compress proved range and parseability over the data),
  * but a user-given schema with out-of-range or non-numeric cells fails
  * with a column-named error instead of silently wrapping (r2 ADVICE #5).
  */
private[readstat] class AligningReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow],
    from: StructType,
    to: StructType)
  extends org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {

  private val fromIdx: Map[String, Int] =
    from.fields.zipWithIndex.map { case (f, i) => f.name -> i }.toMap
  // per output column: source index in `inner` rows (-1 → null) + converter
  private val srcIdx: Array[Int] = to.fields.map(f => fromIdx.getOrElse(f.name, -1))
  private val convs: Array[Any => Any] = to.fields.map { f =>
    fromIdx.get(f.name) match {
      case Some(i) => Coerce.converter(f.name, from.fields(i).dataType, f.dataType)
      case None => identity[Any] _
    }
  }

  private val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(to.length)

  override def next(): Boolean = {
    if (!inner.next()) return false
    val row = inner.get()
    var i = 0
    while (i < srcIdx.length) {
      val s = srcIdx(i)
      out.update(i,
        if (s < 0 || row.isNullAt(s)) null
        else convs(i)(row.get(s, from.fields(s).dataType)))
      i += 1
    }
    true
  }
  override def get(): org.apache.spark.sql.catalyst.InternalRow = out
  override def close(): Unit = inner.close()
}
