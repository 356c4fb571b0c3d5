package graft.sources.readstat.stata

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.readstat.{ColumnAppender, ReadstatFormats, ReadstatOptions}

/** Maps dta variables to Spark fields and decodes fixed-width record cells
  * into Catalyst values (SURVEY.md §1.3 Stata column).
  *
  * Output type mapping:
  *   byte→ByteType, int→ShortType, long→IntegerType, float→FloatType,
  *   double→DoubleType, str/strL→StringType;
  *   %td..%ty→DateType, %tc→TimestampNTZType(µs), %tcHH:MM→LongType nanos
  *   (no Spark TIME type; field metadata `logical_type=time`);
  *   value-labeled numerics→StringType when valueLabelsAsStrings.
  */
object DtaRowDecoder {
  import Dta._

  /** Tag decode: -1 = valid value, 0 = system missing, 1..26 = .a..z
    * (reference `src/stata/value.rs:140-278`).
    */
  private def tagOf(vt: VarType, b: Array[Byte], o: Int, le: Boolean, rules: MissingRules): Int = {
    if (!rules.sentinelEnabled) return -1 // pre-113 files have no extended missings
    vt match {
      case TByte =>
        val x = b(o)
        if (x < rules.sentI8) -1 else (x - rules.sentI8)
      case TInt16 =>
        val x = Bin.i16(b, o, le)
        if (x < rules.sentI16) -1 else (x - rules.sentI16)
      case TInt32 =>
        val x = Bin.i32(b, o, le)
        if (x < rules.sentI32) -1 else (x - rules.sentI32)
      case TFloat =>
        val bits = Bin.u32(b, o, le)
        if ((bits & 0x80000000L) != 0 || bits <= rules.maxFloatBits) -1
        else {
          val k = ((bits - rules.missingFloatBits) / 0x80000L).toInt
          if (k >= 0 && k <= 26) k else 0
        }
      case TDouble =>
        val bits = Bin.u64(b, o, le)
        if (bits < 0 || java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) <= 0) -1
        else {
          val k = bits - rules.missingDoubleBits
          if (k >= 0 && k <= 26) k.toInt else 0
        }
      case _ => -1
    }
  }

  private def tagLabel(k: Int): String =
    if (k >= 1 && k <= 26) "." + ('a' + k - 1).toChar else "."

  def sparkField(v: Variable, opts: ReadstatOptions, labeled: Boolean): StructField = {
    val mb = new MetadataBuilder()
    v.format.foreach(mb.putString("format", _))
    v.label.foreach(mb.putString("label", _))
    v.valueLabelName.foreach(mb.putString("value_label_name", _))
    val dt: DataType =
      if (labeled) StringType
      else timeFormatKind(v.format, v.varType) match {
        case Some(KDate) => DateType
        case Some(KDateTime) => TimestampNTZType
        case Some(KTime(_)) => mb.putString("logical_type", "time"); LongType
        case None => v.varType match {
          case TByte => ByteType
          case TInt16 => ShortType
          case TInt32 => IntegerType
          case TFloat => FloatType
          case TDouble => DoubleType
          case TStr(_) | TStrL => StringType
        }
      }
    StructField(v.name, dt, nullable = true, metadata = mb.build())
  }

  /** Render a numeric value the way the reference's label fallback does:
    * integral doubles render without a fractional part.
    */
  def renderNumber(d: Double): String =
    if (d == Math.rint(d) && !d.isInfinite && Math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** The file's source columns, each decoding its cell at its byte offset
    * within the record. Value-labeled numerics decode to their labels;
    * unboxed appenders cover plain numerics, dates and fixed-width strings
    * (labeled and strL columns take the boxed fallback).
    */
  def columns(
      meta: Metadata,
      opts: ReadstatOptions,
      strls: Map[(Int, Long), String]): IndexedSeq[ReadstatFormats.SourceColumn] = {
    import org.apache.spark.sql.execution.vectorized.WritableColumnVector

    val h = meta.header
    val le = h.littleEndian
    val rules = missingRules(h.version)
    val cs = meta.charset
    val version = h.version

    // absolute byte offset of each variable within a record
    val offsets = meta.variables.toIndexedSeq.scanLeft(0)(_ + _.varType.width)

    meta.variables.toIndexedSeq.zip(offsets).map { case (v, off) =>
      val labelMap: Map[Int, String] =
        if (opts.valueLabelsAsStrings)
          v.valueLabelName.flatMap(meta.valueLabels.get).getOrElse(Map.empty)
        else Map.empty
      val labeled = labelMap.nonEmpty
      val kind = timeFormatKind(v.format, v.varType)

      // raw numeric decode (boxed Double) or null; strings handled separately
      def numRaw(b: Array[Byte], o: Int): java.lang.Double = v.varType match {
        case TByte =>
          val x = b(o)
          if (rules.sentinelEnabled && x >= rules.sentI8) null
          else if (x > rules.maxI8) null
          else java.lang.Double.valueOf(x.toDouble)
        case TInt16 =>
          val x = Bin.i16(b, o, le)
          if (rules.sentinelEnabled && x >= rules.sentI16) null
          else if (x > rules.maxI16) null
          else java.lang.Double.valueOf(x.toDouble)
        case TInt32 =>
          val x = Bin.i32(b, o, le)
          if (rules.sentinelEnabled && x >= rules.sentI32) null
          else if (x > rules.maxI32) null
          else java.lang.Double.valueOf(x.toDouble)
        case TFloat =>
          val bits = Bin.u32(b, o, le)
          val f = java.lang.Float.intBitsToFloat(bits.toInt)
          if ((bits & 0x80000000L) == 0 && bits > rules.maxFloatBits) {
            if (bits == rules.missingFloatBits) null
            else java.lang.Double.valueOf(Float.NaN.toDouble)
          } else java.lang.Double.valueOf(f.toDouble)
        case TDouble =>
          val bits = Bin.u64(b, o, le)
          val d = java.lang.Double.longBitsToDouble(bits)
          if ((bits & 0x8000000000000000L) == 0 &&
              java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0) {
            if (bits == rules.missingDoubleBits) null
            else java.lang.Double.valueOf(Double.NaN)
          } else java.lang.Double.valueOf(d)
        case _ => throw new IllegalStateException("numRaw on string column")
      }

      val csUtf8 = cs == java.nio.charset.StandardCharsets.UTF_8
      val decode: (Array[Byte], Int) => Any = v.varType match {
        case TStr(w) =>
          (b, base) => {
            val o = base + off
            var n = 0
            var ascii = true
            while (n < w && b(o + n) != 0) { // stop at first NUL
              if (b(o + n) < 0) ascii = false
              n += 1
            }
            while (n > 0 && b(o + n - 1) == ' ') n -= 1 // trim trailing pad
            if (n == 0) { if (opts.missingStringAsNull) null else UTF8String.fromString("") }
            else if (ascii) UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, o, o + n))
            else if (csUtf8) {
              // valid UTF-8 wraps without a decode/re-encode round trip
              // (hot path); invalid bytes in a UTF-8-declared file take the
              // lossy java decode (U+FFFD) like the reference's encoding_rs
              val s = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, o, o + n))
              if (s.isValid) s else UTF8String.fromString(new String(b, o, n, cs))
            } else UTF8String.fromString(new String(b, o, n, cs))
          }
        case TStrL =>
          (b, base) => {
            val (vv, oo) = decodeStrlRef(b, base + off, le, version)
            if (vv == 0 && oo == 0L) { if (opts.missingStringAsNull) null else UTF8String.fromString("") }
            else strls.get((vv, oo)) match {
              case Some(s) =>
                if (s.isEmpty && opts.missingStringAsNull) null else UTF8String.fromString(s)
              case None => null
            }
          }
        case _ if labeled =>
          (b, base) => {
            val d = numRaw(b, base + off)
            if (d == null) null
            else {
              val dv = d.doubleValue()
              val key = if (dv == Math.rint(dv) && Math.abs(dv) <= Int.MaxValue) dv.toInt else Int.MinValue
              labelMap.get(key) match {
                case Some(l) => UTF8String.fromString(l)
                case None => UTF8String.fromString(renderNumber(dv))
              }
            }
          }
        case _ => kind match {
          case Some(KDate) =>
            (b, base) => {
              val d = numRaw(b, base + off)
              if (d == null) null
              else java.lang.Integer.valueOf((d.doubleValue().toLong - EpochShiftDays).toInt)
            }
          case Some(KDateTime) =>
            (b, base) => {
              val d = numRaw(b, base + off)
              if (d == null) null
              else java.lang.Long.valueOf((d.doubleValue().toLong - EpochShiftMs) * 1000L)
            }
          case Some(KTime(nullOnDt)) =>
            (b, base) => {
              if (nullOnDt) null
              else {
                val d = numRaw(b, base + off)
                if (d == null) null
                else {
                  val ms = d.doubleValue().toLong
                  val day = 86400000L
                  java.lang.Long.valueOf(((ms % day + day) % day) * 1000000L)
                }
              }
            }
          case None => v.varType match {
            case TByte => (b, base) => {
              val d = numRaw(b, base + off)
              if (d == null) null else java.lang.Byte.valueOf(d.doubleValue().toByte)
            }
            case TInt16 => (b, base) => {
              val d = numRaw(b, base + off)
              if (d == null) null else java.lang.Short.valueOf(d.doubleValue().toShort)
            }
            case TInt32 => (b, base) => {
              val d = numRaw(b, base + off)
              if (d == null) null else java.lang.Integer.valueOf(d.doubleValue().toInt)
            }
            case TFloat => (b, base) => {
              // decode float directly to preserve exact f32 value
              val o = base + off
              val bits = Bin.u32(b, o, le)
              if ((bits & 0x80000000L) == 0 && bits > rules.maxFloatBits) {
                if (bits == rules.missingFloatBits) null
                else java.lang.Float.valueOf(Float.NaN)
              } else java.lang.Float.valueOf(java.lang.Float.intBitsToFloat(bits.toInt))
            }
            case TDouble => (b, base) => {
              val d = numRaw(b, base + off)
              d
            }
            case _ => throw new IllegalStateException("unreachable")
          }
        }
      }
      val indicator: (Array[Byte], Int) => UTF8String = (b, base) => {
        val k = tagOf(v.varType, b, base + off, le, rules)
        if (k >= 1) UTF8String.fromString(tagLabel(k)) else null
      }

      // missing predicate + raw double value, matching numRaw's semantics
      // exactly (.a-.z on float/double decode as NaN values, not null —
      // reference parity)
      def numMissing(b: Array[Byte], base: Int): Boolean = v.varType match {
        case TByte =>
          val x = b(base + off)
          (rules.sentinelEnabled && x >= rules.sentI8) || x > rules.maxI8
        case TInt16 =>
          val x = Bin.i16(b, base + off, le)
          (rules.sentinelEnabled && x >= rules.sentI16) || x > rules.maxI16
        case TInt32 =>
          val x = Bin.i32(b, base + off, le)
          (rules.sentinelEnabled && x >= rules.sentI32) || x > rules.maxI32
        case TFloat =>
          val bits = Bin.u32(b, base + off, le)
          (bits & 0x80000000L) == 0 && bits > rules.maxFloatBits && bits == rules.missingFloatBits
        case TDouble =>
          val bits = Bin.u64(b, base + off, le)
          (bits & 0x8000000000000000L) == 0 &&
            java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0 &&
            bits == rules.missingDoubleBits
        case _ => true
      }
      def numValue(b: Array[Byte], base: Int): Double = v.varType match {
        case TByte => b(base + off).toDouble
        case TInt16 => Bin.i16(b, base + off, le).toDouble
        case TInt32 => Bin.i32(b, base + off, le).toDouble
        case TFloat =>
          val bits = Bin.u32(b, base + off, le)
          if ((bits & 0x80000000L) == 0 && bits > rules.maxFloatBits) Double.NaN
          else java.lang.Float.intBitsToFloat(bits.toInt).toDouble
        case TDouble =>
          val bits = Bin.u64(b, base + off, le)
          if ((bits & 0x8000000000000000L) == 0 &&
              java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0) Double.NaN
          else java.lang.Double.longBitsToDouble(bits)
        case _ => Double.NaN
      }

      val appender: Option[ColumnAppender] = if (labeled) None else v.varType match {
        case TStr(w) =>
          Some((b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) => {
            val o = base + off
            var n = 0
            var ascii = true
            while (n < w && b(o + n) != 0) { // stop at first NUL
              if (b(o + n) < 0) ascii = false
              n += 1
            }
            while (n > 0 && b(o + n - 1) == ' ') n -= 1 // trim trailing pad
            if (n == 0) {
              if (opts.missingStringAsNull) vec.putNull(ri)
              else vec.putByteArray(ri, Array.emptyByteArray, 0, 0)
            } else if (ascii) vec.putByteArray(ri, b, o, n)
            else if (csUtf8 && UTF8String.fromBytes(b, o, n).isValid) {
              vec.putByteArray(ri, b, o, n)
            } else {
              val bytes = new String(b, o, n, cs)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              vec.putByteArray(ri, bytes, 0, bytes.length)
            }
          })
        case TStrL => None
        case _ => Some(kind match {
          case Some(KDate) =>
            (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) =>
              if (numMissing(b, base)) vec.putNull(ri)
              else vec.putInt(ri, (numValue(b, base).toLong - EpochShiftDays).toInt)
          case Some(KDateTime) =>
            (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) =>
              if (numMissing(b, base)) vec.putNull(ri)
              else vec.putLong(ri, (numValue(b, base).toLong - EpochShiftMs) * 1000L)
          case Some(KTime(nullOnDt)) =>
            (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) =>
              if (nullOnDt || numMissing(b, base)) vec.putNull(ri)
              else {
                val ms = numValue(b, base).toLong
                val day = 86400000L
                vec.putLong(ri, ((ms % day + day) % day) * 1000000L)
              }
          case None => v.varType match {
            case TByte =>
              (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) =>
                if (numMissing(b, base)) vec.putNull(ri)
                else vec.putByte(ri, b(base + off))
            case TInt16 =>
              (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) =>
                if (numMissing(b, base)) vec.putNull(ri)
                else vec.putShort(ri, Bin.i16(b, base + off, le).toShort)
            case TInt32 =>
              (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) =>
                if (numMissing(b, base)) vec.putNull(ri)
                else vec.putInt(ri, Bin.i32(b, base + off, le))
            case TFloat =>
              (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) => {
                val bits = Bin.u32(b, base + off, le)
                if ((bits & 0x80000000L) == 0 && bits > rules.maxFloatBits) {
                  if (bits == rules.missingFloatBits) vec.putNull(ri)
                  else vec.putFloat(ri, Float.NaN)
                } else vec.putFloat(ri, java.lang.Float.intBitsToFloat(bits.toInt))
              }
            case TDouble =>
              (b: Array[Byte], base: Int, vec: WritableColumnVector, ri: Int) => {
                val bits = Bin.u64(b, base + off, le)
                if ((bits & 0x8000000000000000L) == 0 &&
                    java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0) {
                  if (bits == rules.missingDoubleBits) vec.putNull(ri)
                  else vec.putDouble(ri, Double.NaN)
                } else vec.putDouble(ri, java.lang.Double.longBitsToDouble(bits))
              }
            case _ => throw new IllegalStateException("unreachable")
          }
        })
      }

      val numeric = v.varType match {
        case TStr(_) | TStrL => false
        case _ => true
      }
      ReadstatFormats.SourceColumn(sparkField(v, opts, labeled),
        informative = numeric && !labeled && version >= 113, decode, indicator, appender)
    }
  }
}
