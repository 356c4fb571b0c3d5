package graft.sources.readstat

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

/** Optional filter pushdown into the readstat scan (SURVEY.md §2.2 P4 EXT):
  * the reference never pushes predicates; we skip decoding the REST of a
  * fixed-width row when a cheap filter-column test fails. Spark still
  * applies every filter above the scan (they are all returned as residual),
  * so unsupported predicates or semantic corner cases can never change
  * results — the pushdown is purely a decode-skipping hint.
  *
  * Evaluation is TRI-STATE (r11 fix): `Some(false)` = the residual filter
  * is certain to drop the row (FALSE or SQL NULL) so skipping is safe;
  * `Some(true)` = it evaluates TRUE or NULL; `None` = we cannot tell (a
  * literal TYPE we don't compare — e.g. timestamp literals against raw
  * micro longs). The earlier two-state eval returned plain `true` for
  * "can't tell", which a pushed `Not(...)` FLIPPED into a skip:
  * `ts =!= lit` (→ `Not(EqualTo)`) on a datetime column dropped every
  * row at the scan while the residual would have kept almost all of them.
  * With the lattice below, "can't tell" propagates through Not/And/Or and
  * surfaces as keep. The invariants each constructor must preserve:
  *   - Some(false) ⇒ residual ∈ {FALSE, NULL}  (droppable — skip safe)
  *   - Some(true)  ⇒ residual ∈ {TRUE, NULL}   (so Not may map it to skip)
  *   - None        ⇒ anything                   (always keep)
  * Null column values sit in NULL on both sides, which is why they are
  * foldable into EITHER determinate value without breaking the invariants.
  */
object RowFilter {

  /** Column names a filter tree references, or None if any node is
    * unsupported (we then ignore the whole filter).
    */
  def referenced(f: Filter): Option[Seq[String]] = f match {
    case EqualTo(a, _) => Some(Seq(a))
    case GreaterThan(a, _) => Some(Seq(a))
    case GreaterThanOrEqual(a, _) => Some(Seq(a))
    case LessThan(a, _) => Some(Seq(a))
    case LessThanOrEqual(a, _) => Some(Seq(a))
    case In(a, _) => Some(Seq(a))
    case IsNull(a) => Some(Seq(a))
    case IsNotNull(a) => Some(Seq(a))
    case StringStartsWith(a, _) => Some(Seq(a))
    case StringEndsWith(a, _) => Some(Seq(a))
    case StringContains(a, _) => Some(Seq(a))
    case And(l, r) => for { a <- referenced(l); b <- referenced(r) } yield a ++ b
    case Or(l, r) => for { a <- referenced(l); b <- referenced(r) } yield a ++ b
    case Not(c) => referenced(c)
    case _ => None
  }

  /** A scan's decode-skip predicate over a row's bytes (`buf`, `base`),
    * or null when there is no filter. It decodes only the columns the
    * filters name, through `decoder`, the output column's own decoder: a
    * filter on an informative-null indicator or merged column sees that
    * column's value, not the raw one (which is null exactly where the
    * indicator is set).
    */
  def predicate(
      filters: Seq[Filter],
      decoder: String => (Array[Byte], Int) => Any): (Array[Byte], Int) => Boolean =
    if (filters.isEmpty) null
    else {
      val decoders = filters.flatMap(referenced).flatten.distinct.map(n => n -> decoder(n)).toMap
      (buf, base) => filters.forall(f => keep(f, n => decoders(n)(buf, base)))
    }

  /** Should the row be decoded? False only when [[eval]] is certain the
    * residual filter drops it.
    */
  def keep(f: Filter, value: String => Any): Boolean =
    !eval(f, value).contains(false)

  /** Tri-state evaluation against decoded Catalyst values (UTF8String for
    * strings, boxed primitives for the rest) — see the object scaladoc for
    * the Some/None invariants.
    */
  def eval(f: Filter, value: String => Any): Option[Boolean] = f match {
    case EqualTo(a, v) => test(value(a), v, _ == 0)
    case GreaterThan(a, v) => test(value(a), v, _ > 0)
    case GreaterThanOrEqual(a, v) => test(value(a), v, _ >= 0)
    case LessThan(a, v) => test(value(a), v, _ < 0)
    case LessThanOrEqual(a, v) => test(value(a), v, _ <= 0)
    case In(a, vs) =>
      val x = value(a)
      if (x == null) Some(false) // IN over null → NULL: droppable
      else {
        // known-equal wins; all-known-unequal is droppable; any literal we
        // could not compare forces "can't tell" (IN with an unmatched
        // unknown literal may still be TRUE)
        val results = vs.map(v => test(x, v, _ == 0))
        if (results.contains(Some(true))) Some(true)
        else if (results.contains(None)) None
        else Some(false)
      }
    case IsNull(a) => Some(value(a) == null)
    case IsNotNull(a) => Some(value(a) != null)
    case StringStartsWith(a, v) => strTest(value(a), _.startsWith(v))
    case StringEndsWith(a, v) => strTest(value(a), _.endsWith(v))
    case StringContains(a, v) => strTest(value(a), _.contains(v))
    case And(l, r) => (eval(l, value), eval(r, value)) match {
      // one droppable side makes the AND droppable whatever the other is:
      // (F|N) && x ∈ {FALSE, NULL} for every x
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true) // (T|N)&&(T|N) ∈ {T,N}
      case _ => None
    }
    case Or(l, r) => (eval(l, value), eval(r, value)) match {
      // (T|N) || x ∈ {TRUE, NULL} for every x
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false) // (F|N)||(F|N) ∈ {F,N}
      case _ => None
    }
    // {F,N} and {T,N} are each other's images under NOT; None stays None
    case Not(c) => eval(c, value).map(!_)
    case _ => None
  }

  private def strTest(decoded: Any, pred: String => Boolean): Option[Boolean] =
    decoded match {
      case null => Some(false) // predicate over NULL → NULL: droppable
      case u: UTF8String => Some(pred(u.toString))
      case _ => None
    }

  private def test(decoded: Any, lit: Any, pred: Int => Boolean): Option[Boolean] = {
    if (decoded == null) return Some(false) // comparison → NULL: droppable
    cmp(decoded, lit).map(pred)
  }

  /** Three-way compare of a non-null decoded value vs a literal;
    * None = unsupported literal type.
    */
  private def cmp(decoded: Any, lit: Any): Option[Int] = decoded match {
    case null => None
    case u: UTF8String => lit match {
      case s: String => Some(u.toString.compareTo(s))
      case u2: UTF8String => Some(u.compareTo(u2))
      case _ => None
    }
    case n: java.lang.Number => lit match {
      case l: java.lang.Number => Some(java.lang.Double.compare(n.doubleValue(), l.doubleValue()))
      case d: java.sql.Date => Some(java.lang.Double.compare(n.doubleValue(), d.toLocalDate.toEpochDay.toDouble))
      case t: java.time.LocalDate => Some(java.lang.Double.compare(n.doubleValue(), t.toEpochDay.toDouble))
      case _ => None
    }
    case b: java.lang.Boolean => lit match {
      case l: java.lang.Boolean => Some(b.compareTo(l))
      case _ => None
    }
    case _ => None
  }
}
