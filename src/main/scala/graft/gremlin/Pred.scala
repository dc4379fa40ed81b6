package graft.gremlin

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The reference's predicate algebra (`Predicate_T`, Grasper
 * `base/type.hpp:412`; evaluation `base/predicate.cpp:100-150`):
 * ANY, NONE, EQ, NEQ, LT, LTE, GT, GTE, INSIDE (exclusive), OUTSIDE,
 * BETWEEN (inclusive), WITHIN (in-list), WITHOUT.
 *
 * Compiled straight to Catalyst `Column` expressions — int/double
 * comparison coercion (`base/predicate.cpp:28-44`) is native Spark
 * behavior, so no custom code is needed for the value type system.
 */
sealed trait Pred {
  /** Build the filter column for a target column. */
  def apply(c: Column): Column

  /** Driver-side evaluation against a stored value, with Catalyst's
    * semantics for `apply(lit(v))`: null matches only `hasNot`, strings
    * order as UTF-8 bytes, integers compare exactly, a comparison with a
    * double compares as doubles (−0.0 = 0.0, NaN equal to itself and
    * above every number), and a string-vs-number pair never matches.
    * The posting-list index sums its count map with it at PLAN time
    * (reference `get_count_by_predicate`, `core/index_store.hpp:259`),
    * and the light lane filters its driver-side rows with it. */
  def eval(v: Any): Boolean
}

private[gremlin] object PredEval {
  /** 3-way compare of two values under Catalyst's ordering; None when
    * either is null or the types are incomparable. Numbers of any
    * width compare exactly unless one is a double; edges compare by
    * (src, dst, label), like their struct. */
  def compare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(utf8(x, y))
    case (x: java.lang.Double, y: Number) =>
      Some(SQLOrderingUtil.compareDoubles(x, y.doubleValue))
    case (x: Number, y: java.lang.Double) =>
      Some(SQLOrderingUtil.compareDoubles(x.doubleValue, y))
    case (x: Number, y: Number) =>
      Some(java.lang.Long.compare(x.longValue, y.longValue))
    case (x: LightLane.Edge, y: LightLane.Edge) =>
      val c = java.lang.Long.compare(x.src, y.src)
      if (c != 0) Some(c)
      else {
        val d = java.lang.Long.compare(x.dst, y.dst)
        Some(if (d != 0) d else utf8(x.label, y.label))
      }
    case _ => scala.None
  }

  /** Spark's string order: unsigned UTF-8 bytes, i.e. code point
    * order (UTF-16 `compareTo` puts U+E000..U+FFFF above every
    * supplementary character). */
  def utf8(x: String, y: String): Int =
    UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)).sign

  def cmp(a: Any, l: Lit): Option[Int] = compare(a, l.value)

  /** The keys `isin` compares against: Catalyst casts the value and the
    * whole list to one type, so a double in the list makes every
    * number compare as a double. */
  def inKeys(vs: Seq[Lit]): Seq[Any] =
    if (!vs.exists(_.isInstanceOf[Lit.D])) vs.map(_.value)
    else vs.map(_.value match {
      case n: Number => n.doubleValue
      case v => v
    })
}

object Pred {
  import PredEval.cmp
  /** has(key) — key present, any value. */
  case object Any extends Pred {
    def apply(c: Column): Column = c.isNotNull
    def eval(v: scala.Any): Boolean = v != null
  }
  /** hasNot(key) — key absent. */
  case object None extends Pred {
    def apply(c: Column): Column = c.isNull
    def eval(v: scala.Any): Boolean = v == null
  }
  final case class Eq(v: Lit) extends Pred {
    def apply(c: Column): Column = c === v.column
    def eval(x: scala.Any): Boolean = cmp(x, v).contains(0)
  }
  final case class Neq(v: Lit) extends Pred {
    def apply(c: Column): Column = c =!= v.column
    // incomparable types are simply unequal (value_t compare semantics)
    def eval(x: scala.Any): Boolean = x != null && !cmp(x, v).contains(0)
  }
  final case class Lt(v: Lit) extends Pred {
    def apply(c: Column): Column = c < v.column
    def eval(x: scala.Any): Boolean = cmp(x, v).exists(_ < 0)
  }
  final case class Lte(v: Lit) extends Pred {
    def apply(c: Column): Column = c <= v.column
    def eval(x: scala.Any): Boolean = cmp(x, v).exists(_ <= 0)
  }
  final case class Gt(v: Lit) extends Pred {
    def apply(c: Column): Column = c > v.column
    def eval(x: scala.Any): Boolean = cmp(x, v).exists(_ > 0)
  }
  final case class Gte(v: Lit) extends Pred {
    def apply(c: Column): Column = c >= v.column
    def eval(x: scala.Any): Boolean = cmp(x, v).exists(_ >= 0)
  }
  /** inside(lo, hi): lo < x < hi (exclusive both ends). */
  final case class Inside(lo: Lit, hi: Lit) extends Pred {
    def apply(c: Column): Column = c > lo.column && c < hi.column
    def eval(x: scala.Any): Boolean =
      cmp(x, lo).exists(_ > 0) && cmp(x, hi).exists(_ < 0)
  }
  /** outside(lo, hi): x < lo || x > hi. */
  final case class Outside(lo: Lit, hi: Lit) extends Pred {
    def apply(c: Column): Column = c < lo.column || c > hi.column
    def eval(x: scala.Any): Boolean =
      cmp(x, lo).exists(_ < 0) || cmp(x, hi).exists(_ > 0)
  }
  /** between(lo, hi): lo <= x <= hi (inclusive both ends). */
  final case class Between(lo: Lit, hi: Lit) extends Pred {
    def apply(c: Column): Column = c >= lo.column && c <= hi.column
    def eval(x: scala.Any): Boolean =
      cmp(x, lo).exists(_ >= 0) && cmp(x, hi).exists(_ <= 0)
  }
  /** within(v1, v2, …): x ∈ list. */
  final case class Within(vs: Seq[Lit]) extends Pred {
    def apply(c: Column): Column = c.isin(vs.map(_.value): _*)
    def eval(x: scala.Any): Boolean =
      PredEval.inKeys(vs).exists(k => PredEval.compare(x, k).contains(0))
  }
  /** without(v1, v2, …): x ∉ list. */
  final case class Without(vs: Seq[Lit]) extends Pred {
    def apply(c: Column): Column = !c.isin(vs.map(_.value): _*)
    def eval(x: scala.Any): Boolean = x != null &&
      PredEval.inKeys(vs).forall(k => !PredEval.compare(x, k).contains(0))
  }
}

/** A literal in a query string: int, double, or string. */
sealed trait Lit {
  def value: scala.Any
  def column: Column = lit(value)
}
object Lit {
  final case class I(v: Long)    extends Lit { def value: scala.Any = v }
  final case class D(v: Double)  extends Lit { def value: scala.Any = v }
  final case class S(v: String)  extends Lit { def value: scala.Any = v }
}
