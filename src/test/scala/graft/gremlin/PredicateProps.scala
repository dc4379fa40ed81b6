package graft.gremlin

import graft.SparkSpec
import graft.sources.GraphStore
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/**
 * Property-based checks (ScalaCheck): the engine's predicate algebra,
 * dedup/order/range invariants, and the reorder rule's semantic
 * neutrality, all validated against a driver-side Scala model on
 * randomly generated graphs.
 */
object PredicateProps extends Properties("gremlin") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def graphOf(ages: List[Int]): (GraphStore, List[Long]) = {
    val ids = ages.indices.map(_.toLong + 1)
    val vs = ids.zip(ages).map { case (id, a) =>
      (id, "node", Some(a)) }.toDF("id", "label", "age")
    val es = Seq.empty[(Long, Long, String)].toDF("src", "dst", "label")
    (GraphStore(vs, es), ids.toList)
  }

  private val agesGen: Gen[List[Int]] =
    Gen.chooseNum(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10, 10)))

  private val predGen: Gen[(String, Int => Boolean)] = {
    val v = Gen.chooseNum(-10, 10)
    Gen.oneOf(
      v.map(x => (s"eq($x)", (a: Int) => a == x)),
      v.map(x => (s"neq($x)", (a: Int) => a != x)),
      v.map(x => (s"lt($x)", (a: Int) => a < x)),
      v.map(x => (s"lte($x)", (a: Int) => a <= x)),
      v.map(x => (s"gt($x)", (a: Int) => a > x)),
      v.map(x => (s"gte($x)", (a: Int) => a >= x)),
      Gen.zip(v, v).map { case (a0, b0) =>
        val (lo, hi) = (math.min(a0, b0), math.max(a0, b0))
        (s"inside($lo, $hi)", (a: Int) => a > lo && a < hi) },
      Gen.zip(v, v).map { case (a0, b0) =>
        val (lo, hi) = (math.min(a0, b0), math.max(a0, b0))
        (s"outside($lo, $hi)", (a: Int) => a < lo || a > hi) },
      Gen.zip(v, v).map { case (a0, b0) =>
        val (lo, hi) = (math.min(a0, b0), math.max(a0, b0))
        (s"between($lo, $hi)", (a: Int) => a >= lo && a <= hi) },
      Gen.nonEmptyListOf(v).map(xs =>
        (s"within(${xs.mkString(", ")})", (a: Int) => xs.contains(a))),
      Gen.nonEmptyListOf(v).map(xs =>
        (s"without(${xs.mkString(", ")})", (a: Int) => !xs.contains(a))),
    )
  }

  property("has(pred) matches the Scala model") =
    forAll(agesGen, predGen) { (ages, pred) =>
      val (g, _) = graphOf(ages)
      val got = Graft(g).df(s"g.V().has('age', ${pred._1}).count()")
        .collect().head.getLong(0)
      got == ages.count(pred._2).toLong
    }

  property("is(pred) on values matches has(pred)") =
    forAll(agesGen, predGen) { (ages, pred) =>
      val (g, _) = graphOf(ages)
      val a = Graft(g).df(s"g.V().values('age').is(${pred._1}).count()")
        .collect().head.getLong(0)
      a == ages.count(pred._2).toLong
    }

  property("dedup() yields distinct multiset; idempotent") =
    forAll(agesGen) { ages =>
      val (g, _) = graphOf(ages)
      val one = Graft(g).df("g.V().values('age').dedup()")
        .collect().map(_.getInt(0)).sorted.toList
      val twice = Graft(g).df("g.V().values('age').dedup().dedup()")
        .collect().map(_.getInt(0)).sorted.toList
      one == ages.distinct.sorted && twice == one
    }

  property("order().range(lo,hi) slices the sorted model") =
    forAll(agesGen, Gen.chooseNum(0, 5), Gen.chooseNum(1, 5)) {
      (ages, lo, len) =>
        val (g, _) = graphOf(ages)
        val got = Graft(g)
          .df(s"g.V().values('age').order().range($lo, ${lo + len})")
          .collect().map(_.getInt(0)).toList
        got == ages.sorted.slice(lo, lo + len)
    }

  property("sum/max/min/mean match the model") =
    forAll(agesGen) { ages =>
      val g = Graft(graphOf(ages)._1)
      def v(q: String): Double =
        g.df(q).collect().head.getDouble(0)
      v("g.V().values('age').sum()") == ages.map(_.toDouble).sum &&
      v("g.V().values('age').max()") == ages.max.toDouble &&
      v("g.V().values('age').min()") == ages.min.toDouble &&
      math.abs(v("g.V().values('age').mean()") -
        ages.map(_.toDouble).sum / ages.length) < 1e-9
    }

  // ---- Pred.eval (the index store's driver-side count path) must
  // agree with Catalyst's evaluation of the same predicate, including
  // int<->double coercion and null handling ----

  private val numLitGen: Gen[Lit] = Gen.oneOf(
    Gen.chooseNum(-10L, 10L).map(Lit.I(_)),
    Gen.chooseNum(-20, 20).map(i => Lit.D(i / 2.0))) // binary-exact
  private val strLitGen: Gen[Lit] =
    Gen.oneOf("a", "b", "c", "zz").map(Lit.S(_))

  private def predAdtGen(lg: Gen[Lit]): Gen[Pred] = Gen.oneOf(
    lg.map(Pred.Eq(_)), lg.map(Pred.Neq(_)), lg.map(Pred.Lt(_)),
    lg.map(Pred.Lte(_)), lg.map(Pred.Gt(_)), lg.map(Pred.Gte(_)),
    Gen.zip(lg, lg).map { case (a, b) => Pred.Inside(a, b) },
    Gen.zip(lg, lg).map { case (a, b) => Pred.Outside(a, b) },
    Gen.zip(lg, lg).map { case (a, b) => Pred.Between(a, b) },
    Gen.nonEmptyListOf(lg).map(vs => Pred.Within(vs.take(4))),
    Gen.nonEmptyListOf(lg).map(vs => Pred.Without(vs.take(4))),
    Gen.const(Pred.Any))

  private def evalAgrees[T](vals: List[Option[T]], pred: Pred,
                            toDf: List[(Long, Option[T])] =>
                              org.apache.spark.sql.DataFrame): Boolean = {
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = toDf(rows)
    val sparkIds = df.filter(pred(org.apache.spark.sql.functions.col("v")))
      .select("id").collect().map(_.getLong(0)).toSet
    val modelIds = vals.zipWithIndex
      .collect { case (Some(v), i) if pred.eval(v) => i.toLong }.toSet
    sparkIds == modelIds
  }

  property("Pred.eval agrees with Catalyst on int columns") =
    forAll(Gen.listOf(Gen.option(Gen.chooseNum(-10, 10))),
           predAdtGen(numLitGen)) { (vals, pred) =>
      evalAgrees[Int](vals, pred, _.toDF("id", "v"))
    }

  property("Pred.eval agrees with Catalyst on double columns") =
    forAll(Gen.listOf(Gen.option(Gen.chooseNum(-20, 20).map(_ / 2.0))),
           predAdtGen(numLitGen)) { (vals, pred) =>
      evalAgrees[Double](vals, pred, _.toDF("id", "v"))
    }

  property("Pred.eval agrees with Catalyst on string columns") =
    forAll(Gen.listOf(Gen.option(Gen.oneOf("a", "b", "c", "zz", ""))),
           predAdtGen(strLitGen)) { (vals, pred) =>
      evalAgrees[String](vals, pred, _.toDF("id", "v"))
    }

  // ---- Pred.eval against Catalyst's pred(lit(v)) where the two
  // orders part ways: strings around the supplementary planes (UTF-8
  // byte order vs UTF-16 code units) and longs near 2^53 (exact vs
  // through a double) ----

  private val strs: List[Any] = List("", "a", "a\uFFFD", "\uE000",
    "\uFFFD", "\uD83D\uDE00", "a\uD83D\uDE00", "\uD800\uDC00")
  private val nearLongs: List[Any] = (-3L to 3L).map((1L << 53) + _).toList

  /** Catalyst's answer to `pred(lit(v))` for each `v`: null is false. */
  private def catalyst(vs: List[Any], pred: Pred): List[Boolean] = {
    val row = Seq(1).toDF("one").select(vs.map(v =>
      pred(org.apache.spark.sql.functions.lit(v))): _*).head()
    vs.indices.map(i => !row.isNullAt(i) && row.getBoolean(i)).toList
  }

  property("Pred.eval agrees with Catalyst on strings outside the BMP") =
    forAll(predAdtGen(Gen.oneOf(strs).map(v => Lit.S(v.toString)))) { pred =>
      strs.map(pred.eval) == catalyst(strs, pred)
    }

  property("Pred.eval agrees with Catalyst on longs near 2^53") =
    forAll(predAdtGen(Gen.frequency(
      3 -> Gen.chooseNum(-1L, 1L).map(d => Lit.I((1L << 53) + d)),
      1 -> Gen.oneOf(-2.0, 0.0, 2.0).map(d => Lit.D(9007199254740992.0 + d))))) {
      pred => nearLongs.map(pred.eval) == catalyst(nearLongs, pred)
    }

  property("Reorder preserves semantics") =
    forAll(agesGen, predGen, predGen) { (ages, p1, p2) =>
      val (g, _) = graphOf(ages)
      val q = s"g.V().hasLabel('node').has('age', ${p1._1})" +
        s".as('a').has('age', ${p2._1}).count()"
      val steps = StepParser.parse(q)
      val plain = Compiler.compile(g, steps).df.collect().head.getLong(0)
      val reord = Compiler.compile(g, Reorder(steps)).df
        .collect().head.getLong(0)
      plain == reord
    }
}
