package graft.gremlin

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._
import graft.sources.GraphStore

/**
 * The light lane — APC's "a light query runs on one thread" (SURVEY
 * §4.8): an index-seeded query small enough to stay light is answered
 * on the driver by a step interpreter, the way Grasper's Expert chain
 * walks its adjacency-list store, instead of as a Catalyst plan and a
 * Spark job. Seeds come from the driver postings
 * ([[IndexStore.Postings]]); hops and property reads from the
 * [[AdjacencyStore]].
 *
 * Admission ([[admit]]) is pure driver arithmetic. It carries an UPPER
 * bound on the stream's rows, seeded by the index fold (which never
 * underestimates): filters and per-traverser maps keep it, a hop
 * multiplies it by the store's max degree, a scalar aggregate makes it
 * 1, and an order-free `dedup()` keeps it. Any other step ends the
 * lane, as does a hop or attach whose `bound × row width` exceeds the
 * graph session's `spark.sql.autoBroadcastJoinThreshold` (Spark's own
 * row-size estimate: 8 bytes plus the columns' default sizes), a hop or
 * attach with no store, a seed with no driver postings, an invalid
 * step, and a predicate whose literal type differs from its column's.
 * A query the lane does not admit compiles on the plain path.
 *
 * A traverser is its value plus its `as()` history. Answers equal the
 * plain path's: one row per matching table row (an id missing from the
 * vertex table attaches to nothing), `both()` = out ∪ in, `values()`
 * drops nulls, `count` is a Long and `sum`/`min`/`max`/`mean` Doubles
 * (null on empty input), predicates follow [[Pred.eval]], `dedup` uses
 * Spark's grouping equality (−0.0 = 0.0, NaN = NaN), and `select`/
 * `path` render through Catalyst's cast to string. The output schema,
 * nullability included, is the one the plain path's plan declares.
 */
object LightLane {

  /** An edge traverser's value: its `(src, dst, label)` struct. */
  final case class Edge(src: Long, dst: Long, label: String)

  /** A stream column: its Catalyst type and declared nullability. */
  private final case class Col(dt: DataType, nullable: Boolean)

  /** The stream between two steps: what flows, its history columns (in
    * `as()` order, like the compiler's), whether the element's table
    * row is attached, and the row bound. */
  private final case class Shape(kind: Kind, value: Col,
                                 history: ListMap[String, (Kind, Col)],
                                 attached: Boolean, bound: Long) {
    /** Row width of the stream without its attached properties. */
    def width: Long =
      8L + value.dt.defaultSize + history.values.map(_._2.dt.defaultSize).sum
    def slot(label: String): Int = history.keys.toIndexedSeq.indexOf(label)
  }

  /** One traverser: its value, its table row when attached (else -1),
    * and its history values, by [[Shape.history]] position. */
  private final class Trav(val value: Any, val row: Int,
                           val hist: IndexedSeq[Any]) {
    def to(v: Any): Trav = new Trav(v, -1, hist)
  }

  /** An admitted query: its seed, its steps and the shape before each
    * step (and after the last). */
  final class Plan private[LightLane] (
      private[LightLane] val graph: GraphStore,
      private[LightLane] val store: Option[AdjacencyStore],
      private[LightLane] val seeds: Seq[(IndexStore.Postings, Pred)],
      private[LightLane] val steps: List[Step],
      private[LightLane] val shapes: List[Shape]) extends Compiled {
    def light: Boolean = true

    /** The output schema: `id`, `src, dst, label` or `value`. */
    def schema: StructType = {
      val s = shapes.last
      s.kind match {
        case VertexKind => StructType(Seq(
          StructField("id", LongType, s.value.nullable)))
        case EdgeKind => StructType(s.value.dt.asInstanceOf[StructType].map(
          f => f.copy(nullable = f.nullable || s.value.nullable)))
        case ScalarKind(dt) => StructType(Seq(
          StructField("value", dt, s.value.nullable)))
      }
    }
  }

  /** Admit the steps after an index fold — `folded` (key, predicate)
    * pairs of vertices (`isVertex`) or edges, at most `bound` rows — or
    * None when the lane cannot carry them. */
  def admit(graph: GraphStore, store: Option[AdjacencyStore],
            index: IndexStore, isVertex: Boolean,
            folded: Seq[(String, Pred)], bound: Long,
            steps: List[Step]): Option[Plan] = {
    val table = if (isVertex) graph.vertices else graph.edges
    val seeds = folded.map { case (key, pred) =>
      index.get(isVertex, key).flatMap(_.driver)
        .filter(p => pred != Pred.None || p.servesNoKey)
        .filter(_ => typed(table.schema(key).dataType, pred))
        .map(_ -> pred)
    }
    if (seeds.exists(_.isEmpty)) return None
    val threshold = graph.vertices.sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    val vs = graph.vertices.schema
    val es = graph.edges.schema
    def field(df: StructType, c: String): Col =
      Col(df(c).dataType, df(c).nullable)
    val edgeStruct = StructType(Seq("src", "dst", "label").map(c =>
      StructField(c, es(c).dataType, es(c).nullable)))

    /** The shape after `step` from `s`; None ends the lane. */
    def next(s: Shape, step: Step): Option[Shape] = {
      import Step._
      def times(k: Long): Option[Long] =
        if (k != 0 && s.bound > Long.MaxValue / k) None else Some(s.bound * k)
      // a hop or attach reads the store, and its traverser side must fit
      def fits: Boolean = store.isDefined && threshold > 0 &&
        s.bound <= threshold / s.width
      def attached: Option[Shape] =
        if (s.attached) Some(s)
        else if (s.kind.isInstanceOf[ScalarKind] || !fits) None
        else Some(s.copy(attached = true))
      def prop(key: String): Option[Col] = s.kind match {
        case VertexKind if key == "label" || graph.vertexKeys.contains(key) =>
          Some(field(vs, key))
        case EdgeKind if key == "label" => Some(subfield(s.value, "label"))
        case EdgeKind if graph.edgeKeys.contains(key) => Some(field(es, key))
        case _ => None
      }
      def detached(kind: Kind, value: Col): Shape =
        s.copy(kind = kind, value = value, attached = false)
      def hop(dir: Dir, labels: Seq[String]): Option[Long] =
        if (s.kind != VertexKind || !fits) None
        else store.flatMap(a => times(a.hop(dir, labels)))
      step match {
        case Has(key, pred) =>
          attached.filter(_ => prop(key).exists(c => typed(c.dt, pred)))
        case HasKey(keys) => attached.filter(_ => keys.forall(prop(_).isDefined))
        case _: HasValue => attached
        case _: HasLabel if s.kind == EdgeKind => Some(s)
        case _: HasLabel => attached
        case Is(pred) => Some(s).filter(_ => typed(s.value.dt, pred))
        case WherePred(op, t) => s.history.get(t)
          .filter(h => Ops(op) && comparable(s.value.dt, h._2.dt)).map(_ => s)
        case WhereHistory(l, op, r) =>
          (s.history.get(l), s.history.get(r)) match {
            case (Some(a), Some(b)) if Ops(op) && comparable(a._2.dt, b._2.dt) =>
              Some(s)
            case _ => None
          }
        case VtoV(dir, labels) => hop(dir, labels).map { b =>
          val n = dir match {
            case Out => es("dst").nullable
            case In => es("src").nullable
            case Both => es("src").nullable || es("dst").nullable
          }
          detached(VertexKind, Col(LongType, n)).copy(bound = b)
        }
        case VtoE(dir, labels) => hop(dir, labels).map(b =>
          detached(EdgeKind, Col(edgeStruct, nullable = false)).copy(bound = b))
        case EtoV(dir) if s.kind == EdgeKind =>
          val (src, dst) = (subfield(s.value, "src"), subfield(s.value, "dst"))
          val end = dir match {
            case Out => src
            case In => dst
            case Both => Col(LongType, src.nullable || dst.nullable)
          }
          (if (dir == Both) times(2) else Some(s.bound)).map(b =>
            detached(VertexKind, end).copy(bound = b))
        case Values(Seq(key)) => attached.flatMap(_ => prop(key))
          .map(c => detached(ScalarKind(c.dt), c))
        case Label() if s.kind == EdgeKind =>
          Some(detached(ScalarKind(StringType), subfield(s.value, "label")))
        case Label() => attached.flatMap(_ => prop("label"))
          .map(c => detached(ScalarKind(StringType), c))
        case As(name) =>
          Some(s.copy(history = s.history + (name -> (s.kind, s.value))))
        case Select(Seq(n)) => s.history.get(n).map(h => detached(h._1, h._2))
        case Select(ns) if ns.forall(s.history.contains) =>
          Some(detached(ScalarKind(StringType),
            Col(StringType, ns.exists(s.history(_)._2.nullable))))
        case PathStep() =>
          Some(detached(ScalarKind(StringType), Col(StringType, nullable = false)))
        case _: Aggregate => Some(s)
        case Count() => Some(Shape(ScalarKind(LongType),
          Col(LongType, nullable = false), ListMap.empty, attached = false, 1L))
        case _: MathStep if numeric(s.value.dt) => Some(Shape(
          ScalarKind(DoubleType), Col(DoubleType, nullable = true),
          ListMap.empty, attached = false, 1L))
        case Dedup(Seq()) if s.history.isEmpty => Some(s.copy(attached = false))
        case _ => None
      }
    }

    val init =
      if (isVertex) Shape(VertexKind, field(vs, "id"), ListMap.empty,
        attached = false, bound)
      else Shape(EdgeKind, Col(edgeStruct, nullable = false), ListMap.empty,
        attached = false, bound)
    val shapes = steps.foldLeft(Option(List(init))) { (acc, step) =>
      acc.flatMap(ss => next(ss.head, step).map(_ :: ss))
    }
    shapes.map(ss => new Plan(graph, store, seeds.map(_.get), steps, ss.reverse))
  }

  private val Ops = Set("eq", "neq", "lt", "lte", "gt", "gte")

  private def numeric(dt: DataType): Boolean =
    dt == IntegerType || dt == LongType || dt == DoubleType

  /** Catalyst compares the two without a cast [[PredEval]] cannot mirror. */
  private def comparable(a: DataType, b: DataType): Boolean =
    (numeric(a) && numeric(b)) || a == b

  /** Every literal of `pred` has the column type's family. */
  private def typed(dt: DataType, pred: Pred): Boolean = {
    def ok(l: Lit): Boolean = l match {
      case _: Lit.S => dt == StringType
      case _ => numeric(dt)
    }
    pred match {
      case Pred.Any | Pred.None => true
      case Pred.Eq(v) => ok(v)
      case Pred.Neq(v) => ok(v)
      case Pred.Lt(v) => ok(v)
      case Pred.Lte(v) => ok(v)
      case Pred.Gt(v) => ok(v)
      case Pred.Gte(v) => ok(v)
      case Pred.Inside(a, b) => ok(a) && ok(b)
      case Pred.Outside(a, b) => ok(a) && ok(b)
      case Pred.Between(a, b) => ok(a) && ok(b)
      case Pred.Within(vs) => vs.forall(ok)
      case Pred.Without(vs) => vs.forall(ok)
    }
  }

  /** A struct column's field, as `getField` declares it. */
  private def subfield(c: Col, name: String): Col = {
    val f = c.dt.asInstanceOf[StructType](name)
    Col(f.dataType, c.nullable || f.nullable)
  }

  // ------------------------------------------------------------------

  /** Run an admitted query: its rows, one value per output column. */
  def run(plan: Plan): Seq[Seq[Any]] = {
    // the first fold drives (with its multiplicity), the others filter
    // (the plain path's left-semi joins of the postings)
    val (first, p0) = plan.seeds.head
    val rest = plan.seeds.tail.map { case (ps, p) => ps.select(p).toSet }
    val seed = first.select(p0).filter(e => rest.forall(_(e)))
      .map(new Trav(_, -1, IndexedSeq.empty))
    val out = plan.steps.zip(plan.shapes.zip(plan.shapes.tail))
      .foldLeft(seed) { case (ts, (step, (s, o))) => exec(plan, s, o, step, ts) }
    plan.shapes.last.kind match {
      case EdgeKind => out.map { t =>
        val e = t.value.asInstanceOf[Edge]
        Seq(e.src, e.dst, e.label)
      }
      case _ => out.map(t => Seq(t.value))
    }
  }

  /** One step from shape `s` to shape `o`. */
  private def exec(plan: Plan, s: Shape, o: Shape, step: Step,
                   ts: Seq[Trav]): Seq[Trav] = {
    import Step._
    lazy val store = plan.store.get
    def attach: Seq[Trav] =
      if (s.attached) ts
      else {
        val out = ArrayBuffer.empty[Trav]
        ts.foreach { t =>
          def add(r: Int): Unit = out += new Trav(t.value, r, t.hist)
          t.value match {
            case id: Long => store.vertexRows(id)(add)
            case e: Edge => store.edgeRows(e)(add)
          }
        }
        out.toSeq
      }
    def prop(key: String): Trav => Any = (s.kind, key) match {
      case (EdgeKind, "label") => _.value.asInstanceOf[Edge].label
      case (VertexKind, k) =>
        val c = store.vertexColumn(k); t => c.get(t.row)
      case (_, k) =>
        val c = store.edgeColumn(k); t => c.get(t.row)
    }
    def cmp(op: String, a: Any, b: Any): Boolean =
      PredEval.compare(a, b).exists(c => op match {
        case "eq" => c == 0
        case "neq" => c != 0
        case "lt" => c < 0
        case "lte" => c <= 0
        case "gt" => c > 0
        case "gte" => c >= 0
      })
    step match {
      case Has(key, pred) =>
        val get = prop(key); attach.filter(t => pred.eval(get(t)))
      case HasKey(keys) =>
        val gets = keys.map(prop); attach.filter(t => gets.forall(_(t) != null))
      case HasValue(vs) =>
        val (keys, table) =
          if (s.kind == VertexKind) (plan.graph.vertexKeys, plan.graph.vertices)
          else (plan.graph.edgeKeys, plan.graph.edges)
        val typed = keys.map(k => (prop(k), table.schema(k).dataType))
        // the plain path's rule: a string matches a string column, a
        // number a numeric column, and nothing else matches
        attach.filter(t => typed.exists { case (get, dt) =>
          val v = get(t)
          vs.exists {
            case l: Lit.S => dt == StringType && PredEval.cmp(v, l).contains(0)
            case l => numeric(dt) && PredEval.cmp(v, l).contains(0)
          }
        })
      case HasLabel(labels) if s.kind == EdgeKind =>
        ts.filter(t => labels.contains(t.value.asInstanceOf[Edge].label))
      case HasLabel(labels) =>
        val get = prop("label"); attach.filter(t => labels.contains(get(t)))
      case Is(pred) => ts.filter(t => pred.eval(t.value))
      case WherePred(op, target) =>
        val i = s.slot(target); ts.filter(t => cmp(op, t.value, t.hist(i)))
      case WhereHistory(l, op, r) =>
        val (i, j) = (s.slot(l), s.slot(r))
        ts.filter(t => cmp(op, t.hist(i), t.hist(j)))
      case VtoV(dir, labels) => hop(store, dir, labels, emitEdge = false, ts)
      case VtoE(dir, labels) => hop(store, dir, labels, emitEdge = true, ts)
      case EtoV(dir) => ts.flatMap { t =>
        val e = t.value.asInstanceOf[Edge]
        dir match {
          case Out => Seq(t.to(e.src))
          case In => Seq(t.to(e.dst))
          case Both => Seq(t.to(e.src), t.to(e.dst))
        }
      }
      case Values(Seq(key)) =>
        val get = prop(key)
        attach.flatMap(t => Option(get(t)).map(t.to))
      case Label() if s.kind == EdgeKind =>
        ts.map(t => t.to(t.value.asInstanceOf[Edge].label))
      case Label() => val get = prop("label"); attach.map(t => t.to(get(t)))
      case As(name) =>
        val from = o.history.keys.toIndexedSeq.map(k =>
          if (k == name) -1 else s.slot(k))
        ts.map(t => new Trav(t.value, t.row,
          from.map(i => if (i < 0) t.value else t.hist(i))))
      case Select(Seq(n)) => val i = s.slot(n); ts.map(t => t.to(t.hist(i)))
      case Select(ns) =>
        // concat(...): null when any part is
        val parts = ns.map(n => (n, s.slot(n), s.history(n)._2.dt))
        ts.map { t =>
          val texts = parts.map { case (n, i, dt) =>
            Option(text(t.hist(i), dt)).map(n + ":" + _) }
          t.to(if (texts.exists(_.isEmpty)) null
               else texts.flatten.mkString("[", ", ", "]"))
        }
      case PathStep() =>
        // concat_ws(...): null parts are skipped
        val dts = s.history.values.map(_._2.dt).toSeq
        ts.map { t =>
          val cur = t.value match {
            case e: Edge => text(e.src, LongType) + "->" + text(e.dst, LongType)
            case v => text(v, s.value.dt)
          }
          val parts = t.hist.zip(dts).map { case (v, dt) => text(v, dt) } :+ cur
          t.to(parts.filter(_ != null).mkString("[", ", ", "]"))
        }
      case _: Aggregate => ts
      case Count() => Seq(new Trav(ts.size.toLong, -1, IndexedSeq.empty))
      case MathStep(op) =>
        val xs = ts.flatMap(t => Option(t.value))
          .map(_.asInstanceOf[Number].doubleValue)
        val byOrder: Ordering[Double] =
          (a, b) => org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(a, b)
        val v: Any =
          if (xs.isEmpty) null
          else op match {
            case SumOp => xs.sum
            case MaxOp => xs.max(byOrder)
            case MinOp => xs.min(byOrder)
            case MeanOp => xs.sum / xs.size
          }
        Seq(new Trav(v, -1, IndexedSeq.empty))
      case Dedup(_) =>
        // Spark's grouping equality: −0.0 is 0.0, every NaN is one NaN
        def key(v: Any): Any = v match {
          case d: Double if d == 0.0 => 0.0
          case d: Double if d.isNaN => Double.NaN
          case x => x
        }
        val seen = new java.util.HashSet[Any]
        ts.filter(t => seen.add(key(t.value))).map(t => t.to(key(t.value)))
      case other => throw new IllegalStateException(
        s"light lane: $other was not admitted")
    }
  }

  private def hop(store: AdjacencyStore, dir: Step.Dir, labels: Seq[String],
                  emitEdge: Boolean, ts: Seq[Trav]): Seq[Trav] = {
    val ls = store.labelIndices(labels)
    val out = ArrayBuffer.empty[Trav]
    ts.foreach { t =>
      store.neighbours(t.value.asInstanceOf[Long], ls, dir != Step.In,
        dir != Step.Out, emitEdge)(v => out += t.to(v))
    }
    out.toSeq
  }

  /** `v` of type `dt` as Catalyst casts it to a string; null for null. */
  private def text(v: Any, dt: DataType): String =
    if (v == null) null
    else {
      val external = v match {
        case e: Edge => Row(e.src, e.dst, e.label)
        case x => x
      }
      Cast(Literal.create(external, dt), StringType).eval().toString
    }
}
