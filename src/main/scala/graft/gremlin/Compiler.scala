package graft.gremlin

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GraphStore

/** What flows between steps — the reference's query-level IO type
  * (`IO_T`, Grasper `core/parser.hpp:35`). */
sealed trait Kind
case object VertexKind extends Kind                  // __val: LONG id
case object EdgeKind   extends Kind                  // __val: STRUCT(src,dst,label)
final case class ScalarKind(dt: DataType) extends Kind

final case class CompileException(msg: String) extends Exception(msg)

/** A compiled query: a Catalyst plan ([[Compiler.Result]]) or a query
  * the light lane answers on the driver ([[LightLane.Plan]]). */
trait Compiled {
  def light: Boolean
}

/**
 * Compiles a `List[Step]` into a DataFrame plan.
 *
 * This is the Spark-native replacement for the reference's entire
 * execution machinery (expert dataflow, mailboxes, barrier readiness,
 * locality routing — Grasper `core/experts_adapter.hpp`,
 * `core/message.cpp`, `expert/barrier_expert.hpp`): each step is a
 * declarative DataFrame transformation, and Catalyst/Tungsten/AQE
 * provide the scheduling, shuffles, partial aggregation and codegen the
 * reference hand-rolls.
 *
 * Column conventions inside a traversal plan:
 *  - `__val`          — the traverser's current value (id / edge struct / scalar)
 *  - `__as_<label>`   — history recorded by `as("<label>")`
 *                       (the reference's `history_t`, `core/message.hpp:74-100`)
 *  - `__rowid<n>`     — input-traverser tag for and/or/not existential
 *                       evaluation, fresh per branch filter so they nest
 *                       (`CreateBranchedMsgWithHisLabel`,
 *                       `core/message.cpp:214-268`)
 *  - `__ord_*`        — retained sort keys so `order()` survives later joins
 *
 * Property access re-attaches the element's columns by an equi-join on
 * id — the Spark analogue of the reference's RDMA point-reads
 * (`storage/vkvstore.cpp:153-166`). When the frontier came straight from
 * the table scan the columns are already attached and no join happens,
 * which is how `g.V().has(...)` compiles to a plain pushed-down scan.
 */
object Compiler {

  /** Default round cap for `repeat(sub).until(cond)` when no
    * `.times(k)` override follows. until() is the compiler's one
    * EAGER step (a data-dependent driver loop, the graph-operator
    * class): it exits early when the frontier drains and throws past
    * the cap (certify-or-throw). */
  val UntilCap = 10


  final case class State(
      df: DataFrame,
      kind: Kind,
      attached: Boolean,
      history: Map[String, Kind],
      sideEffects: Map[String, (DataFrame, Kind)],
      groupCol: Option[String],
      // (hidden sort-key columns, ascending?) — order persists until a barrier
      ordering: Seq[(String, Boolean)],
      // distinct groupCol universe: lets count() emit 0 rows for empty
      // groups ("empty data still reaches barriers", message.cpp:418-449)
      groupUniverse: Option[DataFrame] = None,
      // true when `__val` is provably duplicate-free: set at V()/E()
      // init (elements are unique) and by dedup(), preserved by
      // filters/order/slices/semi-joins (s.copy), reset by anything
      // that can fan out or re-project the value (hops, values(),
      // select(), union(), barriers). Lets the per-value branch-filter
      // fast path skip its distinct shuffle.
      distinctVal: Boolean = false) {
    /** Columns that must survive every transformation. */
    def auxCols: Seq[String] =
      history.keys.map(h => s"__as_$h").toSeq ++
        groupCol.toSeq ++ ordering.map(_._1)
  }

  final case class Result(df: DataFrame, kind: Kind,
                          ordering: Seq[(String, Boolean)],
                          sideEffects: Map[String, (DataFrame, Kind)])
      extends Compiled {
    def light: Boolean = false
  }

  private var aliasCounter = 0
  private def freshAlias(prefix: String): String = synchronized {
    aliasCounter += 1; s"$prefix$aliasCounter"
  }

  def compile(graph: GraphStore, steps: List[Step]): Result = {
    steps.headOption match {
      case Some(Step.V(_)) | Some(Step.E()) => ()
      case other => throw CompileException(
        s"query must start with V() or E(), got $other")
    }
    // ListMap: history preserves as()-application order (path() renders
    // labels in the order they were recorded)
    val init = State(null, VertexKind, attached = false,
      scala.collection.immutable.ListMap.empty, Map.empty, None, Nil)
    val out = compileSub(graph, init, steps)
    Result(out.df, out.kind, out.ordering, out.sideEffects)
  }

  /** Compile with a pre-computed frontier — vertex ids (`id: LONG`) or
    * edges (`src, dst, label`) — used by the posting-list index fold,
    * the Spark analogue of InitWithIndex
    * (`expert/init_expert.hpp:199-234`, which serves both element
    * types). */
  def compileSeeded(graph: GraphStore, frontier: DataFrame,
                    isVertex: Boolean, steps: List[Step]): Result = {
    // posting lists hold one row per element (intersections/unions of
    // per-value postings of one key stay element-unique)
    val init = State(
      frontier.select((if (isVertex) col("id") else edgeStruct()).as("__val")),
      if (isVertex) VertexKind else EdgeKind, attached = false,
      scala.collection.immutable.ListMap.empty, Map.empty, None, Nil,
      distinctVal = true)
    val out = compileSub(graph, init, steps)
    Result(out.df, out.kind, out.ordering, out.sideEffects)
  }

  /** Compile a sub-traversal from an existing frontier. */
  private def compileSub(graph: GraphStore, from: State,
                         sub: List[Step]): State =
    sub.foldLeft(from)((s, step) => applyStep(graph, s, step))

  // ------------------------------------------------------------------
  private def cmp(op: String, l: Column, r: Column): Column = op match {
    case "eq"  => l === r
    case "neq" => l =!= r
    case "lt"  => l < r
    case "lte" => l <= r
    case "gt"  => l > r
    case "gte" => l >= r
    case other => throw CompileException(s"bad comparison op: $other")
  }

  private def edgeStruct(prefix: String = ""): Column =
    struct(col(s"${prefix}src").as("src"), col(s"${prefix}dst").as("dst"),
      col(s"${prefix}label").as("label"))

  /** Re-attach element property columns (join on id) if absent. */
  private def ensureAttached(graph: GraphStore, s: State): State = {
    if (s.attached) return s
    val left = s.df
    s.kind match {
      case _: ScalarKind =>
        throw CompileException("cannot read properties of a scalar stream")
      case VertexKind =>
        val a = freshAlias("__v")
        val v = graph.vertices.alias(a)
        val joined = left.join(v, left("__val") === col(s"$a.id"))
        val keep = col("__val") +: s.auxCols.map(col) ++:
          (col(s"$a.label").as("label") +:
            graph.vertexKeys.map(k => col(s"$a.$k").as(k)))
        s.copy(df = joined.select(keep: _*), attached = true)
      case EdgeKind =>
        val a = freshAlias("__e")
        val e = graph.edges.alias(a)
        val joined = left.join(e,
          left("__val").getField("src") === col(s"$a.src") &&
          left("__val").getField("dst") === col(s"$a.dst") &&
          // label too: stores loaded from text can hold parallel edges
          // differing only by label
          left("__val").getField("label") === col(s"$a.label"))
        val keep = col("__val") +: s.auxCols.map(col) ++:
          graph.edgeKeys.map(k => col(s"$a.$k").as(k))
        s.copy(df = joined.select(keep: _*), attached = true)
    }
  }

  /** Drop attached property columns before a traversal join. */
  private def detach(s: State): State = {
    if (!s.attached) s
    else s.copy(
      df = s.df.select((col("__val") +: s.auxCols.map(col)): _*),
      attached = false)
  }

  private def propCol(graph: GraphStore, s: State, key: String): Column =
    s.kind match {
      case VertexKind =>
        if (!graph.vertexKeys.contains(key) && key != "label")
          throw CompileException(s"unknown vertex property: $key")
        col(key)
      case EdgeKind =>
        if (key == "label") col("__val").getField("label")
        else if (!graph.edgeKeys.contains(key))
          throw CompileException(s"unknown edge property: $key")
        else col(key)
      case ScalarKind(_) =>
        throw CompileException(s"property $key on scalar stream")
    }

  private def propKeys(graph: GraphStore, kind: Kind): Seq[String] =
    kind match {
      case VertexKind => graph.vertexKeys
      case EdgeKind   => graph.edgeKeys
      case ScalarKind(_) => throw CompileException("scalar has no keys")
    }

  /** A barrier folds the stream: history and ordering do not survive
    * (the reference's barrier experts re-emit fresh traversers —
    * `expert/barrier_expert.hpp:246-263`); the branch group column does. */
  private def barrierReset(s: State, df: DataFrame, kind: Kind): State =
    s.copy(df = df, kind = kind, attached = false,
      history = Map.empty, ordering = Nil, distinctVal = false)

  // ------------------------------------------------------------------

  private def applyStep(graph: GraphStore, s: State, step: Step): State = {
    import Step._
    step match {
      case _: TimesMarker | _: UntilMarker | EmitMarker =>
        throw new IllegalStateException(
          "parser-internal marker reached the compiler (parser bug)")

      case V(ids) =>
        var v = graph.vertices
        if (ids.nonEmpty) v = v.filter(col("id").isin(ids: _*))
        val df = v.select(
          (col("id").as("__val") +: col("label") +:
            graph.vertexKeys.map(col)): _*)
        s.copy(df = df, kind = VertexKind, attached = true,
          distinctVal = true)

      case E() =>
        val df = graph.edges.select(
          (edgeStruct().as("__val") +: graph.edgeKeys.map(col)): _*)
        s.copy(df = df, kind = EdgeKind, attached = true,
          distinctVal = true)

      case Has(key, pred) =>
        val at = ensureAttached(graph, s)
        at.copy(df = at.df.filter(pred(propCol(graph, at, key))))

      case HasKey(keys) =>
        val at = ensureAttached(graph, s)
        val cond = keys.map(k => propCol(graph, at, k).isNotNull)
          .reduce(_ && _)
        at.copy(df = at.df.filter(cond))

      case HasValue(vs) =>
        val at = ensureAttached(graph, s)
        // dynamic `any property equals v`, with the reference's value_t
        // comparison semantics (`base/predicate.cpp:28-44`): int and
        // double coerce to a numeric compare, strings compare as
        // strings, and a string-vs-number mismatch is simply false.
        val keys = propKeys(graph, at.kind)
        // property keys are plain top-level columns of the attached df,
        // so the already-analyzed schema answers with no analyzer pass
        val keyTypes = keys.map { k =>
          (propCol(graph, at, k), at.df.schema(k).dataType)
        }
        val cond = vs.map { v =>
          keyTypes.map { case (c, dt) =>
            (v, dt) match {
              case (Lit.S(sv), StringType)             => c === lit(sv)
              case (Lit.I(_) | Lit.D(_), _: NumericType) => c === v.column
              case _                                   => lit(false)
            }
          }.reduce(_ || _)
        }.reduce(_ || _)
        at.copy(df = at.df.filter(cond))

      case HasLabel(labels) => s.kind match {
        case VertexKind =>
          val at = ensureAttached(graph, s)
          at.copy(df = at.df.filter(col("label").isin(labels: _*)))
        case EdgeKind =>
          s.copy(df = s.df.filter(
            col("__val").getField("label").isin(labels: _*)))
        case ScalarKind(_) =>
          throw CompileException("hasLabel on scalar stream")
      }

      case Is(pred) =>
        s.copy(df = s.df.filter(pred(col("__val"))))

      case Coin(p) =>
        // rand with a fixed seed: deterministic for a deterministic scan
        s.copy(df = s.df.filter(rand(42L) < lit(p)))

      case WherePred(op, target) =>
        if (!s.history.contains(target))
          throw CompileException(s"where(): unknown as-label $target")
        s.copy(df = s.df.filter(cmp(op, col("__val"), col(s"__as_$target"))))

      case WhereHistory(l, op, r) =>
        s.copy(df = s.df.filter(cmp(op, col(s"__as_$l"), col(s"__as_$r"))))

      case WhereStore(key, anti) =>
        val (store, _) = s.sideEffects.getOrElse(key,
          throw CompileException(s"where(): unknown side-effect store $key"))
        // rename (fresh exprId) — the store often shares lineage with
        // the stream (aggregate() then where() on the same chain) and a
        // bare alias would trip DetectAmbiguousSelfJoin
        val st = store.withColumnRenamed("__val", "__se_val")
        val joined = s.df.join(st, s.df("__val") === st("__se_val"),
          if (anti) "left_anti" else "left_semi")
        s.copy(df = joined)

      case VtoV(dir, labels) => traverse(graph, s, dir, labels,
        emitEdge = false)
      case VtoE(dir, labels) => traverse(graph, s, dir, labels,
        emitEdge = true)

      case EtoV(dir) =>
        if (s.kind != EdgeKind)
          throw CompileException("outV/inV/bothV need an edge stream")
        val d = detach(s)
        val base = d.df
        val df = dir match {
          // outV = edge source, inV = edge destination
          case Out => base.withColumn("__val", col("__val").getField("src"))
          case In  => base.withColumn("__val", col("__val").getField("dst"))
          case Both => base
            .withColumn("__both", explode(array(
              col("__val").getField("src"), col("__val").getField("dst"))))
            .withColumn("__val", col("__both")).drop("__both")
        }
        d.copy(df = df, kind = VertexKind, attached = false,
          distinctVal = false)

      case Values(keys) =>
        val at = ensureAttached(graph, s)
        val aux = at.auxCols.map(col)
        keys match {
          case Seq(k) =>
            val c = propCol(graph, at, k)
            val dt = at.df.select(c).schema.head.dataType
            val df = at.df.filter(c.isNotNull)
              .select((c.as("__val") +: aux): _*)
            at.copy(df = df, kind = ScalarKind(dt), attached = false,
              distinctVal = false)
          case ks =>
            // multi-key: all keys must share one type (values_expert.hpp);
            // element emits one row per present key, in key order
            val arr = array(ks.map(k => propCol(graph, at, k)): _*)
            val compact = filter(arr, x => x.isNotNull)
            val df = at.df
              .select((compact.as("__vs") +: aux): _*)
              .select((explode(col("__vs")).as("__val") +: aux): _*)
            val dt = df.select(col("__val")).schema.head.dataType
            at.copy(df = df, kind = ScalarKind(dt), attached = false,
              distinctVal = false)
        }

      case Properties(keys0) =>
        val at = ensureAttached(graph, s)
        val keys = if (keys0.nonEmpty) keys0 else propKeys(graph, at.kind)
        val aux = at.auxCols.map(col)
        val arr = array(keys.map { k =>
          val c = propCol(graph, at, k)
          when(c.isNotNull, concat(lit(k + ":"), c.cast(StringType)))
        }: _*)
        val df = at.df
          .select((filter(arr, x => x.isNotNull).as("__ps") +: aux): _*)
          .select((explode(col("__ps")).as("__val") +: aux): _*)
        at.copy(df = df, kind = ScalarKind(StringType), attached = false,
          distinctVal = false)

      case Key() =>
        val at = ensureAttached(graph, s)
        val keys = propKeys(graph, at.kind)
        val aux = at.auxCols.map(col)
        val arr = array(keys.map { k =>
          when(propCol(graph, at, k).isNotNull, lit(k))
        }: _*)
        val df = at.df
          .select((filter(arr, x => x.isNotNull).as("__ks") +: aux): _*)
          .select((explode(col("__ks")).as("__val") +: aux): _*)
        at.copy(df = df, kind = ScalarKind(StringType), attached = false,
          distinctVal = false)

      case Label() => s.kind match {
        case VertexKind =>
          val at = ensureAttached(graph, s)
          val df = at.df.select(
            (col("label").as("__val") +: at.auxCols.map(col)): _*)
          at.copy(df = df, kind = ScalarKind(StringType), attached = false,
            distinctVal = false)
        case EdgeKind =>
          val df = s.df.select(
            (col("__val").getField("label").as("__val") +:
              s.auxCols.map(col)): _*)
          s.copy(df = df, kind = ScalarKind(StringType), attached = false,
            distinctVal = false)
        case ScalarKind(_) =>
          throw CompileException("label() on scalar stream")
      }

      case As(name) =>
        s.copy(df = s.df.withColumn(s"__as_$name", col("__val")),
          history = s.history + (name -> s.kind))

      case Select(names) => names match {
        case Seq(n) =>
          val kind = s.history.getOrElse(n,
            throw CompileException(s"select(): unknown as-label $n"))
          val d = detach(s)
          d.copy(df = d.df.withColumn("__val", col(s"__as_$n")),
            kind = kind, attached = false, distinctVal = false)
        case ns =>
          // reference formats multi-select as "[a:va, b:vb]"
          // (select_expert.hpp:30-138)
          val d = detach(s)
          val parts = ns.flatMap(n => Seq(
            lit(s"$n:"), col(s"__as_$n").cast(StringType), lit(", ")))
          val body = concat(parts.dropRight(1): _*)
          d.copy(
            df = d.df.withColumn("__val", concat(lit("["), body, lit("]"))),
            kind = ScalarKind(StringType), attached = false,
            distinctVal = false)
      }

      case PathStep() =>
        // labeled-history path: every as()-recorded value in label
        // application order (history is a ListMap), then the current
        // value, rendered in the reference's multi-select style
        // (select_expert.hpp:30-138 formatting, applied to the same
        // history_t columns)
        val d = detach(s)
        val cur: Column = s.kind match {
          case EdgeKind => concat(
            col("__val").getField("src").cast(StringType), lit("->"),
            col("__val").getField("dst").cast(StringType))
          case _ => col("__val").cast(StringType)
        }
        val parts =
          s.history.keys.toSeq.map(n => col(s"__as_$n").cast(StringType)) :+
            cur
        d.copy(df = d.df.withColumn("__val",
            concat(lit("["), concat_ws(", ", parts: _*), lit("]"))),
          kind = ScalarKind(StringType), attached = false,
          distinctVal = false)

      case Count() =>
        val df = s.groupCol match {
          case Some(g) =>
            val counts = s.df.groupBy(col(g)).agg(count(lit(1)).as("__val"))
            // per-traverser barriers emit count=0 for empty groups
            s.groupUniverse match {
              case Some(universe) => universe
                .join(counts, Seq(g), "left")
                .select(col(g), coalesce(col("__val"), lit(0L)).as("__val"))
              case None => counts
            }
          case None => s.df.agg(count(lit(1)).as("__val"))
        }
        barrierReset(s, df, ScalarKind(LongType))

      case MathStep(op) =>
        val v = col("__val").cast(DoubleType)
        val agg = op match {
          case SumOp  => sum(v)
          case MaxOp  => max(v)
          case MinOp  => min(v)
          case MeanOp => avg(v)
        }
        val df = s.groupCol match {
          case Some(g) => s.df.groupBy(col(g)).agg(agg.as("__val"))
          case None    => s.df.agg(agg.as("__val"))
        }
        barrierReset(s, df, ScalarKind(DoubleType))

      case Dedup(byHistory) =>
        val d = detach(s)
        val cols =
          if (byHistory.nonEmpty) byHistory.map(h => s"__as_$h")
          else Seq("__val")
        val keys = cols ++ d.groupCol.toSeq
        // a plain global dedup() MAKES __val unique; any dedup keeps an
        // already-unique stream unique (its output is a row subset)
        d.copy(df = d.df.dropDuplicates(keys),
          distinctVal = d.distinctVal ||
            (byHistory.isEmpty && d.groupCol.isEmpty))

      case Order(key, desc) =>
        key match {
          case None =>
            val ord = freshAlias("__ord_")
            val df = s.df.withColumn(ord, col("__val"))
            s.copy(df = df, ordering = Seq((ord, !desc)))
          case Some(k) =>
            val at =
              if (k == "label" && s.kind == EdgeKind) s
              else ensureAttached(graph, s)
            val c = if (k == "label") at.kind match {
                      case EdgeKind => col("__val").getField("label")
                      case _        => col("label")
                    }
                    else propCol(graph, at, k)
            // elements missing the key are dropped (the reference sorts a
            // multiset keyed by the projected property)
            val ord  = freshAlias("__ord_")
            val ord2 = freshAlias("__ord_")
            val df = at.df.filter(c.isNotNull)
              .withColumn(ord, c)
              // value tiebreak for determinism
              .withColumn(ord2, col("__val").cast(StringType))
            at.copy(df = df,
              ordering = Seq((ord, !desc), (ord2, true)))
        }

      case Range(lo, hi) =>
        s.groupCol match {
          case Some(g) =>
            // Inside and/or/not the reference labels every input
            // traverser and RangeExpert slices per label
            // (`expert/barrier_expert.hpp:860-958`, labelling
            // `core/message.cpp:214-243`) — a row_number window per
            // branch group, not a global limit. (Plain union() branches
            // stay global: BranchExpert sends unlabelled data, so all
            // rows share bucket -1 — `core/message.cpp:149-172`.)
            val orderSpec =
              if (s.ordering.nonEmpty)
                s.ordering.map { case (c, asc) =>
                  if (asc) col(c).asc else col(c).desc }
              else Seq(col("__val").asc) // deterministic stand-in for
                                         // the reference's arrival order
            val rn = freshAlias("__rn")
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(g)).orderBy(orderSpec: _*)
            val sliced = s.df.withColumn(rn, row_number().over(w))
              .filter(col(rn) > lo &&
                (if (hi < 0) lit(true) else col(rn) <= hi))
              .drop(rn)
            s.copy(df = sliced)
          case None =>
            val sorted = applyOrdering(s)
            val df =
              if (hi < 0) sorted.offset(lo.toInt)
              else if (lo == 0) sorted.limit(hi.toInt)
              else sorted.offset(lo.toInt).limit((hi - lo).toInt)
            s.copy(df = df)
        }

      case Group(byKey, valKey, countOnly) =>
        val at = if (byKey.exists(_ != "label") || valKey.isDefined ||
            (byKey.contains("label") && s.kind != EdgeKind))
          ensureAttached(graph, s) else s
        def proj(k: Option[String]): Column = k match {
          case None          => col("__val")
          case Some("label") => at.kind match {
            case EdgeKind => col("__val").getField("label")
            case _        => col("label")
          }
          case Some(p) => propCol(graph, at, p)
        }
        // elements missing the projected group key are dropped (the
        // reference groups only elements that have the property; a
        // null-key bucket would also NPE the console renderer)
        val base = byKey match {
          case Some(_) => at.df.filter(proj(byKey).isNotNull)
          case None    => at.df
        }
        val keyC = proj(byKey).as("key")
        val grouped = at.groupCol match {
          case Some(g) => base.groupBy(col(g), keyC)
          case None    => base.groupBy(keyC)
        }
        val df =
          if (countOnly)
            grouped.agg(count(lit(1)).as("count"))
              .withColumn("__val", struct(col("key"), col("count")))
          else
            grouped.agg(sort_array(collect_list(
              proj(valKey).cast(StringType))).as("values"))
              .withColumn("__val", struct(col("key"), col("values")))
        val keep = col("__val") +: at.groupCol.toSeq.map(col)
        val out = df.select(keep: _*)
        barrierReset(at, out,
          ScalarKind(out.schema("__val").dataType))

      case Aggregate(name) =>
        val store = s.df.select(col("__val"))
        s.copy(sideEffects = s.sideEffects + (name -> (store, s.kind)))

      case Cap(names) =>
        val stores = names.map(n => s.sideEffects.getOrElse(n,
          throw CompileException(s"cap(): unknown side-effect store $n")))
        val df = names match {
          case Seq(_) => stores.head._1
          case _ => names.zip(stores).map { case (n, (st, _)) =>
            st.select(concat(lit(n + ":"),
              col("__val").cast(StringType)).as("__val"))
          }.reduce(_ unionByName _)
        }
        val kind = names match {
          case Seq(_) => stores.head._2
          case _      => ScalarKind(StringType)
        }
        barrierReset(s, df, kind)

      case Union(subs) =>
        val d = detach(s)
        var se = d.sideEffects
        val results = subs.map { sub =>
          val r = compileSub(graph, d.copy(sideEffects = se), sub)
          se = r.sideEffects
          r
        }
        val kinds = results.map(_.kind).distinct
        if (kinds.length != 1)
          throw CompileException(
            s"union(): sub-traversals emit different types: $kinds")
        val dfs = results.map(r => detach(r).df)
        val df = dfs.reduce(_.unionByName(_, allowMissingColumns = true))
        // history common to all branches survives; branch-local labels die
        val commonHist = results.map(_.history.keySet).reduce(_ & _)
        d.copy(df = df, kind = kinds.head, attached = false,
          history = d.history.filter(kv => commonHist(kv._1)),
          sideEffects = se, ordering = Nil, distinctVal = false)

      case BranchFilter(op, subs) if subs.forall(perValueSub) =>
        // FAST PATH — every sub-traversal is a pure function of the
        // traverser VALUE (no history reads, no as/select, no
        // side-effect writes, no sampling): rows with equal __val
        // necessarily agree on the existential, so evaluate each sub
        // once per DISTINCT value and semi/anti-join the frontier on
        // __val. Replaces the content-hash row tag + row_number window
        // with one distinct + value-keyed joins: the sub pipelines run
        // over the value set (≤ |V|), not the traverser bag, and
        // nothing hashes or windows the full frontier. Barriers inside
        // subs still slice per input traverser — the group column is
        // the value tag, and equal-valued traversers are
        // indistinguishable to a history-free sub by construction.
        val d = detach(s)
        val tag = freshAlias("__vtag")
        // The distinct value set feeds every sub and the count-0
        // universe. A provably duplicate-free frontier (V()/E() roots +
        // filters — the common case) skips the distinct entirely: one
        // less exchange+aggregate per branch filter. The value set is
        // recomputed per use — no materialization: a "lazy"
        // localCheckpoint is NOT compile-job-free under AQE (toRdd
        // materializes every non-final stage immediately; measured 2
        // jobs compiling one join-upstream and()), and the job-free
        // compile invariant outranks the execution-dedup it bought
        // (same policy as the row-tag path below).
        val vals =
          if (d.distinctVal) d.df.select(col("__val").as(tag))
          else d.df.select(col("__val").as(tag)).distinct()
        val from = d.copy(
          df = vals.select(col(tag), col(tag).as("__val")),
          attached = false, history = Map.empty,
          groupCol = Some(tag), ordering = Nil,
          groupUniverse = Some(vals))
        var se = d.sideEffects
        val hits: Seq[DataFrame] = subs.map { sub =>
          val r = compileSub(graph, from.copy(sideEffects = se), sub)
          se = r.sideEffects
          r.df.select(col(tag)).distinct()
        }
        val joined = op match {
          case AndOp => hits.foldLeft(d.df)((acc, h) =>
            acc.join(h, acc("__val") === h(tag), "left_semi"))
          case OrOp =>
            val any = hits.reduce(_ unionByName _).distinct()
            d.df.join(any, d.df("__val") === any(tag), "left_semi")
          case NotOp => hits.foldLeft(d.df)((acc, h) =>
            acc.join(h, acc("__val") === h(tag), "left_anti"))
        }
        d.copy(df = joined, sideEffects = se)

      case BranchFilter(op, subs) =>
        val d = detach(s)
        // The tagged plan is re-evaluated on both sides of the semi/anti
        // join, so row ids must be stable across evaluations. A
        // deterministic frontier always re-produces the same row
        // MULTISET (order/partitioning may differ), so a content-derived
        // tag — xxhash64 over every column, plus a row_number within
        // each hash group ordered by the full content (which keeps tags
        // stable for distinct rows even on a 64-bit hash collision;
        // identical rows are interchangeable) — is deterministic without
        // materialising anything: compile stays job-free. Only a
        // genuinely nondeterministic frontier (e.g. coin() upstream,
        // whose seeded rand depends on partition layout) still needs the
        // eager localCheckpoint to freeze its rows first.
        // fresh per-filter aliases: a NESTED branch filter (e.g.
        // and(not(...))) would otherwise overwrite and then drop the
        // outer filter's tag column
        val rowTag = freshAlias("__rowid")
        val rowHash = freshAlias("__rowh")
        val nondet = d.df.queryExecution.analyzed.exists(
          p => p.expressions.exists(e => !e.deterministic))
        val base = if (nondet) d.df.localCheckpoint() else d.df
        val contentCols = base.columns.toSeq.map(col)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(rowHash)).orderBy(contentCols: _*)
        // The semi/anti join evaluates the tagged frontier on both
        // sides; it is RECOMPUTED per reference — correctness is
        // exactly what the content-derived tag buys (equal multisets
        // re-tag identically), and no materialization survives at
        // 100 TB. A "lazy" localCheckpoint is NOT an option here: under
        // AQE, toRdd materializes every non-final query stage
        // immediately, so the supposedly-lazy checkpoint ran the
        // frontier's joins AT COMPILE TIME (measured: 2 jobs compiling
        // one join-upstream and() — the job-free invariant the index
        // gating rests on), and cache() would leak a CacheManager
        // entry per query in a long-running service.
        val tagged = base
          .withColumn(rowHash, xxhash64(contentCols: _*))
          // struct tag: joins/windows hash two raw ints, no per-row
          // string formatting
          .withColumn(rowTag,
            struct(col(rowHash), row_number().over(w).as("__rown")))
          .drop(rowHash)
        val from = d.copy(df = tagged, groupCol = Some(rowTag),
          groupUniverse = Some(tagged.select(col(rowTag)).distinct()))
        var se = d.sideEffects
        val hits: Seq[DataFrame] = subs.map { sub =>
          val r = compileSub(graph, from.copy(sideEffects = se), sub)
          se = r.sideEffects
          r.df.select(col(rowTag)).distinct()
        }
        val joined = op match {
          case AndOp => hits.foldLeft(tagged)((acc, h) =>
            acc.join(h, Seq(rowTag), "left_semi"))
          case OrOp =>
            val any = hits.reduce(_ unionByName _).distinct()
            tagged.join(any, Seq(rowTag), "left_semi")
          case NotOp =>
            hits.foldLeft(tagged)((acc, h) =>
              acc.join(h, Seq(rowTag), "left_anti"))
        }
        d.copy(df = joined.drop(rowTag), sideEffects = se)

      case Repeat(sub, times, None, false, false, false) =>
        (1 to math.max(times.getOrElse(1), 1)).foldLeft(s)((st, _) =>
          compileSub(graph, st, sub))

      case Repeat(sub, times, untilOpt, emitPost, untilPre, emitPre) =>
        // The full TinkerPop repeat family (RepeatStep semantics):
        //  - until POST (`repeat(x).until(c)`, do-while): apply the
        //    body, then traversers whose `cond` sub yields ≥ 1 row
        //    EXIT (the and() existential); the rest (not()) loop.
        //  - until PRE (`until(c).repeat(x)`, while-do): the condition
        //    checks BEFORE each body application — a depth-0 match
        //    exits without entering the body.
        //  - emit POST (`repeat(x).emit()`): EVERY post-body traverser
        //    is emitted at every round and keeps looping (with until,
        //    emitted AND still subject to the exit split; an exiting
        //    traverser is emitted ONCE — TinkerPop merges the final
        //    emit with the exit).
        //  - emit PRE (`emit().repeat(x)`): the loop INPUT is emitted
        //    at depth 0 and every stayer at each later depth; a
        //    times-exhausted frontier exits as the loop's normal
        //    output. Exit checks precede emit checks, so an
        //    until-exiting traverser is never also emit-duplicated at
        //    the same position (TinkerPop RepeatStep order).
        //
        // This is the compiler's ONE EAGER step — the graph-operator
        // class (kCore/SCC), not the job-free compile path: the round
        // count is data-dependent, and each round's frontier feeds
        // BOTH branch filters whose semi-joins re-evaluate it (plan
        // references multiply per round — without truncation the
        // logical plan grows exponentially in the round count, the
        // iterative-loop invariant). So the driver loop eagerly
        // localCheckpoints each round and exits as soon as the
        // frontier DRAINS. Past the cap: the emit-only times(k) forms
        // HARD-STOP at depth k (TinkerPop parity — depth-bounded
        // emission is the semantics, nothing is dropped); every other
        // form throws (certify-or-throw) — a traverser still
        // circulating is never silently dropped. Lazy alternatives
        // measured and rejected: a lazy localCheckpoint still
        // executes AQE stages at toRdd (not job-free anyway), and an
        // in-plan assert_true certification gets column-pruned out by
        // Catalyst.
        // explicit times(k) — including k=1 — is the cap; absent
        // falls back to UntilCap (an Int default could not tell
        // `.times(1)` from "no times()", advice r12)
        val hardStop =
          (emitPost || emitPre) && untilOpt.isEmpty && times.isDefined
        val cap = math.max(times.getOrElse(UntilCap), 1)
        var frontier = s
        var outs = List.empty[State]
        var drained = false
        var capped = false
        var rounds = 0
        while (!drained && !capped) {
          if (untilPre) {
            val exit = detach(compileSub(graph, frontier,
              List(BranchFilter(AndOp, Seq(untilOpt.get)))))
            outs ::= exit.copy(df = exit.df.localCheckpoint())
            val stay = compileSub(graph, frontier,
              List(BranchFilter(NotOp, Seq(untilOpt.get))))
            frontier = stay.copy(df = stay.df.localCheckpoint())
          }
          if (frontier.df.isEmpty) drained = true
          else if (rounds == cap) capped = true
          else {
            // detach before union: the depth-0 frontier may carry
            // attached property columns the post-body rounds lack
            if (emitPre) outs ::= detach(frontier)
            val applied0 = compileSub(graph, frontier, sub)
            val applied =
              applied0.copy(df = applied0.df.localCheckpoint())
            rounds += 1
            if (untilOpt.isDefined && !untilPre) {
              outs ::= detach(if (emitPost) applied
                else compileSub(graph, applied,
                  List(BranchFilter(AndOp, Seq(untilOpt.get)))))
              val f = compileSub(graph, applied,
                List(BranchFilter(NotOp, Seq(untilOpt.get))))
              frontier = f.copy(df = f.df.localCheckpoint())
            } else {
              if (emitPost) outs ::= detach(applied)
              frontier = applied // already checkpointed
            }
          }
        }
        if (capped && !hardStop)
          throw new IllegalStateException(
            s"repeat() frontier not drained after $cap " +
              "rounds - raise the times() cap")
        // times-exhausted emit-PRE frontier exits as the loop's normal
        // output (post-emit already emitted it at its own round)
        if (capped && emitPre && !emitPost) outs ::= detach(frontier)
        if (outs.isEmpty) outs = List(detach(frontier)) // empty in/out
        val out = outs.reverse
        out.last.copy(
          df = out.map(_.df).reduce(_ unionByName _),
          sideEffects = frontier.sideEffects,
          ordering = Nil, distinctVal = false)
    }
  }

  /** True when a branch-filter sub-traversal is a pure function of the
    * traverser VALUE: no history reads or writes (`as`/`select`/
    * history `where`/history `dedup`), no side-effect writes
    * (`aggregate` — its store would collapse bag multiplicities), and
    * no per-row sampling (`coin`). For such subs, traversers with equal
    * `__val` are indistinguishable, so the existential can be evaluated
    * once per distinct value. */
  private def perValueSub(sub: List[Step]): Boolean = sub.forall {
    case _: Step.As | _: Step.Select | _: Step.WherePred |
         _: Step.WhereHistory | _: Step.Aggregate | _: Step.Coin |
         _: Step.PathStep => false
    case Step.Dedup(hs)             => hs.isEmpty
    case Step.Union(subs)           => subs.forall(perValueSub)
    case Step.BranchFilter(_, subs) => subs.forall(perValueSub)
    case r: Step.Repeat            =>
      perValueSub(r.sub) && r.until.forall(perValueSub)
    case _                          => true
  }

  /** out/in/both × (V→V | V→E): the only mandatory shuffle in the
    * reference (`send_remote`, parser.cpp:1414) — here a plain equi-join
    * that Catalyst/AQE turns into broadcast or shuffle join as sizes
    * dictate. */
  private def traverse(graph: GraphStore, s0: State, dir: Step.Dir,
                       labels: Seq[String], emitEdge: Boolean): State = {
    import Step._
    if (s0.kind != VertexKind)
      throw CompileException("out/in/both need a vertex stream")
    val s = detach(s0)
    val a = freshAlias("__e")
    var e = graph.edges.select(col("src"), col("dst"), col("label"))
    if (labels.nonEmpty) e = e.filter(col("label").isin(labels: _*))
    val ea = e.alias(a)
    def hop(joinOn: String, emit: String): DataFrame = {
      val joined = s.df.join(ea, s.df("__val") === col(s"$a.$joinOn"))
      val newVal =
        if (emitEdge) struct(col(s"$a.src").as("src"),
          col(s"$a.dst").as("dst"), col(s"$a.label").as("label"))
        else col(s"$a.$emit")
      joined.select((newVal.as("__val") +: s.auxCols.map(col)): _*)
    }
    val df = dir match {
      case Out  => hop("src", "dst")
      case In   => hop("dst", "src")
      case Both => hop("src", "dst").unionByName(hop("dst", "src"))
    }
    s.copy(df = df, kind = if (emitEdge) EdgeKind else VertexKind,
      attached = false, distinctVal = false)
  }

  /** Materialise the retained `order()` into an actual sort. */
  def applyOrdering(s: State): DataFrame =
    if (s.ordering.isEmpty) s.df
    else s.df.orderBy(s.ordering.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }: _*)

  def applyOrdering(df: DataFrame,
                    ordering: Seq[(String, Boolean)]): DataFrame =
    if (ordering.isEmpty) df
    else df.orderBy(ordering.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }: _*)
}
