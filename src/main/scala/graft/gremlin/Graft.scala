package graft.gremlin

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.NarrowSession
import graft.sources.GraphStore

/**
 * User-facing entry point: run the reference's Gremlin-subset query
 * strings against a [[GraphStore]].
 *
 * {{{
 *   val g = Graft(GraphStore.modern(spark))
 *   g.df("g.V().hasLabel(\"person\").has(\"age\", gt(27)).values(\"name\")")
 *   g.strings("g.V().count()")   // console-style "=>6" parity output
 * }}}
 *
 * Output schema of [[df]] by final stream type:
 *  - vertices → `id: LONG`
 *  - edges    → `src: LONG, dst: LONG, label: STRING`
 *  - scalars  → `value: <type>`
 *  - group()/groupCount() → `key, values`/`key, count`
 *
 * Replaces the reference's client/master/worker query lifecycle
 * (Grasper `driver/client.cpp`, `driver/worker.hpp:264-347`): parse →
 * reorder → compile → Catalyst, or — for a light query — the driver's
 * step interpreter ([[LightLane]]). The ZMQ/RDMA plumbing has no Spark
 * analogue to build — `collect()` is the result channel.
 */
final case class Graft(graph: GraphStore) {

  /** Posting-list indexes built by `BuildIndex(...)` DDL. */
  val index = new IndexStore
  /** Runtime toggles set by `SetConfig(...)` DDL — the reference's
    * ConfigExpert switches (`expert/config_expert.hpp:39-59`).
    * `step_reorder` and `indexing` actually gate the optimizer phases
    * below; the scheduling/caching toggles (`caching`, `core_bind`,
    * `stealing`, …) are recorded but subsumed by Catalyst/AQE. */
  @volatile var config: Map[String, String] = Map.empty

  /** The light lane's adjacency store: its hops, property reads and max
    * degrees. Built once, at the first `BuildIndex` DDL (indexes are
    * what seed the lane), never at compile; None before that, and for
    * good when the graph does not fit the store
    * ([[AdjacencyStore.build]]). */
  @volatile private var adjacency: Option[AdjacencyStore] = None
  private lazy val builtAdjacency = AdjacencyStore.build(graph)
  private[gremlin] def adjacencyStore: Option[AdjacencyStore] = adjacency

  /** A toggle is on unless explicitly set to false/0 (reference default:
    * all optimizations enabled, `utils/config.hpp`). */
  private def enabled(key: String): Boolean =
    !config.get(key).exists(v => v.equalsIgnoreCase("false") || v == "0")

  private val BuildIndexRe =
    """(?i)\s*BuildIndex\s*\(\s*([VE])\s*,\s*['"]([^'"]+)['"]\s*\)\s*""".r
  private val SetConfigRe =
    """(?i)\s*SetConfig\s*\(\s*['"]?([^'",\s]+)['"]?\s*,\s*['"]?([^'")\s]+)['"]?\s*\)\s*""".r

  /** DDL dispatch (reference entry point 2, `core/parser.cpp:75-91`).
    * Returns a status line, or None if `q` is a traversal query. */
  def ddl(q: String): Option[String] = q match {
    case BuildIndexRe(ve, key) =>
      val isV = ve.equalsIgnoreCase("V")
      index.build(graph, isV, key)
      adjacency = builtAdjacency
      Some(s"Index built for ${ve.toUpperCase}.$key")
    case SetConfigRe(k, v) =>
      config += k -> v
      Some(s"Config $k=$v")
    case _ => None
  }

  /** Parse + reorder + compile; returns the raw compiled result.
    * A leading chain of `has`/`hasLabel` filters with built indexes
    * seeds the frontier from intersected posting lists instead of the
    * table scan — the reference's index fold with its selectivity gate
    * and least-selective eviction (`core/parser.cpp:991-1081`), for
    * vertices AND edges (`expert/init_expert.hpp:199-234`). Gating is
    * pure driver arithmetic over the build-time count map: compiling
    * never runs a Spark job. The fold's upper bound on the seeded
    * frontier opens the light lane (APC, [[LightLane.admit]]); a query
    * the lane does not admit compiles to a Catalyst plan. */
  def compile(query: String): Compiled = {
    val steps = plannedSteps(query)
    val seed = steps match {
      case Step.V(Seq()) :: rest if enabled("indexing") => Some((true, rest))
      case Step.E() :: rest if enabled("indexing") => Some((false, rest))
      case _ => scala.None
    }
    seed.flatMap { case (isVertex, rest) =>
      foldIndex(isVertex, rest).map { case ((folded, bound), remaining) =>
        LightLane.admit(graph, adjacency, index, isVertex, folded, bound,
          remaining).getOrElse {
          val joinCols = if (isVertex) Seq("id") else Seq("src", "dst", "label")
          val frontier = folded
            .map(f => index.frontier(isVertex, f._1, f._2))
            .reduce((a, b) => a.join(b, joinCols, "left_semi"))
          Compiler.compileSeeded(graph, frontier, isVertex, remaining)
        }
      }
    }.getOrElse(Compiler.compile(graph, steps))
  }

  /** Parse + (config-gated) reorder — `SetConfig('step_reorder',
    * 'false')` serves the steps in written order, like the reference's
    * `global_enable_step_reorder`. */
  private[gremlin] def plannedSteps(query: String): List[Step] = {
    val parsed = StepParser.parse(query)
    val reordered = if (enabled("step_reorder")) Reorder(parsed) else parsed
    // multiplicity-insensitivity rewrites (dead-history elimination +
    // early dedup insertion) — `SetConfig('early_dedup','false')` to
    // serve the written shape
    if (enabled("early_dedup")) EarlyDedup(reordered) else reordered
  }

  /** The reference's parser-time index fold (`core/parser.cpp:991-1081`):
    * walk the leading filter chain; each indexed `has(key, pred)` whose
    * matched count passes the selectivity gate AND `count/3 < minCount`
    * folds into the init frontier; when a new fold lowers `minCount`,
    * previously folded predicates with `count/3 >= minCount` are
    * evicted back to ordinary filter steps (`index_ratio = 3`,
    * `core/parser.hpp:43-46`). `hasLabel` folds as a WITHIN predicate
    * on the label key (`parser.cpp:1060-1081`) — selectivity-gated but
    * outside the minCount bookkeeping, like the reference. Returns the
    * folded (key, predicate) pairs — the seeded frontier intersects
    * their postings — with an upper bound on its rows (the smallest
    * folded count), and the steps left to compile. */
  private[gremlin] def foldIndex(isVertex: Boolean, rest: List[Step])
      : Option[((Seq[(String, Pred)], Long), List[Step])] = {
    val IndexRatio = 3L
    val isLeading: Step => Boolean = {
      case _: Step.Has | _: Step.HasKey | _: Step.HasLabel |
           _: Step.HasValue => true
      case _ => false
    }
    val leading = rest.takeWhile(isLeading)
    val tail = rest.drop(leading.length)
    if (leading.isEmpty) return scala.None

    // (key, pred, count, evictable)
    var folded = Vector.empty[(String, Pred, Long, Boolean)]
    var kept = Vector.empty[Step]
    var minCount = Long.MaxValue

    // fold-or-keep one evictable predicate (shared by has and hasKey —
    // the reference encodes hasKey as has(k, ANY))
    def tryFold(key: String, pred: Pred, step: Step): Unit =
      index.admissibleCount(isVertex, key, pred) match {
        case Some(count) if count / IndexRatio < minCount =>
          if (count < minCount) {
            minCount = count
            val (stay, evicted) = folded.partition { case (_, _, c, ev) =>
              !ev || c / IndexRatio < minCount }
            folded = stay
            kept ++= evicted.map(f => Step.Has(f._1, f._2))
          }
          folded :+= ((key, pred, count, true))
        case _ => kept :+= step
      }

    leading.foreach {
      case step @ Step.Has(key, pred)  => tryFold(key, pred, step)
      case step @ Step.HasKey(Seq(key)) => tryFold(key, Pred.Any, step)
      case step @ Step.HasLabel(labels) =>
        val pred = Pred.Within(labels.map(Lit.S))
        index.admissibleCount(isVertex, "label", pred) match {
          case Some(n) => folded :+= (("label", pred, n, false))
          case scala.None => kept :+= step
        }
      case step => kept :+= step
    }

    if (folded.isEmpty) scala.None
    else Some(((folded.map(f => (f._1, f._2)), folded.map(_._3).min),
      (kept ++ tail).toList))
  }

  /** The query as a user-facing DataFrame (ordering applied, internal
    * columns mapped to stable names). A light query's rows are already
    * computed: they come back as a local relation in the graph
    * session's width-1 child, whose `collect()` runs no job. */
  def df(query: String): DataFrame = compile(query) match {
    case p: LightLane.Plan =>
      NarrowSession(graph.vertices.sparkSession, 1)
        .createDataFrame(LightLane.run(p).map(Row.fromSeq).asJava, p.schema)
    case r: Compiler.Result => finish(r)
  }

  private def finish(r: Compiler.Result): DataFrame = {
    val ordered = Compiler.applyOrdering(r.df, r.ordering)
    r.kind match {
      case VertexKind => ordered.select(col("__val").as("id"))
      case EdgeKind => ordered.select(
        col("__val").getField("src").as("src"),
        col("__val").getField("dst").as("dst"),
        col("__val").getField("label").as("label"))
      case ScalarKind(dt) => dt match {
        case st: org.apache.spark.sql.types.StructType =>
          // group()/groupCount() emit struct(key, count|values)
          ordered.select(st.fieldNames.map(f =>
            col("__val").getField(f).as(f)): _*)
        case _ => ordered.select(col("__val").as("value"))
      }
    }
  }

  /** Console-parity output: one "=>v" string per result row, like the
    * reference client (`docs/Tutorial.md:291-309`); DDL returns its
    * status line. A light query renders its driver rows; any other
    * collects to the driver — final-result sized only. */
  def strings(query: String): Seq[String] = {
    ddl(query).foreach(status => return Seq(status))
    compile(query) match {
      case p: LightLane.Plan => LightLane.run(p).map(Graft.render)
      case r: Compiler.Result =>
        val out = finish(r)
        val rows = out.collect()
        if (out.columns.headOption.contains("key"))
          // reference group()/groupCount() console format: "key:[v1, v2]"
          // / "key:count" (barrier_expert.hpp:685-716)
          rows.toSeq.map(row => "=>" + row.get(0).toString + ":" +
            Graft.text(row.get(1)))
        else rows.toSeq.map(row => Graft.render(row.toSeq))
    }
  }
}

object Graft {
  /** A console row: its values joined by ", " after "=>". */
  private def render(row: Seq[Any]): String =
    row.map(text).mkString("=>", ", ", "")

  // NB: scala.collection.Seq, not the 2.13 immutable default — Spark
  // hands back mutable.ArraySeq for array columns
  private def text(v: Any): String = v match {
    case null => ""
    case s: scala.collection.Seq[_] => s.mkString("[", ", ", "]")
    case v => v.toString
  }
}
