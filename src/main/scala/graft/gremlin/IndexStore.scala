package graft.gremlin

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GraphStore

/**
 * Posting-list property index — the Spark rendering of the reference's
 * `IndexStore` (`core/index_store.hpp:65-139`: per indexed key a
 * `value → element ids` map, a `count_map` of per-value cardinalities,
 * and a `no_key` set, built by the INDEX expert,
 * `expert/index_expert.hpp:28-145`).
 *
 * Layout per (element type, key):
 *  - postings: an EXPLODED cached DataFrame `(value, <id cols>)`,
 *    repartitioned and sorted by `value` so a value-predicate filter
 *    prunes in-memory columnar batches by their min/max stats instead
 *    of producing one giant `collect_list` row per value (the
 *    low-cardinality-key memory trap).
 *  - counts: the reference's `count_map`, collected to the driver at
 *    BUILD time. Plan-time gating (`get_count_by_predicate`,
 *    `core/index_store.hpp:259-310`) is then a pure map lookup — no
 *    Spark job runs during query compilation.
 *  - noKey: ids whose key is null (serves `hasNot(key)`), plus its
 *    driver-held count.
 *  - driver: the same postings collected to the driver at BUILD time
 *    ([[IndexStore.Postings]]), which seed the light lane
 *    ([[LightLane]]) with no Spark job. Kept only when their estimated
 *    bytes fit the graph session's `spark.sql.maxBroadcastTableSize`
 *    (the adjacency store's gate), the key's type is one the driver
 *    compares like Catalyst (int, long, double, string) and no element
 *    id is null.
 *
 * Unlike the reference's single-node `count_map` (one entry per
 * DISTINCT value — O(cardinality) driver memory, fine at its scale,
 * fatal for an index on a unique key over 100 TB), the driver map here
 * is BOUNDED: when cardinality exceeds [[IndexStore.ExactMapCap]] only
 * heavy hitters (count >= total/[[IndexStore.HeavyHitterDenom]], hence
 * at most ~HeavyHitterDenom entries) are collected, plus two residual
 * scalars (sum and max count of the light tail). `countFor` then
 * returns an UPPER BOUND for values absent from the map — an
 * overestimate can only make the selectivity gate more conservative
 * (fall back to the scan), never produce a wrong result; a value below
 * the heavy-hitter threshold is by construction far below the 20% gate,
 * so point lookups on high-cardinality keys stay index-admissible.
 * Postings (the big side) stay distributed either way.
 */
final class IndexStore {
  import IndexStore.{ExactMapCap, HeavyHitterDenom}

  /** @param counts    exact per-value counts (all values if cardinality
    *                  <= ExactMapCap, else heavy hitters only)
    * @param residualTotal summed count of values NOT in `counts` (0 on
    *                  the exact path)
    * @param residualMax   largest single-value count absent from
    *                  `counts` — the per-value upper bound */
  final case class Index(postings: DataFrame, noKey: DataFrame,
                         counts: Map[Any, Long], noKeyCount: Long,
                         total: Long, residualTotal: Long,
                         residualMax: Long,
                         driver: Option[IndexStore.Postings]) {
    private def boundFor(v: Any): Long =
      counts.getOrElse(v, if (residualTotal > 0) residualMax else 0L)
    /** Upper bound on elements matching `pred` (exact when the full
      * value map fit the driver cap). */
    def countFor(pred: Pred): Long = pred match {
      case Pred.Any     => total - noKeyCount
      case Pred.None    => noKeyCount
      case Pred.Eq(v)   => boundFor(v.value)
      case Pred.Within(vs) =>
        math.min(vs.map(v => boundFor(v.value)).sum,
                 counts.valuesIterator.sum + residualTotal)
      case p => counts.iterator
        .collect { case (value, n) if p.eval(value) => n }.sum +
        residualTotal // residual values are invisible to p: assume all match
    }
  }

  /** (isVertex, key) -> index. @volatile: read by concurrent serving
    * threads (Server/Emu) that must observe a completed build; the
    * read-modify-write in [[build]] is additionally serialized by
    * `buildLock` so two concurrent BuildIndex DDLs cannot lose one
    * another's entry (the map itself stays an immutable snapshot, so
    * readers are never locked). */
  @volatile private var indexes = Map.empty[(Boolean, String), Index]
  private val buildLock = new Object

  /** Reference gate: use the index only if the matched posting lists
    * cover < 20% of elements (`index_ratio = 0.2`,
    * `IsIndexEnabled`, `core/index_store.hpp:23-58`). */
  val SelectivityGate = 0.2

  def build(graph: GraphStore, isVertex: Boolean, key: String): Unit = {
    val (table, idCols) =
      if (isVertex) (graph.vertices, Seq(col("id")))
      else (graph.edges, Seq(col("src"), col("dst"), col("label")))
    require(table.columns.contains(key), s"no such property: $key")
    val posting = table.filter(col(key).isNotNull)
      .select((col(key).as("value") +: idCols): _*)
      .repartition(col("value"))
      .sortWithinPartitions("value")
      .cache()
    posting.count() // materialise now, like the INDEX expert barrier
    val noKey = table.filter(col(key).isNull)
      .select(idCols: _*).cache()
    val grouped = posting.groupBy(col("value"))
      .agg(count(lit(1)).as("n"))
    // one distributed pass for (distinct, sum) decides exact vs bounded
    val statsRow = grouped.agg(
      count(lit(1)).as("distinct"),
      coalesce(sum(col("n")), lit(0L)).as("tot")).head()
    val (distinctVals, nonNullTotal) =
      (statsRow.getLong(0), statsRow.getLong(1))
    val (counts, residualTotal, residualMax) =
      if (distinctVals <= ExactMapCap) {
        val m = grouped.collect().map(r => r.get(0) -> r.getLong(1)).toMap
        (m, 0L, 0L)
      } else {
        // heavy hitters: at most ~HeavyHitterDenom entries by pigeonhole
        val threshold = math.max(2L, nonNullTotal / HeavyHitterDenom)
        val heavy = grouped.filter(col("n") >= threshold).collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        val resRow = grouped.filter(col("n") < threshold).agg(
          coalesce(sum(col("n")), lit(0L)),
          coalesce(max(col("n")), lit(0L))).head()
        (heavy, resRow.getLong(0), resRow.getLong(1))
      }
    val noKeyCount = noKey.count()
    val total = nonNullTotal + noKeyCount
    val driver = IndexStore.Postings.collect(posting, noKey, isVertex,
      nonNullTotal, noKeyCount, total * SelectivityGate)
    // release the replaced index's cached blocks only AFTER the new one
    // materialized — a failed rebuild must not leave a registered index
    // serving uncached postings. The swap is locked: concurrent DDLs
    // from different serving connections each land their entry.
    buildLock.synchronized {
      indexes.get((isVertex, key)).foreach { old =>
        old.postings.unpersist(); old.noKey.unpersist()
      }
      indexes += (isVertex, key) -> Index(posting, noKey, counts,
        noKeyCount, total, residualTotal, residualMax, driver)
    }
  }

  def get(isVertex: Boolean, key: String): Option[Index] =
    indexes.get((isVertex, key))

  def has(isVertex: Boolean, key: String): Boolean =
    indexes.contains((isVertex, key))

  /** Matched-element count for a predicate, if the key is indexed and
    * the predicate passes the selectivity gate; None → use the scan.
    * Pure driver arithmetic — never runs a job (the reference's
    * IsIndexEnabled + get_count_by_predicate at parse time). */
  def admissibleCount(isVertex: Boolean, key: String,
                      pred: Pred): Option[Long] =
    get(isVertex, key).flatMap { idx =>
      val count = idx.countFor(pred)
      if (count >= idx.total * SelectivityGate) None else Some(count)
    }

  /** Element frontier for a folded predicate: the exploded postings
    * filtered by the predicate (or the no-key set for hasNot). */
  def frontier(isVertex: Boolean, key: String, pred: Pred): DataFrame = {
    val idx = indexes((isVertex, key))
    pred match {
      case Pred.None => idx.noKey
      case p => idx.postings.filter(p(col("value")))
        .drop("value")
    }
  }
}

object IndexStore {
  /** Cardinality up to which the full value→count map is collected
    * exactly (the reference's count_map semantics, bounded). */
  val ExactMapCap = 4096L
  /** Above the cap, collect values with count >= total/this — caps the
    * driver map at ~this many entries regardless of cardinality. */
  val HeavyHitterDenom = 1000L

  /** An index's postings on the driver: the distinct non-null values in
    * Catalyst's order ([[PredEval.compare]]), each value's elements (a
    * vertex id, or a [[LightLane.Edge]], one per table row), and the
    * no-key elements — those only when `hasNot` can pass the
    * selectivity gate, i.e. fewer than `gate` of them. */
  final class Postings private (values: Array[Any], offsets: Array[Int],
                                elems: Array[Any],
                                noKey: Option[Array[Any]]) {
    /** True when the no-key elements were kept: `hasNot` can seed. */
    def servesNoKey: Boolean = noKey.isDefined

    /** The elements matching `pred` (for `hasNot`, when
      * [[servesNoKey]]). */
    def select(pred: Pred): Seq[Any] = pred match {
      case Pred.None => noKey.fold(Seq.empty[Any])(_.toSeq)
      case Pred.Any => elems.toSeq
      case Pred.Eq(v) => equal(v.value).flatMap(slice)
      case Pred.Within(vs) =>
        PredEval.inKeys(vs).flatMap(equal).distinct.flatMap(slice)
      case p => values.indices.filter(i => p.eval(values(i))).flatMap(slice)
    }

    private def slice(i: Int): Seq[Any] =
      elems.slice(offsets(i), offsets(i + 1)).toSeq

    /** The values equal to `key`, by binary search: a run of them, as
      * several longs can equal one double. */
    private def equal(key: Any): Range = {
      def first(above: Int => Boolean): Int = {
        var (lo, hi) = (0, values.length)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (above(mid)) hi = mid else lo = mid + 1
        }
        lo
      }
      def c(i: Int): Int = PredEval.compare(values(i), key).get
      first(c(_) >= 0) until first(c(_) > 0)
    }
  }

  object Postings {
    /** Catalyst's order over one column's values. */
    private val order: Ordering[Any] = (a, b) => PredEval.compare(a, b).get

    /** Collect an index's postings `(value, id columns…)` and no-key ids
      * (the no-key ones only when fewer than `gate`), or None when they
      * do not fit the session's `spark.sql.maxBroadcastTableSize`, the
      * value type is not int, long, double or string, or an id is null.
      * Runs Spark jobs: BuildIndex time only. */
    def collect(posting: DataFrame, noKey: DataFrame, isVertex: Boolean,
                rows: Long, noKeyRows: Long, gate: Double): Option[Postings] = {
      val keepNoKey = noKeyRows < gate
      val kept = rows + (if (keepNoKey) noKeyRows else 0L)
      val conf = posting.sparkSession.sessionState.conf
      val idTypes =
        if (isVertex) Seq(LongType) else Seq(LongType, LongType, StringType)
      if (!AdjacencyStore.Held(posting.schema("value").dataType) ||
          posting.schema.fields.drop(1).map(_.dataType).toSeq != idTypes ||
          kept * (8L + posting.schema.defaultSize) >
            conf.maxBroadcastTableSizeInBytes)
        return scala.None
      def elem(r: Row, o: Int): Option[Any] =
        if ((o until r.length).exists(r.isNullAt)) scala.None
        else Some(if (isVertex) r.getLong(o)
          else LightLane.Edge(r.getLong(o), r.getLong(o + 1), r.getString(o + 2)))
      val sorted = posting.collect().sortBy(_.get(0))(order)
      val elems = sorted.map(elem(_, 1))
      val none =
        if (keepNoKey) noKey.collect().map(elem(_, 0)) else Array.empty[Option[Any]]
      if ((elems ++ none).exists(_.isEmpty)) return scala.None
      // runs of equal values (−0.0 and 0.0 are one run, like a group by)
      val starts = sorted.indices.filter(i =>
        i == 0 || order.compare(sorted(i - 1).get(0), sorted(i).get(0)) != 0)
      Some(new Postings(starts.map(sorted(_).get(0)).toArray,
        (starts :+ sorted.length).toArray, elems.map(_.get),
        if (keepNoKey) Some(none.map(_.get)) else scala.None))
    }
  }
}
