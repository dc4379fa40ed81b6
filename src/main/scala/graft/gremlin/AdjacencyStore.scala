package graft.gremlin

import java.util.{Arrays, BitSet}
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.GraphStore

/**
 * The light lane's read-only adjacency store — the Spark rendering of
 * Grasper's storage layout, where each vertex record holds its own
 * adjacency lists (`storage/layout.hpp:18-25`) and properties are point
 * reads from a KV store (`storage/vkvstore.cpp:153-166`), so a light
 * query touches only the rows it reaches.
 *
 * It holds, in primitive arrays:
 *  - per edge label an out-CSR and an in-CSR (sorted endpoint ids,
 *    offsets, and the edge rows of each endpoint — one entry per edge
 *    row, so duplicate edge rows stay duplicates), plus every edge's
 *    `src`/`dst` and one column per edge property key;
 *  - the vertex ids, sorted, with their table rows, and one column per
 *    vertex key including `label`.
 * A string column keeps each distinct value once.
 *
 * Built ONCE per [[Graft]], at its first `BuildIndex` DDL, and held on
 * the driver, where [[LightLane]] walks it; it is built only when its
 * estimated bytes fit the graph session's
 * `spark.sql.maxBroadcastTableSize`. Its lookups equal the plain
 * path's joins row for row: a missing id has no rows (the inner join
 * drops it), `both()` is out ∪ in (a self-loop comes back twice), no
 * labels means every label, and an absent property reads as null.
 */
final class AdjacencyStore private (
    vertexIndex: AdjacencyStore.Csr,
    vertexCols: Map[String, AdjacencyStore.Col],
    edges: AdjacencyStore.Edges,
    edgeCols: Map[String, AdjacencyStore.Col],
    /** heap bytes of the store's arrays */
    val bytes: Long) {
  import AdjacencyStore._

  private val maxDegree: Map[(String, Boolean), Long] =
    edges.labels.indices.flatMap(l => Seq(
      (edges.labels(l), true) -> edges.out(l).maxDegree.toLong,
      (edges.labels(l), false) -> edges.in(l).maxDegree.toLong)).toMap

  /** Upper bound on the edges one vertex reaches along `labels` (every
    * label when empty) in direction `dir`: the sum of exact max degrees,
    * so `bound × hop` never underestimates a hop's output (the
    * IndexStore never-underestimate rule). */
  def hop(dir: Step.Dir, labels: Seq[String]): Long = {
    def side(out: Boolean): Long =
      (if (labels.nonEmpty) labels.distinct.map(l => (l, out))
       else maxDegree.keys.filter(_._2 == out))
        .map(maxDegree.getOrElse(_, 0L)).sum
    dir match {
      case Step.Out  => side(out = true)
      case Step.In   => side(out = false)
      case Step.Both => side(out = true) + side(out = false)
    }
  }

  /** The store indices of the edge labels `labels`; every label when
    * empty, none for a label the graph lacks. */
  def labelIndices(labels: Seq[String]): Seq[Int] =
    if (labels.isEmpty) edges.labels.indices
    else labels.distinct.map(edges.labels.indexOf(_)).filter(_ >= 0)

  /** Each edge row of vertex `id` along the label indices `ls`: out-edges
    * (`dst`, or the edge with `emitEdge`) when `out`, then in-edges
    * (`src`) when `in`. */
  def neighbours(id: Long, ls: Seq[Int], out: Boolean, in: Boolean,
                 emitEdge: Boolean)(f: Any => Unit): Unit = {
    def walk(csrs: Array[Csr], far: Array[Long]): Unit = ls.foreach { l =>
      val c = csrs(l)
      val k = c.find(id)
      if (k >= 0) {
        var p = c.offsets(k)
        while (p < c.offsets(k + 1)) {
          val r = c.rows(p)
          f(if (emitEdge) LightLane.Edge(edges.src(r), edges.dst(r),
              edges.labels(l))
            else far(r))
          p += 1
        }
      }
    }
    if (out) walk(edges.out, edges.dst)
    if (in) walk(edges.in, edges.src)
  }

  /** The vertex table rows of `id`: none, one, or duplicates. */
  def vertexRows(id: Long)(f: Int => Unit): Unit =
    vertexIndex.rowsOf(id)(f)

  /** The edge table rows of an edge `(src, dst, label)`. */
  def edgeRows(e: LightLane.Edge)(f: Int => Unit): Unit = {
    val l = edges.labels.indexOf(e.label)
    if (l >= 0) edges.out(l).rowsOf(e.src)(r => if (edges.dst(r) == e.dst) f(r))
  }

  /** A vertex key's column (`label` included), by vertex table row. */
  def vertexColumn(key: String): Col = vertexCols(key)
  /** An edge key's column, by edge table row. */
  def edgeColumn(key: String): Col = edgeCols(key)
}

object AdjacencyStore {

  /** Property types the store (and the driver postings) can hold; a
    * graph with any other type on a vertex or edge key gets no store. */
  private[gremlin] val Held: Set[DataType] =
    Set(IntegerType, LongType, DoubleType, StringType)

  private def vertexTypes(graph: GraphStore): Seq[(String, DataType)] =
    ("label" +: graph.vertexKeys).map(k => k -> graph.vertices.schema(k).dataType)

  private def edgeTypes(graph: GraphStore): Seq[(String, DataType)] =
    graph.edgeKeys.map(k => k -> graph.edges.schema(k).dataType)

  /** The store's estimated bytes: per row, the index entries plus each
    * column, a string as its code plus Spark's default string size (as
    * if every value were distinct). Row counts come from the plan's
    * statistics (a materialized cache knows them), else from a count
    * job — DDL time only. */
  def estimatedBytes(graph: GraphStore): Long = {
    def rows(df: DataFrame): Long = df.queryExecution.optimizedPlan.stats
      .rowCount.fold(df.count())(_.toLong)
    def width(types: Seq[(String, DataType)]): Long = types.map(t =>
      if (t._2 == StringType) 4L + StringType.defaultSize else 8L).sum
    rows(graph.vertices) * (8 + 4 + 4 + width(vertexTypes(graph))) +
      rows(graph.edges) * (8 + 8 + 2 * (8 + 4 + 4) + width(edgeTypes(graph)))
  }

  /** Build the store, or None when the graph does not fit the session's
    * `spark.sql.maxBroadcastTableSize`, holds a property type the store
    * cannot, or has an edge with a null `src`, `dst` or `label`. Runs
    * Spark jobs: call it at DDL time, never from compile. */
  def build(graph: GraphStore): Option[AdjacencyStore] = {
    val spark = graph.vertices.sparkSession
    def typed(df: DataFrame, c: String, dt: DataType): Boolean =
      df.columns.contains(c) && df.schema(c).dataType == dt
    if (!typed(graph.vertices, "id", LongType) ||
        !typed(graph.vertices, "label", StringType) ||
        !Seq("src", "dst").forall(typed(graph.edges, _, LongType)) ||
        !typed(graph.edges, "label", StringType))
      return None
    val vTypes = vertexTypes(graph)
    val eTypes = edgeTypes(graph)
    if (!(vTypes ++ eTypes).forall(t => Held(t._2)) ||
        estimatedBytes(graph) >
          spark.sessionState.conf.maxBroadcastTableSizeInBytes)
      return None
    // the two sides as two concurrent one-task jobs
    var vertexHalf: (Csr, Array[Col]) = null
    var edgeHalf: Option[Edges] = None
    graft.operators.StateStore.inParallel(Seq(
      () => vertexHalf = inOneTask(graph.vertices.select(
        (col("id") +: vTypes.map(t => col(t._1))): _*))(
        vertexSide(vTypes.map(_._2))),
      () => edgeHalf = inOneTask(graph.edges.select(
        (Seq("src", "dst", "label") ++ eTypes.map(_._1)).map(col): _*))(
        edgeSide(eTypes.map(_._2)))))
    edgeHalf.map { edges =>
      val (index, vCols) = vertexHalf
      new AdjacencyStore(index, vTypes.map(_._1).zip(vCols).toMap, edges,
        eTypes.map(_._1).zip(edges.cols).toMap,
        index.bytes + vCols.map(_.bytes).sum + edges.bytes)
    }
  }

  /** `f` over all of `df`'s rows in ONE task (a narrow coalesce: one job,
    * no shuffle), its result shipped back to the driver. */
  private def inOneTask[T: scala.reflect.ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => T): T =
    df.coalesce(1).queryExecution.toRdd
      .mapPartitions(rows => Iterator(f(rows))).collect()
      .headOption.getOrElse(f(Iterator.empty))

  /** Vertex rows `(id, label, keys…)` → the id index (null ids are left
    * out: an equi-join never matches them) and one column per key. */
  private def vertexSide(types: Seq[DataType])(
      rows: Iterator[InternalRow]): (Csr, Array[Col]) = {
    val ids = new mutable.ArrayBuilder.ofLong
    val noId = new BitSet
    val cols = types.map(new ColBuilder(_)).toArray
    var n = 0
    rows.foreach { r =>
      if (r.isNullAt(0)) noId.set(n)
      ids += (if (r.isNullAt(0)) 0L else r.getLong(0))
      var i = 0
      while (i < cols.length) { cols(i).add(r, i + 1); i += 1 }
      n += 1
    }
    (Csr((0 until n).filterNot(noId.get).toArray, ids.result()),
      cols.map(_.result()))
  }

  /** Edge rows `(src, dst, label, keys…)` → per label an out- and an
    * in-CSR, plus the endpoints and one column per key; None when an
    * edge has a null endpoint or label (the store cannot say what the
    * plain path's joins make of it). */
  private def edgeSide(types: Seq[DataType])(
      rows: Iterator[InternalRow]): Option[Edges] = {
    val src, dst = new mutable.ArrayBuilder.ofLong
    val label = new mutable.ArrayBuilder.ofInt
    val labels = new java.util.HashMap[UTF8String, Integer]
    val names = mutable.ArrayBuffer.empty[String]
    val cols = types.map(new ColBuilder(_)).toArray
    var n = 0
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) return None
      src += r.getLong(0); dst += r.getLong(1)
      val l = r.getUTF8String(2)
      val c = labels.get(l)
      label += (if (c != null) c.intValue else {
        labels.put(l.copy(), names.size); names += l.toString; names.size - 1
      })
      var i = 0
      while (i < cols.length) { cols(i).add(r, i + 3); i += 1 }
      n += 1
    }
    val (s, d, lab) = (src.result(), dst.result(), label.result())
    // edge rows grouped by label
    val byLabel = names.indices.map(_ => new mutable.ArrayBuilder.ofInt)
    (0 until n).foreach(r => byLabel(lab(r)) += r)
    val sel = byLabel.map(_.result()).toArray
    Some(new Edges(names.toArray, sel.map(Csr(_, s)), sel.map(Csr(_, d)),
      s, d, cols.map(_.result())))
  }

  /** Compressed sparse rows: the table rows whose key is `keys(k)` are
    * `rows(offsets(k) until offsets(k + 1))`, in table order. */
  final class Csr(val keys: Array[Long], val offsets: Array[Int],
                  val rows: Array[Int]) extends Serializable {
    /** Index of `v` in `keys`, negative when absent. */
    def find(v: Long): Int = Arrays.binarySearch(keys, v)
    /** `f` over the table rows whose key is `v`. */
    def rowsOf(v: Long)(f: Int => Unit): Unit = {
      val k = find(v)
      if (k >= 0) {
        var p = offsets(k)
        while (p < offsets(k + 1)) { f(rows(p)); p += 1 }
      }
    }
    def maxDegree: Int =
      keys.indices.map(k => offsets(k + 1) - offsets(k)).maxOption.getOrElse(0)
    def bytes: Long = 8L * keys.length + 4L * (offsets.length + rows.length)
  }

  object Csr {
    /** Group the table rows `sel` by `key(row)`. */
    def apply(sel: Array[Int], key: Array[Long]): Csr = {
      val m = sel.length
      val sorted = new Array[Long](m)
      var i = 0
      while (i < m) { sorted(i) = key(sel(i)); i += 1 }
      Arrays.sort(sorted)
      var n = 0
      i = 0
      while (i < m) {
        if (i == 0 || sorted(i) != sorted(i - 1)) { sorted(n) = sorted(i); n += 1 }
        i += 1
      }
      val keys = Arrays.copyOf(sorted, n)
      // each selected row's key index, then a counting sort into place
      val at = new Array[Int](m)
      val offsets = new Array[Int](n + 1)
      i = 0
      while (i < m) {
        at(i) = Arrays.binarySearch(keys, key(sel(i)))
        offsets(at(i) + 1) += 1
        i += 1
      }
      i = 1
      while (i <= n) { offsets(i) += offsets(i - 1); i += 1 }
      val fill = offsets.clone()
      val rows = new Array[Int](m)
      i = 0
      while (i < m) { rows(fill(at(i))) = sel(i); fill(at(i)) += 1; i += 1 }
      new Csr(keys, offsets, rows)
    }
  }

  /** One property column by table row; null where absent. */
  sealed trait Col extends Serializable {
    def get(row: Int): Any
    def bytes: Long
  }

  /** How a numeric type keeps its value in a long. */
  private def kindOf(dt: DataType): Int = dt match {
    case IntegerType => 1
    case DoubleType => 2
    case _ => 3 // LongType
  }

  /** A numeric column, each value's bits in a long. */
  final class Bits(dt: DataType, bits: Array[Long], nulls: BitSet)
      extends Col {
    private val kind = kindOf(dt)
    def get(row: Int): Any =
      if (nulls.get(row)) null
      else (kind: @scala.annotation.switch) match {
        case 1 => bits(row).toInt
        case 2 => java.lang.Double.longBitsToDouble(bits(row))
        case _ => bits(row)
      }
    def bytes: Long = 8L * bits.length + nulls.size / 8
  }

  /** A string column: per row a code into the distinct values, -1 for
    * null. */
  final class Dict(codes: Array[Int], values: Array[String])
      extends Col {
    def get(row: Int): Any = if (codes(row) < 0) null else values(codes(row))
    def bytes: Long = 4L * codes.length + values.map(40L + 2L * _.length).sum
  }

  private final class ColBuilder(dt: DataType) {
    private val bits = new mutable.ArrayBuilder.ofLong
    private val nulls = new BitSet
    private val codes = new mutable.ArrayBuilder.ofInt
    private val index = new java.util.HashMap[UTF8String, Integer]
    private val values = mutable.ArrayBuffer.empty[String]
    private var n = 0
    private val kind = if (dt == StringType) 0 else kindOf(dt)

    def add(r: InternalRow, o: Int): Unit = {
      if (kind == 0) codes += (
        if (r.isNullAt(o)) -1
        else {
          val s = r.getUTF8String(o)
          val c = index.get(s)
          if (c != null) c.intValue
          else {
            index.put(s.copy(), values.size); values += s.toString
            values.size - 1
          }
        })
      else if (r.isNullAt(o)) { nulls.set(n); bits += 0L }
      else bits += ((kind: @scala.annotation.switch) match {
        case 1 => r.getInt(o).toLong
        case 2 => java.lang.Double.doubleToRawLongBits(r.getDouble(o))
        case _ => r.getLong(o)
      })
      n += 1
    }

    def result(): Col =
      if (kind == 0) new Dict(codes.result(), values.toArray)
      else new Bits(dt, bits.result(), nulls)
  }

  /** The edge half: per label index, an out-CSR keyed by `src` and an
    * in-CSR keyed by `dst`, over the edge rows. */
  final class Edges(val labels: Array[String], val out: Array[Csr],
                    val in: Array[Csr], val src: Array[Long],
                    val dst: Array[Long], val cols: Array[Col])
      extends Serializable {
    def bytes: Long = (out ++ in).map(_.bytes).sum +
      8L * (src.length + dst.length) + cols.map(_.bytes).sum
  }
}
