package graft.gremlin

import java.util.{Arrays, BitSet}
import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{ColumnIntrospection => CI, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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
 * Built ONCE per [[Graft]], at its first `BuildIndex` DDL, and shared
 * as a Spark `Broadcast`; it is built only when its estimated bytes fit
 * the graph session's `spark.sql.maxBroadcastTableSize`. A light-lane
 * hop is an explode of a neighbour lookup ([[Hop]]) and an attach is an
 * explode of a row lookup ([[Rows]]) plus one [[Prop]] lookup per key,
 * so Catalyst prunes the keys a query never reads. The expressions
 * carry the `Broadcast` HANDLE (the `BloomContainsBc` pattern), never
 * the store itself: a task closure stays constant-size and each
 * executor dereferences its local block once. The results equal the
 * plain path's joins row for row: a missing traverser id attaches to
 * nothing (the inner join drops it), `both()` is out ∪ in (a self-loop
 * comes back twice), no labels means every label, and an absent
 * property reads as null.
 */
final class AdjacencyStore private (
    bc: Broadcast[AdjacencyStore.Data],
    edgeLabels: IndexedSeq[String],
    maxDegree: Map[(String, Boolean), Long],
    vertexCols: Seq[(String, DataType)],
    edgeCols: Seq[(String, DataType)],
    /** heap bytes of the store's arrays */
    val bytes: Long) {
  import AdjacencyStore._

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

  /** out/in/both (V→V, or V→E with `emitEdge`) from the vertex ids in
    * `__val`: one row per matching edge row, `aux` columns kept. */
  def traverse(df: DataFrame, aux: Seq[String], dir: Step.Dir,
               labels: Seq[String], emitEdge: Boolean): DataFrame = {
    val ls =
      if (labels.isEmpty) edgeLabels.indices
      else labels.distinct.map(edgeLabels.indexOf(_)).filter(_ >= 0)
    val nbrs = Hop(CI.expression(col("__val")), bc, ls,
      out = dir != Step.In, in = dir != Step.Out, emitEdge)
    df.select((explode(CI.column(nbrs)).as("__val") +: aux.map(col)): _*)
  }

  /** The element's property columns — `label` and the vertex keys, or
    * the edge keys — next to `__val` and `aux`, one row per matching
    * table row (none for an id the table lacks). */
  def attach(df: DataFrame, aux: Seq[String], vertex: Boolean): DataFrame = {
    val kept = col("__val") +: aux.map(col)
    val row = Rows(CI.expression(col("__val")), bc, vertex)
    val props = (if (vertex) vertexCols else edgeCols).zipWithIndex.map {
      case ((k, dt), i) =>
        CI.column(Prop(CI.expression(col("__row")), bc, vertex, i, dt)).as(k)
    }
    df.select((kept :+ explode(CI.column(row)).as("__row")): _*)
      .select((kept ++ props): _*)
  }
}

object AdjacencyStore {

  /** Property types the store can hold; a graph with any other type on
    * a vertex or edge key gets no store. */
  private val Held: Set[DataType] =
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
      val data = new Data(vertexHalf._1, vertexHalf._2, edges)
      val bc = spark.sparkContext.broadcast(data)
      val maxDegree = edges.labels.indices.flatMap(l => Seq(
        (edges.labels(l), true) -> edges.out(l).maxDegree.toLong,
        (edges.labels(l), false) -> edges.in(l).maxDegree.toLong)).toMap
      new AdjacencyStore(bc, edges.labels.toIndexedSeq, maxDegree, vTypes,
        eTypes, data.bytes)
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
  final class Dict(codes: Array[Int], values: Array[UTF8String])
      extends Col {
    def get(row: Int): Any = if (codes(row) < 0) null else values(codes(row))
    def bytes: Long = 4L * codes.length + values.map(16L + _.numBytes).sum
  }

  private final class ColBuilder(dt: DataType) {
    private val bits = new mutable.ArrayBuilder.ofLong
    private val nulls = new BitSet
    private val codes = new mutable.ArrayBuilder.ofInt
    private val index = new java.util.HashMap[UTF8String, Integer]
    private val values = mutable.ArrayBuffer.empty[UTF8String]
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
            val own = s.copy()
            index.put(own, values.size); values += own
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

  /** The broadcast payload. */
  final class Data(val vertexIndex: Csr, val vertexCols: Array[Col],
                   val edges: Edges) extends Serializable {
    def bytes: Long =
      vertexIndex.bytes + vertexCols.map(_.bytes).sum + edges.bytes
  }

  private val EdgeType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("label", StringType, nullable = false)))

  /** A vertex id's neighbours along the edge labels `labels` (store
    * indices): out-edges give `dst`, in-edges `src`, or with `emitEdge`
    * the edge `(src, dst, label)`; one element per edge row. */
  case class Hop(child: Expression, bc: Broadcast[Data], labels: Seq[Int],
                 out: Boolean, in: Boolean, emitEdge: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType =
      ArrayType(if (emitEdge) EdgeType else LongType, containsNull = false)
    @transient private lazy val e = bc.value.edges
    @transient private lazy val names = e.labels.map(UTF8String.fromString)
    override def nullSafeEval(v: Any): Any = {
      val id = v.asInstanceOf[Long]
      val acc = mutable.ArrayBuffer.empty[Any]
      def walk(csrs: Array[Csr], far: Array[Long]): Unit = labels.foreach { l =>
        val c = csrs(l)
        val k = c.find(id)
        if (k >= 0) (c.offsets(k) until c.offsets(k + 1)).foreach { p =>
          val r = c.rows(p)
          acc += (if (emitEdge) InternalRow(e.src(r), e.dst(r), names(l))
                  else far(r))
        }
      }
      if (out) walk(e.out, e.dst)
      if (in) walk(e.in, e.src)
      new GenericArrayData(acc.toArray)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** The table rows of a vertex id, or of an edge `(src, dst, label)`:
    * as many as the table holds (none, one, or duplicates). */
  case class Rows(child: Expression, bc: Broadcast[Data], vertex: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType =
      ArrayType(IntegerType, containsNull = false)
    @transient private lazy val d = bc.value
    @transient private lazy val labelIndex: Map[UTF8String, Int] =
      d.edges.labels.map(UTF8String.fromString).zipWithIndex.toMap
    override def nullSafeEval(v: Any): Any = {
      val acc = new mutable.ArrayBuilder.ofInt
      def scan(c: Csr, key: Long)(keep: Int => Boolean): Unit = {
        val k = c.find(key)
        if (k >= 0) (c.offsets(k) until c.offsets(k + 1)).foreach { p =>
          if (keep(c.rows(p))) acc += c.rows(p)
        }
      }
      if (vertex) scan(d.vertexIndex, v.asInstanceOf[Long])(_ => true)
      else {
        // an edge stream's (src, dst, label) is never null: a store
        // exists only for edges with non-null endpoints and labels
        val e = v.asInstanceOf[InternalRow]
        labelIndex.get(e.getUTF8String(2)).foreach { l =>
          val to = e.getLong(1)
          scan(d.edges.out(l), e.getLong(0))(d.edges.dst(_) == to)
        }
      }
      ArrayData.toArrayData(acc.result())
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Column `col` of the vertex (or edge) table at a row from [[Rows]]. */
  case class Prop(child: Expression, bc: Broadcast[Data], vertex: Boolean,
                  col: Int, dataType: DataType)
      extends UnaryExpression with CodegenFallback {
    override def nullable: Boolean = true
    @transient private lazy val c =
      if (vertex) bc.value.vertexCols(col) else bc.value.edges.cols(col)
    override def nullSafeEval(row: Any): Any = c.get(row.asInstanceOf[Int])
    override protected def withNewChildInternal(x: Expression): Expression =
      copy(child = x)
  }
}
