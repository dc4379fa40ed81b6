package graft.gremlin

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import graft.{Answers, Emu, Probe, SparkSpec}
import graft.sources.GraphStore

/**
 * The light lane's adjacency store: lane answers equal the scan path's
 * (`SetConfig('indexing','false')`) on every hop, attach and edge shape;
 * a light template is one Spark job that reads no cached graph table;
 * and a graph over `spark.sql.maxBroadcastTableSize` gets no store, so
 * hop templates leave the lane.
 */
class AdjacencyStoreSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  /** Each query compiles light on a Graft with `ddls` built, and its
    * answers equal the index-free scan path's. */
  private def parity(graph: GraphStore, ddls: Seq[String],
                     queries: Seq[String]): Unit = {
    val lane = Graft(graph)
    ddls.foreach(lane.ddl)
    assert(lane.adjacencyStore.isDefined)
    val scan = Graft(graph)
    scan.ddl("SetConfig('indexing', 'false')")
    queries.foreach { q =>
      assert(lane.compile(q).light, s"not on the light lane: $q")
      val (a, b) = (lane.strings(q), scan.strings(q))
      assert(Answers.same(a, b), s"$q\nlane: $a\nscan: $b")
    }
  }

  /** Hop, attach and edge shapes from one seeded vertex `v`, on a graph
    * whose edges carry the numeric key `w`. */
  private def shapes(w: String)(v: String): Seq[String] = {
    val seed = s"g.V().has('name', '$v')"
    val hops = for {
      step <- Seq("out", "in", "both")
      labels <- Seq("", "'knows'", "'knows', 'created'", "'x'", "'x', 'y'")
    } yield s"$seed.$step($labels).values('name')"
    val edges = for {
      step <- Seq("outE", "inE", "bothE")
      end <- Seq("inV", "outV", "bothV")
    } yield s"$seed.$step().$end().values('name')"
    hops ++ edges ++ Seq(
      s"$seed.out().count()",
      s"$seed.both().label()",
      s"$seed.both().hasLabel('person', 'a').values('age').sum()",
      s"$seed.outE().values('$w')",
      s"$seed.bothE().values('$w').sum()",
      s"$seed.bothE().has('$w', gt(0.45)).inV().values('name')",
      s"$seed.bothE().has('$w', gt(1.5)).outV().values('name')",
      s"$seed.out().out().values('name')",
      s"$seed.both().both().count()",
      s"$seed.both().dedup().values('name')",
      s"$seed.out().in().dedup().count()")
  }

  test("lane answers equal the scan path on the modern graph") {
    val modern = GraphStore.modern(spark)
    parity(modern, Seq("BuildIndex(V, 'name')", "BuildIndex(E, 'weight')"),
      Seq("marko", "josh", "lop", "peter").flatMap(shapes("weight")) ++ Seq(
        // edge-seeded: edge attach straight from the postings
        "g.E().has('weight', 0.5).values('weight')",
        "g.E().has('weight', 0.5).inV().values('name')",
        "g.E().has('weight', 0.5).bothV().both().count()"))
  }

  test("lane answers equal the scan path on a self-loop, parallel, " +
       "dangling and duplicate-edge graph") {
    import spark.implicits._
    // 5 and 6 have no edges; 99 is an edge endpoint with no vertex row;
    // 1→2 twice, differing only by label; 3→2 'y' is a duplicate row
    val vertices = Seq(
      (1L, "a", Some("one"), Some(10), Option.empty[Double]),
      (2L, "a", Some("two"), None, Some(2.5)),
      (3L, "b", Some("three"), Some(30), None),
      (4L, "b", None, Some(40), None),
      (5L, "a", Some("five"), None, None),
      (6L, "b", Some("six"), None, None),
    ).toDF("id", "label", "name", "age", "score")
    val edges = Seq(
      (1L, 1L, "self", Some(1.0)),
      (1L, 2L, "x", Some(2.0)),
      (1L, 2L, "y", None),
      (2L, 99L, "x", Some(3.0)),
      (3L, 1L, "x", Some(4.0)),
      (3L, 2L, "y", Some(5.0)),
      (3L, 2L, "y", Some(5.0)),
      (4L, 3L, "x", None),
    ).toDF("src", "dst", "label", "w")
    parity(GraphStore(vertices, edges),
      Seq("BuildIndex(V, 'name')", "BuildIndex(E, 'w')"),
      Seq("one", "two", "three", "five").flatMap(shapes("w")) ++ Seq(
        "g.V().has('name', 'two').out().count()",
        "g.V().has('name', 'two').out().values('score')",
        "g.V().has('name', 'six').both().count()",
        "g.E().has('w', 3.0).inV().count()",
        "g.E().has('w', 3.0).inV().values('name')",
        "g.E().has('w', 4.0).outV().outE().values('w')"))
  }

  test("lane answers equal the scan path at sf0.01") {
    val graph = GraphStore.tpch(spark, sf).cached()
    val names = Seq("Customer#000000007", "Customer#000000100")
    parity(graph, Seq("BuildIndex(V, 'name')", "BuildIndex(V, 'brand')"),
      names.flatMap { n =>
        val seed = s"g.V().has('name', '$n')"
        Seq(s"$seed.out('placed').values('totalprice').sum()",
          s"$seed.out().out('contains').dedup().count()",
          s"$seed.outE('placed').inV().outE().values('quantity').sum()",
          s"$seed.both().in().count()")
      } ++ Seq(
        "g.V().has('brand', 'Brand#13').inE('contains')" +
          ".has('quantity', gt(30.0)).outV().values('orderstatus')",
        "g.V().has('brand', 'Brand#13').both('placed', 'contains').count()"))
  }

  test("light templates run as one job and read no cached graph table") {
    val graph = GraphStore.tpch(spark, sf).cached()
    val lane = Graft(graph)
    val keys = Emu.keysOf(Emu.DefaultTemplates)
    keys.foreach(k => lane.ddl(s"BuildIndex(V, '$k')"))
    val scan = Graft(graph)
    scan.ddl("SetConfig('indexing', 'false')")
    def cacheOf(df: DataFrame): AnyRef = df.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder }.get
    val graphCaches = Seq(cacheOf(graph.vertices), cacheOf(graph.edges))
    val pools = keys.map(k => k -> graph.vertices.select(k)
      .where(s"$k IS NOT NULL").distinct().orderBy(k).limit(100)
      .collect().map(_.get(0).toString)).toMap
    val rand = new scala.util.Random(11)
    val probe = Probe.listen(spark)
    try for (t <- Emu.DefaultTemplates) {
      val q = Emu.instantiate(t, pools, rand)
      assert(lane.compile(q).light, s"not on the light lane: $q")
      val df = lane.df(q)
      val plan = df.queryExecution.executedPlan
      val graphScans = plan.collect {
        case s: InMemoryTableScanExec
            if graphCaches.exists(_ eq s.relation.cacheBuilder) => s }
      assert(graphScans.isEmpty, s"$q scans a graph table:\n$plan")
      val c = probe.measure(df.collect())._2
      assert(c.jobs == 1, s"$q: ${c.line}")
      assert(Answers.same(lane.strings(q), scan.strings(q)), q)
    } finally probe.close()
  }

  test("a graph over maxBroadcastTableSize gets no store: hops leave " +
       "the lane, answers unchanged") {
    val keys = Emu.keysOf(Emu.DefaultTemplates)
    val full = Graft(GraphStore.tpch(spark, sf).cached())
    keys.foreach(k => full.ddl(s"BuildIndex(V, '$k')"))
    assert(full.adjacencyStore.isDefined)
    val tight = spark.newSession()
    val graph = GraphStore.tpch(tight, sf).cached()
    val estimate = AdjacencyStore.estimatedBytes(graph)
    // the gate's estimate does not undercount the store it stands for
    assert(full.adjacencyStore.get.bytes <= estimate)
    tight.conf.set("spark.sql.maxBroadcastTableSize", (estimate - 1).toString)
    val gated = Graft(graph)
    keys.foreach(k => gated.ddl(s"BuildIndex(V, '$k')"))
    assert(gated.adjacencyStore.isEmpty)
    val pools = keys.map(k => k -> graph.vertices.select(k)
      .where(s"$k IS NOT NULL").distinct().orderBy(k).limit(100)
      .collect().map(_.get(0).toString)).toMap
    val rand = new scala.util.Random(5)
    for (t <- Emu.DefaultTemplates) {
      val q = Emu.instantiate(t, pools, rand)
      val hops = Seq(".out(", ".in(", ".both(").exists(q.contains)
      assert(gated.compile(q).light == !hops, q)
      assert(Answers.same(gated.strings(q), full.strings(q)), q)
    }
  }
}
