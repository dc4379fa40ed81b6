package graft.gremlin

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import graft.{Answers, Emu, Probe, SparkSpec}
import graft.sources.GraphStore

/**
 * The light lane and its adjacency store: lane answers and output
 * schemas equal the scan path's (`SetConfig('indexing','false')`) on
 * every hop, attach, edge shape and carried step; a predicate whose
 * literal type differs from its column's leaves the lane; a light
 * template runs no Spark job and reads no cached table; and a graph
 * over `spark.sql.maxBroadcastTableSize` gets no store, so hop
 * templates leave the lane.
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
      val (x, y) = (lane.df(q).schema, scan.df(q).schema)
      assert(x == y, s"$q\nlane: $x\nscan: $y")
    }
  }

  /** Each query leaves the lane and answers — or fails — like the scan
    * path. */
  private def offLane(graph: GraphStore, ddls: Seq[String],
                      queries: Seq[String]): Unit = {
    val lane = Graft(graph)
    ddls.foreach(lane.ddl)
    val scan = Graft(graph)
    scan.ddl("SetConfig('indexing', 'false')")
    def answer(g: Graft, q: String): Either[String, Seq[String]] =
      try Right(g.strings(q))
      catch { case e: Exception => Left(e.getClass.getName) }
    queries.foreach { q =>
      assert(!lane.compile(q).light, s"on the light lane: $q")
      (answer(lane, q), answer(scan, q)) match {
        case (Right(a), Right(b)) =>
          assert(Answers.same(a, b), s"$q\nlane: $a\nscan: $b")
        case (a, b) => assert(a == b, s"$q\nlane: $a\nscan: $b")
      }
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

  test("lane answers equal the scan path on history, predicate and " +
       "aggregate steps") {
    import spark.implicits._
    val modern = GraphStore.modern(spark)
    val marko = "g.V().has('name', 'marko')"
    parity(modern, Seq("BuildIndex(V, 'name')", "BuildIndex(E, 'weight')"),
      Seq(
        s"$marko.as('a').out('knows').select('a')",
        s"$marko.as('a').out().as('b').select('a', 'b')",
        s"$marko.as('a').outE().as('e').inV().as('b').select('e', 'b')",
        s"$marko.outE().as('e').inV().select('e')",
        s"$marko.as('a').out().values('name').as('n').path()",
        s"$marko.outE('knows').path()",
        s"$marko.as('a').out().in().where(neq('a')).values('name')",
        s"$marko.as('a').out().in().where(eq('a')).count()",
        "g.V().has('name', 'josh').as('a').in().out().as('b')" +
          ".where('a', eq('b')).values('name')",
        "g.V().has('name', 'josh').as('a').in().out().as('b')" +
          ".where('a', neq('b')).values('name')",
        s"$marko.out().values('age').is(gt(28))",
        s"$marko.out().values('age').is(lte(29.5))",
        s"$marko.out().values('name').is(gt('lop'))",
        s"$marko.out().hasKey('age')",
        s"$marko.out().hasKey('age', 'lang').count()",
        s"$marko.out().hasValue(32).values('name')",
        s"$marko.out().hasValue(32.0).values('name')",
        s"$marko.out().hasValue('lop').values('name')",
        s"$marko.out().hasValue('java', 27).count()",
        s"$marko.out().label()",
        s"$marko.outE().label()",
        s"$marko.out().aggregate('x').values('name')",
        s"$marko.out().values('age').min()",
        s"$marko.out().values('age').max()",
        s"$marko.out().values('age').mean()",
        s"$marko.outE().values('weight').mean()",
        "g.V().has('name', 'peter').out('knows').values('age').min()",
        "g.V().has('name', 'peter').out('knows').values('age').max()",
        "g.V().has('name', 'peter').out('knows').values('age').mean()",
        "g.V().has('name', 'peter').out('knows').values('age').sum()",
        "g.E().has('weight', 0.2).values('weight').mean()"))
    // −0.0 and 0.0 are one dedup key; NaN is one key
    val vertices = Seq(
      (1L, "a", Some("one"), Some(-0.0)),
      (2L, "a", Some("two"), Some(0.0)),
      (3L, "b", Some("three"), Some(0.0)),
      (4L, "b", Some("four"), Some(Double.NaN)),
      (5L, "b", Some("five"), Some(Double.NaN)),
      (6L, "b", Some("six"), Option.empty[Double]),
    ).toDF("id", "label", "name", "score")
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L), (2L, 1L))
      .map { case (s, d) => (s, d, "x") }.toDF("src", "dst", "label")
    parity(GraphStore(vertices, edges), Seq("BuildIndex(V, 'name')"), Seq(
      "g.V().has('name', 'one').both().values('score').dedup()",
      "g.V().has('name', 'one').both().values('score').dedup().count()",
      "g.V().has('name', 'one').both().values('score').max()",
      "g.V().has('name', 'one').both().values('score').min()",
      "g.V().has('name', 'one').both().values('score').is(eq(0)).count()",
      "g.V().has('name', 'one').both().dedup().count()"))
  }

  test("a predicate whose literal type differs from its column's " +
       "leaves the lane") {
    offLane(GraphStore.modern(spark), Seq("BuildIndex(V, 'name')"), Seq(
      "g.V().has('name', 'marko').has('age', eq('x'))",
      "g.V().has('name', 'marko').out().has('age', eq('x')).count()",
      "g.V().has('name', eq(5))",
      "g.V().has('name', 'marko').out().has('name', eq(5)).count()",
      "g.V().has('name', 'marko').out().values('name').is(gt(3))"))
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

  test("light templates run no Spark job and read no cached table") {
    val graph = GraphStore.tpch(spark, sf).cached()
    val lane = Graft(graph)
    val keys = Emu.keysOf(Emu.DefaultTemplates)
    keys.foreach(k => lane.ddl(s"BuildIndex(V, '$k')"))
    val scan = Graft(graph)
    scan.ddl("SetConfig('indexing', 'false')")
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
      val scans = plan.collect { case s: InMemoryTableScanExec => s }
      assert(scans.isEmpty, s"$q scans a cached table:\n$plan")
      val c = probe.measure(df.collect())._2
      assert(c.jobs == 0, s"$q: ${c.line}")
      val (answer, cs) = probe.measure(lane.strings(q))
      assert(cs.jobs == 0, s"$q: ${cs.line}")
      assert(Answers.same(answer, scan.strings(q)), q)
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
