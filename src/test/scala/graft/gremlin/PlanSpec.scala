package graft.gremlin

import graft.SparkSpec
import graft.sources.GraphStore

/**
 * Physical-plan shape guards: the properties that make the engine
 * viable at 100 TB are plan properties, not result properties — a
 * regression that un-pushes a filter or turns a traversal into a
 * nested-loop join would stay invisible to result-equality gates until
 * it is a production incident. Each test pins the plan shape the
 * operator is designed to produce.
 */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val g: Graft = Graft(GraphStore.tpch(spark, sf))

  private def plan(q: String): String =
    g.df(q).queryExecution.executedPlan.toString

  test("has() predicates reach the parquet scan as PushedFilters") {
    val p = plan("g.V().hasLabel('part').has('size', gt(25)).count()")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("GreaterThan(p_size,25)"),
      "size > 25 must be pushed into the part scan")
  }

  test("projection prunes the scan to referenced columns") {
    val p = plan("g.V().hasLabel('customer').values('acctbal').mean()")
    // the customer branch must not read name/mktsegment etc.
    val custScan = p.linesIterator
      .find(l => l.contains("customer.parquet") && l.contains("ReadSchema"))
    assert(custScan.exists(l => l.contains("c_acctbal") &&
      !l.contains("c_name")), s"unpruned customer scan: $custScan")
  }

  test("order().limit(k) collapses to TakeOrderedAndProject") {
    val p = plan("g.V().hasLabel('part').order('retailprice', decr).limit(5).values('name')")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("traversals are equi-joins, never nested-loop/cartesian") {
    val p = plan("g.V().hasLabel('customer').out('placed').out('contains').dedup().count()")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("and/or/not compile to semi/anti joins on the row tag") {
    val p = plan("g.V().hasLabel('customer').not(out('placed')).count()")
    assert(p.contains("LeftAnti"), p.take(800))
  }

  test("history-free branch filters take the per-value path: no window") {
    // value-pure subs: existential evaluated per DISTINCT value — the
    // plan must have no row_number window and no xxhash row tagging
    val p = plan("g.V().hasLabel('customer')" +
      ".and(out('placed').has('totalprice', gt(150000.0))).count()")
    assert(!p.contains("Window") && !p.contains("xxhash64"), p.take(1200))
    assert(p.contains("LeftSemi"), p.take(800))
  }

  test("history-referencing branch filters keep the row-tag path") {
    val p = plan("g.V().hasLabel('customer').as('a')" +
      ".and(out('placed').where(neq('a'))).count()")
    assert(p.contains("xxhash64"), p.take(1200))
  }

  test("index fold serves the frontier from the cached posting list") {
    // postings too big to keep on the driver: the seeded query is not
    // light, and its Catalyst plan reads the cached postings
    val tight = spark.newSession()
    tight.conf.set("spark.sql.maxBroadcastTableSize", "1")
    val gi = Graft(GraphStore.tpch(tight, sf))
    gi.ddl("BuildIndex(V, 'mktsegment')")
    assert(!gi.compile("g.V().has('mktsegment', 'BUILDING').count()").light)
    val p = gi.df("g.V().has('mktsegment', 'BUILDING').count()")
      .queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), p.take(800))
    // the count must come from postings alone — no base-table re-scan
    // (the InMemoryRelation subtree below is the cache's BUILD lineage,
    // not executed work, so only the plan above it is checked)
    val executing = p.substring(0, p.indexOf("InMemoryRelation"))
    assert(!executing.contains("Scan parquet"), executing)
  }

  test("light lane: seeded templates broadcast the traverser, not a graph table") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import graft.{Answers, Emu}
    val graph = GraphStore.tpch(spark, "/root/testdata/sf0.01").cached()
    val gi = Graft(graph)
    val keys = Emu.keysOf(Emu.DefaultTemplates)
    keys.foreach(k => gi.ddl(s"BuildIndex(V, '$k')"))
    val scan = Graft(graph)
    scan.ddl("SetConfig('indexing', 'false')")
    def cacheOf(df: DataFrame): AnyRef = df.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder }.get
    val graphCaches = Seq(cacheOf(graph.vertices), cacheOf(graph.edges))
    // a whole graph table broadcast: a join-free chain from the exchange
    // down to a scan of the cached vertex or edge table (a build side
    // that joins the traverser with a table first is traverser-sized)
    def tableScan(p: SparkPlan): Boolean = p match {
      case s: InMemoryTableScanExec =>
        graphCaches.exists(_ eq s.relation.cacheBuilder)
      case _ => p.children.size == 1 && tableScan(p.children.head)
    }
    val pools = keys.map(k => k -> graph.vertices.select(k)
      .where(s"$k IS NOT NULL").distinct().orderBy(k).limit(100)
      .collect().map(_.get(0).toString)).toMap
    val rand = new scala.util.Random(7)
    for (t <- Emu.DefaultTemplates) {
      val q = Emu.instantiate(t, pools, rand)
      assert(gi.compile(q).light, s"not on the light lane: $q")
      val df = gi.df(q)
      assert(df.sparkSession.conf.get("spark.sql.adaptive.enabled") ==
        "false", q)
      val plan = df.queryExecution.executedPlan
      val wide = plan.collect {
        case b: BroadcastExchangeExec if tableScan(b.child) => b }
      assert(wide.isEmpty, s"$q broadcasts a graph table:\n$plan")
      assert(Answers.same(gi.strings(q), scan.strings(q)), q)
    }
  }

  test("side-effect stores are joins, not collected driver state") {
    val p = plan("g.V().hasLabel('order').has('totalprice', lt(20000.0))" +
      ".aggregate('small').in('placed').where(within('small')).count()")
    assert(p.contains("LeftSemi"), p.take(800))
  }

  test("bucketed tables serve out() with no shuffle exchange on either side") {
    GraphStore.tpch(spark, sf).saveBucketed("planspec", buckets = 4)
    val gb = Graft(GraphStore.loadBucketed(spark, "planspec"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path: a broadcast would hide the exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = gb.df("g.V().hasLabel('customer').out('placed').count()")
        .queryExecution.executedPlan.toString
      // vertices bucketed by id, edges by src, same bucket count — the
      // hop join reads pre-hashed buckets; the only allowed exchange is
      // the count()'s SinglePartition collapse
      val shuffles = p.linesIterator
        .filter(_.contains("Exchange"))
        .filterNot(_.contains("SinglePartition")).toList
      assert(shuffles.isEmpty,
        s"hop over bucketed tables must not shuffle: $shuffles\n${p.take(1500)}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("DotProduct is codegen'd: similarity projection stays in WSCG") {
    import org.apache.spark.sql.functions.col
    graft.functions.VectorExpressions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = emb.select(graft.functions.VectorExpressions
      .dot(col("embedding"), col("embedding")).as("d"))
    assert(out.head().getDouble(0) > 0.0)
    // a CodegenFallback expression would break the WholeStageCodegen
    // span: its Project loses the `*(n)` prefix in the physical plan
    val p = out.queryExecution.executedPlan.toString
    val projLine = p.linesIterator.find(_.contains("Project")).getOrElse("")
    assert(projLine.trim.startsWith("*"),
      s"dot-product Project must be inside WholeStageCodegen:\n$p")
  }
}
