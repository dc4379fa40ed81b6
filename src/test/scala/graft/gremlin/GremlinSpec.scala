package graft.gremlin

import graft.SparkSpec
import graft.sources.GraphStore

/**
 * Golden queries over the reference's own 6-vertex "modern" sample graph,
 * built in memory by `GraphStore.modern` (FIXTURES.md §A.2; expected values
 * hand-derived from Gremlin semantics — FIXTURES.md §A.3). The text-format
 * ETL of the same graph is checked by `GraphStoreSpec`.
 */
class GremlinSpec extends SparkSpec {

  lazy val g: Graft = Graft(GraphStore.modern(spark).cached())

  private def values(q: String): Seq[Any] =
    g.df(q).collect().toSeq.map(_.get(0))
  private def longs(q: String): Seq[Long] =
    values(q).map(_.asInstanceOf[Long])

  test("g.V().count() == 6") {
    assert(longs("g.V().count()") == Seq(6L))
  }

  test("g.E().count() == 6") {
    assert(longs("g.E().count()") == Seq(6L))
  }

  test("hasLabel filters by label") {
    assert(longs("g.V().hasLabel(\"person\").count()") == Seq(4L))
    assert(longs("g.V().hasLabel(\"person\", \"software\").count()") == Seq(6L))
  }

  test("has with predicate + values + order") {
    assert(values("g.V().has(\"age\", gt(27)).values(\"name\").order()") ==
      Seq("josh", "marko", "peter"))
  }

  test("has(key) / hasNot(key) / hasKey / hasValue") {
    assert(longs("g.V().has(\"age\").count()") == Seq(4L))
    assert(longs("g.V().hasNot(\"age\").count()") == Seq(2L))
    assert(longs("g.V().hasKey(\"name\", \"lang\").count()") == Seq(2L))
    assert(longs("g.V().hasValue(\"java\").count()") == Seq(2L))
    assert(longs("g.V().hasValue(29).count()") == Seq(1L))
  }

  test("out with edge label") {
    assert(values("g.V().has(\"name\",\"marko\").out(\"knows\").values(\"name\").order()") ==
      Seq("josh", "vadas"))
  }

  test("in traversal") {
    assert(values("g.V().has(\"name\",\"lop\").in(\"created\").values(\"name\").order()") ==
      Seq("josh", "marko", "peter"))
  }

  test("both traversal") {
    assert(longs("g.V().has(\"name\",\"marko\").both().count()") == Seq(3L))
  }

  test("out().dedup().count()") {
    assert(longs("g.V().out(\"created\").dedup().count()") == Seq(2L))
  }

  test("values mean") {
    assert(values("g.V().values(\"age\").mean()") == Seq(30.75))
  }

  test("sum/max/min") {
    assert(values("g.V().values(\"age\").sum()") == Seq(123.0))
    assert(values("g.V().values(\"age\").max()") == Seq(35.0))
    assert(values("g.E().values(\"weight\").min()") == Seq(0.2))
  }

  test("edge predicate inside()") {
    assert(longs("g.E().has(\"weight\", inside(0.3, 0.9)).count()") == Seq(3L))
  }

  test("between is inclusive, outside excludes") {
    assert(longs("g.V().has(\"age\", between(27, 32)).count()") == Seq(3L))
    assert(longs("g.V().has(\"age\", outside(27, 32)).count()") == Seq(1L))
  }

  test("within/without value lists") {
    assert(longs("g.V().has(\"name\", within(\"marko\",\"lop\")).count()") ==
      Seq(2L))
    assert(longs("g.V().hasLabel(\"person\").has(\"name\", without(\"marko\")).count()") ==
      Seq(3L))
  }

  test("as + where(neq) history filter") {
    assert(longs("g.V().as(\"a\").out(\"knows\").where(neq(\"a\")).count()") ==
      Seq(2L))
  }

  test("as + select re-emits history") {
    assert(values(
      "g.V().as(\"a\").out(\"knows\").select(\"a\").dedup()") == Seq(1L))
  }

  test("groupCount by property") {
    val rows = g.df("g.V().hasLabel(\"person\").groupCount(\"age\")")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(rows == Map(27 -> 1L, 29 -> 1L, 32 -> 1L, 35 -> 1L))
  }

  test("groupCount by label") {
    val rows = g.df("g.V().groupCount(\"label\")")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("person" -> 4L, "software" -> 2L))
  }

  test("group(label, name) collects values") {
    val rows = g.df("g.V().group(\"label\", \"name\")")
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toMap
    assert(rows("software") == Seq("lop", "ripple"))
    assert(rows("person") == Seq("josh", "marko", "peter", "vadas"))
  }

  test("union merges branches") {
    assert(longs("g.V().union(out(\"knows\"), out(\"created\")).count()") ==
      Seq(6L))
  }

  test("aggregate + cap") {
    assert(longs("g.V().has(\"lang\").aggregate(\"x\").cap(\"x\")").sorted ==
      Seq(3L, 5L))
  }

  test("aggregate + where(without) excludes stored elements") {
    // store = persons marko knows {vadas(2), josh(4)}; stream continues:
    // out(created) -> {lop, ripple}; in(created) -> {1,4,6,4};
    // without(store) -> {1,6} (paper Q8 shape, BASELINE.md)
    assert(longs(
      "g.V().has(\"name\",\"marko\").out(\"knows\").aggregate(\"a\")" +
        ".out(\"created\").in(\"created\").where(without(\"a\")).count()") ==
      Seq(2L))
    assert(longs(
      "g.V().has(\"name\",\"marko\").out(\"knows\").aggregate(\"a\")" +
        ".out(\"created\").in(\"created\").where(within(\"a\")).count()") ==
      Seq(2L))
  }

  test("and requires all branches, or any") {
    assert(values("g.V().and(out(\"knows\"), out(\"created\")).values(\"name\")") ==
      Seq("marko"))
    assert(values("g.V().or(out(\"knows\"), out(\"created\")).values(\"name\").order()") ==
      Seq("josh", "marko", "peter"))
  }

  test("not inverts existence") {
    // vertices with no outgoing edges at all: vadas, lop, ripple
    assert(longs("g.V().not(out()).count()") == Seq(3L))
  }

  test("where(subquery) sugars to and()") {
    assert(values("g.V().where(out(\"created\")).values(\"name\").order()") ==
      Seq("josh", "marko", "peter"))
  }

  test("order by key desc + limit") {
    assert(values("g.V().order(\"age\", decr).limit(2).values(\"name\")") ==
      Seq("peter", "josh"))
  }

  test("range/skip slice an ordered stream") {
    assert(values("g.V().values(\"age\").order().range(1, 3)") == Seq(29, 32))
    assert(values("g.V().values(\"age\").order().skip(2)") == Seq(32, 35))
  }

  test("outE/inV edge traversal") {
    assert(longs("g.V().outE(\"knows\").count()") == Seq(2L))
    assert(values("g.V().outE(\"knows\").inV().values(\"name\").order()") ==
      Seq("josh", "vadas"))
    assert(values("g.E().has(\"weight\", eq(1.0)).outV().values(\"name\").order()") ==
      Seq("josh", "marko"))
    assert(longs("g.E().bothV().count()") == Seq(12L))
  }

  test("label / key / properties projections") {
    assert(values("g.V().label().dedup().order()") ==
      Seq("person", "software"))
    assert(values("g.E().label().dedup().order()") ==
      Seq("created", "knows"))
    assert(values("g.V().has(\"name\",\"marko\").key().order()") ==
      Seq("age", "name"))
    assert(values("g.V().has(\"name\",\"marko\").properties().order()") ==
      Seq("age:29", "name:marko"))
  }

  test("is() filters scalars") {
    assert(values("g.V().values(\"age\").is(gt(28)).order()") ==
      Seq(29, 32, 35))
    assert(values("g.V().values(\"age\").is(27)") == Seq(27))
  }

  test("repeat executes once (reference parity)") {
    assert(longs("g.V().repeat(out()).count()") == Seq(6L))
  }

  test("repeat().times(k) unrolls k hops (extension)") {
    // 2 hops from marko: out,out -> created of vadas/josh = {lop,ripple} via josh
    assert(values("g.V(1).repeat(out()).times(2).values(\"name\").order()") ==
      Seq("lop", "ripple"))
    intercept[StepParser.ParseException] {
      StepParser.parse("g.V().times(2)")
    }
  }

  test("repeat().until(cond): post-condition exit per traverser") {
    // marko: round 1 reaches {lop(exits: software-named), vadas, josh};
    // round 2 from josh reaches {ripple, lop} — lop exits again (two
    // distinct paths, multiplicity kept); vadas/ripple have no out
    // edges, so the frontier DRAINS and certification passes
    assert(longs("g.V(1).repeat(out()).until(has('name','lop')).count()")
      == Seq(2L))
    // every person ends on software: 4 exits in round 1 (marko->lop,
    // josh->ripple, josh->lop, peter->lop), 2 in round 2 via
    // marko->josh->{ripple,lop}
    assert(longs("g.V().hasLabel('person').repeat(out())" +
      ".until(hasLabel('software')).count()") == Seq(6L))
    // traverser-level exit: the satisfied traverser leaves the loop
    // while its siblings keep going — values survive the union
    assert(values("g.V(1).repeat(out()).until(has('name','lop'))" +
      ".values(\"name\").order()") == Seq("lop", "lop"))
  }

  test("repeat().emit(): depth emission, hard stop at times(k)") {
    // round 1 from marko emits {vadas, josh, lop}; round 2 emits
    // {ripple, lop} (via josh); times(2) HARD-stops (TinkerPop
    // parity — depth-bounded emission, no certification throw even
    // though lop would have onward... it has none; vadas/lop dead-end)
    assert(values("g.V(1).repeat(out()).emit().times(2)" +
      ".values(\"name\").order()") ==
      Seq("josh", "lop", "lop", "ripple", "vadas"))
    // emit + until: every depth emitted, satisfied traversers exit
    // the loop — {vadas,josh,lop} + {ripple,lop}, ripple continues
    // and dies at depth 3 (drained, certification passes)
    assert(longs("g.V(1).repeat(out()).until(has('name','lop'))" +
      ".emit().count()") == Seq(5L))
    intercept[StepParser.ParseException] {
      StepParser.parse("g.V().emit()")
    }
  }

  test("until().repeat(): while-do — depth-0 matches exit immediately") {
    // marko is a person, not software: post-form and pre-form agree
    assert(longs("g.V(1).until(hasLabel('software')).repeat(out())" +
      ".count()") ==
      longs("g.V(1).repeat(out()).until(hasLabel('software')).count()"))
    // but a depth-0 match exits WITHOUT entering the body: lop (software)
    // exits at depth 0 under the pre-form (1 traverser), while the
    // post-form applies out() first — lop has no out edges, frontier
    // drains, 0 outputs
    assert(longs("g.V(3).until(hasLabel('software')).repeat(out())" +
      ".count()") == Seq(1L))
    assert(longs("g.V(3).repeat(out()).until(hasLabel('software'))" +
      ".count()") == Seq(0L))
    // whole-graph while-do: software vertices (lop, ripple) exit at
    // depth 0; persons walk out() until software — 6 arrivals + 2
    assert(longs("g.V().until(hasLabel('software')).repeat(out())" +
      ".count()") == Seq(8L))
  }

  test("emit().repeat(): depth-0 emission includes the input") {
    // emit-pre + times(2): depth0 (marko) + depth1 + depth2 (final exit)
    assert(values("g.V(1).emit().repeat(out()).times(2)" +
      ".values(\"name\").order()") ==
      Seq("josh", "lop", "lop", "marko", "ripple", "vadas"))
    // unbounded emit-pre drains at depth 3 (ripple/lop dead-end):
    // depth0..2 emitted, nothing silently dropped
    assert(longs("g.V(1).emit().repeat(out()).count()") == Seq(6L))
  }

  test("path(): labeled-history path in as()-application order") {
    assert(values("g.V(1).as('a').out().as('b').path().order()") ==
      Seq("[1, 2, 2]", "[1, 3, 3]", "[1, 4, 4]"))
    // without labels the path is just the current value
    assert(values("g.V(1).out().path().order()") ==
      Seq("[2]", "[3]", "[4]"))
    // path() composes downstream: count over paths
    assert(longs("g.V(1).as('a').out().path().count()") == Seq(3L))
    // dead-label elimination must NOT strip as() under a path()
    assert(values("g.V(1).as('a').out().path().order()") ==
      Seq("[1, 2]", "[1, 3]", "[1, 4]"))
  }

  test("repeat(): explicit times(1) caps at one round (advice r12)") {
    // until unmatched + times(1): exactly one body application, then
    // the undrained frontier fails loudly AT CAP 1 — the Int-default
    // regression ran up to UntilCap rounds here
    val e = intercept[Exception] {
      g.df("g.V(1).repeat(both()).until(has('name','zzz'))" +
        ".times(1).count()").collect()
    }
    assert((Option(e.getMessage).toSeq ++
      Option(e.getCause).flatMap(c => Option(c.getMessage)).toSeq)
      .exists(_.contains("after 1 rounds")), e.getMessage)
    // emit + times(1): hard stop at depth 1 — emits exactly round 1
    assert(values("g.V(1).repeat(out()).emit().times(1)" +
      ".values(\"name\").order()") == Seq("josh", "lop", "vadas"))
  }

  test("repeat().until: undrained frontier past the cap fails loudly") {
    // both() cycles forever and the condition never matches: after the
    // times(3) cap the frontier is nonempty — the in-plan
    // certification must throw at execution, never silently drop
    val e = intercept[Exception] {
      g.df("g.V(1).repeat(both()).until(has('name','zzz'))" +
        ".times(3).count()").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not drained")), msgs(e).toString)
    // until() without a preceding repeat() is a parse error
    intercept[StepParser.ParseException] {
      StepParser.parse("g.V().until(has('x'))")
    }
  }

  test("values over multiple keys") {
    assert(values("g.V().has(\"name\", \"lop\").values(\"name\", \"lang\").order()") ==
      Seq("java", "lop"))
  }

  test("select of two labels formats like the reference") {
    val res = values(
      "g.V().has(\"name\",\"marko\").as(\"a\").out(\"created\").as(\"b\").select(\"a\", \"b\")")
    assert(res == Seq("[a:1, b:3]"))
  }

  test("coin is deterministic under a fixed seed") {
    val n1 = longs("g.V().coin(0.5).count()").head
    val n2 = longs("g.V().coin(0.5).count()").head
    assert(n1 == n2 && n1 >= 0 && n1 <= 6)
  }

  test("V(ids) seeds the traversal") {
    assert(values("g.V(1).out(\"knows\").values(\"name\").order()") ==
      Seq("josh", "vadas"))
  }

  test("console strings parity shape") {
    assert(g.strings("g.V().count()") == Seq("=>6"))
  }

  test("BuildIndex DDL + index-seeded query matches scan result") {
    val gi = Graft(GraphStore.modern(spark))
    assert(gi.strings("BuildIndex(V, 'name')") == Seq("Index built for V.name"))
    // selective point lookup: passes the 20% gate (1 of 6 vertices),
    // and gating is pure driver arithmetic on the build-time count map
    assert(gi.index.admissibleCount(isVertex = true, "name",
      Pred.Eq(Lit.S("marko"))).contains(1L))
    assert(gi.strings("g.V().has('name','marko').out('knows').values('name')")
      .toSet == Set("=>vadas", "=>josh"))
    // unselective: 'java' covers 2/6 = 33% > 20% gate -> falls back
    gi.strings("BuildIndex(V, 'lang')")
    assert(gi.index.admissibleCount(isVertex = true, "lang",
      Pred.Eq(Lit.S("java"))).isEmpty)
    assert(gi.strings("g.V().has('lang','java').count()") == Seq("=>2"))
  }

  test("index fold: chains, hasLabel, ranges, edges match the scan path") {
    val scan = Graft(GraphStore.modern(spark))
    val gi = Graft(GraphStore.modern(spark))
    Seq("BuildIndex(V, 'name')", "BuildIndex(V, 'age')",
      "BuildIndex(V, 'label')", "BuildIndex(E, 'weight')")
      .foreach(gi.strings(_))
    val queries = Seq(
      // chain: both predicates fold, frontier = posting intersection
      "g.V().has('name', 'marko').has('age', eq(29)).values('name')",
      // contradiction across folded postings -> empty intersection
      "g.V().has('name', 'marko').has('age', eq(32)).count()",
      // hasLabel folds as WITHIN on the label index (no minCount)
      "g.V().hasLabel('software').has('name', 'lop').values('name')",
      // range predicate counted through the count map
      "g.V().has('age', between(29, 30)).values('name')",
      // fold then traverse: seeded frontier joins like any other
      "g.V().has('name', 'josh').out('created').values('name')",
      // edge index: point and range predicates
      "g.E().has('weight', eq(0.2)).inV().values('name')",
      "g.E().has('weight', gt(0.9)).count()",
      // no index on the key -> plain scan, same answer
      "g.V().has('lang', 'java').count()")
    for (q <- queries)
      assert(gi.strings(q).sorted == scan.strings(q).sorted, q)
  }

  test("index fold evicts the least-selective predicate (reference gate)") {
    val sf = "/root/testdata/sf0.001"
    val gi = Graft(graft.sources.GraphStore.tpch(spark, sf))
    gi.strings("BuildIndex(V, 'mktsegment')")
    gi.strings("BuildIndex(V, 'nationkey')")
    val steps = Reorder(StepParser.parse(
      "g.V().has('mktsegment', 'BUILDING').has('nationkey', eq(5)).count()"))
    val Some((_, remaining)) = gi.foldIndex(isVertex = true, steps.tail)
    // mktsegment (~30 matches) folds first, then nationkey (~6) lowers
    // minCount and evicts it: count/3 >= minCount (parser.cpp:1006-1022)
    assert(remaining.exists {
      case Step.Has("mktsegment", _) => true; case _ => false },
      s"evicted mktsegment filter should be back among steps: $remaining")
    // and the evicted filter still applies: results match the scan path
    val scan = Graft(graft.sources.GraphStore.tpch(spark, sf))
    val q = "g.V().has('mktsegment', 'BUILDING').has('nationkey', eq(5)).values('name')"
    assert(gi.strings(q).sorted == scan.strings(q).sorted)
  }

  test("index on a high-cardinality key bounds the driver count map") {
    import spark.implicits._
    val n = 10000
    val vertices = (1L to n.toLong)
      .map(i => (i, "person", s"uid_$i"))
      .toDF("id", "label", "uid")
    val edges = Seq((1L, 2L, "knows")).toDF("src", "dst", "label")
    val gi = Graft(graft.sources.GraphStore(vertices, edges))
    gi.strings("BuildIndex(V, 'uid')")
    val idx = gi.index.get(isVertex = true, "uid").get
    // unique key: every value is below the heavy-hitter threshold, so
    // the driver map stays bounded (here: empty) with residual scalars
    assert(idx.counts.size <= IndexStore.HeavyHitterDenom,
      s"driver map must be bounded, got ${idx.counts.size} entries")
    assert(idx.residualTotal == n && idx.residualMax == 1L)
    // absent values are still index-admissible: bound = residualMax = 1
    assert(gi.index.admissibleCount(isVertex = true, "uid",
      Pred.Eq(Lit.S("uid_4242"))).contains(1L))
    // and the posting-seeded query is exact
    assert(gi.strings("g.V().has('uid','uid_4242').count()") == Seq("=>1"))
    val scan = Graft(graft.sources.GraphStore(vertices, edges))
    assert(gi.strings("g.V().has('uid','uid_4242')").sorted ==
      scan.strings("g.V().has('uid','uid_4242')").sorted)
  }

  test("compile() with indexes runs no Spark job (plan-time gate)") {
    val gi = Graft(GraphStore.modern(spark))
    gi.strings("BuildIndex(V, 'name')")
    gi.strings("BuildIndex(V, 'label')")
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // index-seeded hop + attach: the light lane (adjacency-store
      // lookups; the store was built at BuildIndex) — compiling AND
      // rebinding the finished plan into the narrow session stay job-free
      val light = "g.V().hasLabel('person').has('name', 'marko')" +
        ".out('knows').values('name')"
      assert(gi.compile(light).light)
      assert(gi.df(light).sparkSession ne spark)
      // and/or/not used to eagerly localCheckpoint the frontier at
      // compile time — the content-hash tagging must keep this job-free
      gi.compile("g.V().and(out('knows'), out('created'))" +
        ".values('name')")
      // (repeat().until is deliberately NOT here: it is the compiler's
      // one EAGER step — a data-dependent driver loop with per-round
      // checkpoints, the graph-operator class)
      // EXPENSIVE frontier (join upstream) + branch filter: the lazy
      // localCheckpoint path must also stay job-free at compile
      gi.compile("g.V().hasLabel('person').out('knows')" +
        ".and(out('created')).count()")
      // listener bus is async — wait until every posted event is delivered
      org.apache.spark.scheduler.ListenerDrain(spark.sparkContext)
      assert(counter.get() == 0,
        "query compilation must not launch Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("light lane: a broadcast threshold below the bound keeps the parent lane") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val sf = "/root/testdata/sf0.001"
    val q = "g.V().has('mktsegment', 'BUILDING').out('placed')" +
      ".has('totalprice', gt(100000.0)).count()"
    val tight = spark.newSession()
    tight.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    val gTight = Graft(GraphStore.tpch(tight, sf))
    gTight.strings("BuildIndex(V, 'mktsegment')")
    // the hop's bound × row width exceeds 1 KB: no traverser hint
    // anywhere in the plan, and the query stays in its own session
    assert(!gTight.compile(q).light)
    val df = gTight.df(q)
    assert(df.sparkSession eq tight)
    assert(df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      .isEmpty, df.queryExecution.analyzed.treeString)
    // under the default threshold the same query is light; equal answers
    val gd = Graft(GraphStore.tpch(spark, sf))
    gd.strings("BuildIndex(V, 'mktsegment')")
    assert(gd.compile(q).light)
    assert(gTight.strings(q) == gd.strings(q))
  }

  test("SetConfig DDL records toggles") {
    val gi = Graft(GraphStore.modern(spark))
    assert(gi.strings("SetConfig('caching', 'true')") == Seq("Config caching=true"))
    assert(gi.config("caching") == "true")
  }

  test("SetConfig('step_reorder', 'false') serves steps in written order") {
    val gi = Graft(GraphStore.modern(spark))
    val q = "g.V().hasLabel('person').has('age', gt(1)).count()"
    assert(gi.plannedSteps(q).map(_.getClass.getSimpleName)
      .startsWith(List("V", "Has", "HasLabel")))
    gi.strings("SetConfig('step_reorder', 'false')")
    assert(gi.plannedSteps(q).map(_.getClass.getSimpleName)
      .startsWith(List("V", "HasLabel", "Has")))
    // results are unaffected either way
    assert(gi.strings(q) == Seq("=>4"))
  }

  test("SetConfig('indexing', 'false') bypasses the index fold") {
    // postings too big to keep on the driver: the seeded query is not
    // light, and its Catalyst plan shows which frontier it reads
    val tight = spark.newSession()
    tight.conf.set("spark.sql.maxBroadcastTableSize", "1")
    val gi = Graft(GraphStore.modern(tight))
    gi.strings("BuildIndex(V, 'name')")
    def plan: String = gi.df("g.V().has('name','marko').count()")
      .queryExecution.executedPlan.toString
    // index path filters the postings' `value` column; the plain scan
    // path filters the vertex table's `name` column directly
    val postingsFilter = """value#\d+ = marko""".r
    val scanFilter = """name#\d+ = marko""".r
    assert(postingsFilter.findFirstIn(plan).isDefined,
      "with indexing on, the frontier must come from the posting list")
    gi.strings("SetConfig('indexing', 'false')")
    assert(postingsFilter.findFirstIn(plan).isEmpty &&
      scanFilter.findFirstIn(plan).isDefined,
      "with indexing off, the query must take the plain scan path")
    assert(gi.strings("g.V().has('name','marko').values('name')") ==
      Seq("=>marko"))
    gi.strings("SetConfig('indexing', 'true')")
    assert(postingsFilter.findFirstIn(plan).isDefined)
    // with driver postings the seeded query is light; the toggle turns
    // the lane off with the fold
    val gl = Graft(GraphStore.modern(spark))
    gl.strings("BuildIndex(V, 'name')")
    val q = "g.V().has('name','marko').count()"
    assert(gl.compile(q).light)
    gl.strings("SetConfig('indexing', 'false')")
    assert(!gl.compile(q).light && gl.strings(q) == Seq("=>1"))
  }

  test("step reorder pushes has before hasLabel but not past as") {
    val steps = Reorder(StepParser.parse(
      "g.V().hasLabel(\"person\").has(\"age\", gt(1)).out().as(\"a\").dedup(\"a\")"))
    val names = steps.map(_.getClass.getSimpleName)
    assert(names == List("V", "Has", "HasLabel", "VtoV", "As", "Dedup"))
  }
}
