package graft.operators

import graft.SparkSpec
import graft.sources.GraphStore
import org.apache.spark.sql.functions._

class GraphAlgosSpec extends SparkSpec {

  lazy val modern: GraphStore = GraphStore.modern(spark)

  test("connected components on the modern graph") {
    // modern is one connected component (1-2,1-3,1-4,4-5,4-3,6-3)
    val cc = GraphAlgos.connectedComponents(modern).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc.values.toSet == Set(1L))
    assert(cc.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("connected components split when an edge set is restricted") {
    val knowsOnly = GraphStore(modern.vertices,
      modern.edges.filter(col("label") === "knows"))
    val cc = GraphAlgos.connectedComponents(knowsOnly).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // {1,2,4} connected by knows; 3, 5, 6 isolated
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(4L) == 1L)
    assert(cc(3L) == 3L && cc(5L) == 5L && cc(6L) == 6L)
  }

  test("shortest hops from marko") {
    val d = GraphAlgos.shortestHops(modern, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    // 6 (peter) unreachable from marko following edge direction
    assert(!d.contains(6L))
  }

  test("hits: hand-computed integer hub/authority scores") {
    import spark.implicits._
    // 1->3, 2->3, 2->4, 3->4
    // round 1: a(3)=2, a(4)=2; h(1)=2, h(2)=4, h(3)=2
    // round 2: a(3)=h(1)+h(2)=6, a(4)=h(2)+h(3)=6;
    //          h(1)=6, h(2)=12, h(3)=6, h(4)=0
    val v = Seq(1L, 2L, 3L, 4L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst").withColumn("label", lit("e"))
    val rows = GraphAlgos.hits(GraphStore(v, e), rounds = 2, k = 10)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    // top authorities first, ties by id
    assert(rows.map(_._1).toSeq == Seq(3L, 4L, 1L, 2L))
    val m = rows.toMap
    assert(m(3L) == ((6L, 6L)) && m(4L) == ((0L, 6L)))
    assert(m(1L) == ((6L, 0L)) && m(2L) == ((12L, 0L)))
  }

  test("hits ranking is invariant to per-round normalization (spot check)") {
    // doubling every initial hub multiplies all scores by the same
    // scalar each round — ordering must match the unnormalized run's
    import spark.implicits._
    val v = (1L to 6L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 2L), (3L, 2L), (4L, 2L), (4L, 5L), (6L, 5L), (2L, 5L))
      .toDF("src", "dst").withColumn("label", lit("e"))
    val ids = GraphAlgos.hits(GraphStore(v, e), rounds = 3, k = 6)
      .collect().map(_.getLong(0)).toSeq
    // 2 and 5 tie by symmetry (both drain three unit hubs every
    // round); the (authority desc, id) order breaks the tie by id
    assert(ids.take(2) == Seq(2L, 5L))
  }

  test("weighted shortest paths: hand-checked weighted graph") {
    import spark.implicits._
    // 1 -2- 2 -2- 4;  1 -9- 4 direct;  5 isolated from 1
    val v = Seq(1L, 2L, 4L, 5L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 2L, 2L), (2L, 4L, 2L), (1L, 4L, 9L), (5L, 5L, 1L))
      .toDF("src", "dst", "weight")
      .withColumn("label", lit("w"))
    val g = GraphStore(v, e)
    val d = GraphAlgos.weightedShortestPaths(g, 1L, col("weight"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the 2-hop route (4) beats the direct edge (9)
    assert(d == Map(1L -> 0L, 2L -> 2L, 4L -> 4L))
  }

  test("weighted shortest paths with unit weights equal BFS hops") {
    // directed, like shortestHops (which follows edge direction)
    val d = GraphAlgos.weightedShortestPaths(modern, 1L, lit(1L),
      undirected = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hops = GraphAlgos.shortestHops(modern, 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d == hops)
  }

  test("pagerank ranks the most-cited vertex highest") {
    val pr = GraphAlgos.pageRank(modern).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // lop (3) has 3 in-edges — highest rank
    assert(pr.maxBy(_._2)._1 == 3L)
    assert(math.abs(pr.values.sum - 6.0) < 0.3) // ranks ~sum to |V|
  }

  test("power-iteration pagerank converges to the GraphX fixpoint") {
    val power = GraphAlgos.pageRankPower(modern, iters = 40).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val gx = GraphAlgos.pageRank(modern).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(power.keySet == gx.keySet)
    // GraphX normalizes its final ranks (sum ≈ |V|); the power method is
    // the raw fixpoint — compare the normalized distributions
    val pSum = power.values.sum
    val gSum = gx.values.sum
    power.foreach { case (id, r) =>
      assert(math.abs(r / pSum - gx(id) / gSum) < 0.005,
        s"vertex $id: ${r / pSum} vs ${gx(id) / gSum}") }
    // and the 3-iteration gate variant preserves the ranking's head
    val p3 = GraphAlgos.pageRankPower(modern, iters = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(p3.maxBy(_._2)._1 == 3L) // lop: 3 in-edges
  }

  test("repeated algorithm calls leave no GraphX caches behind") {
    def graphxCached: Int =
      spark.sparkContext.getPersistentRDDs.values.count { rdd =>
        val tag = rdd.toString + rdd.getClass.getName
        tag.contains("VertexRDD") || tag.contains("EdgeRDD") ||
          tag.contains("graphx")
      }
    GraphAlgos.connectedComponents(modern).count()
    GraphAlgos.pageRank(modern).count()
    GraphAlgos.shortestHops(modern, 1L).count()
    assert(graphxCached == 0,
      s"GraphX left $graphxCached cached RDDs after materializeAndFree")
  }

  test("commonNeighbors counts wedge pairs; maxDegree drops hubs") {
    // created edges: 1→3, 4→5, 4→3, 6→3 — only person 4 points at two
    // software vertices, so (3,5) with one shared creator is the only pair
    val pairs = GraphAlgos.commonNeighbors(modern, "created", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((3L, 5L, 1L)))
    // capping out-degree at 1 removes the only 2-out-degree source
    val capped = GraphAlgos.commonNeighbors(modern, "created", k = 10,
      maxDegree = 1).count()
    assert(capped == 0L)
    // knows edges: 1→2, 1→4 — pair (2,4) from the shared source 1
    val knows = GraphAlgos.commonNeighbors(modern, "knows", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(knows.toSeq == Seq((2L, 4L, 1L)))
  }

  test("weightedShortestPaths requireConverged throws past the hop cap") {
    import spark.implicits._
    // a 6-edge path: shortest path to the far end needs 6 rounds
    val edges = (1L to 6L).map(i => (i, i + 1, "p")).toDF("src", "dst", "label")
    val g = GraphStore((1L to 7L).toDF("id"), edges)
    intercept[IllegalStateException] {
      GraphAlgos.weightedShortestPaths(g, 1L, lit(1L),
        maxIters = 3, requireConverged = true).count()
    }
    // with enough rounds the same call converges and is exact
    val d = GraphAlgos.weightedShortestPaths(g, 1L, lit(1L),
        maxIters = 10, requireConverged = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d(7L) == 6L)
  }

  test("commonNeighbors chunk-pair salting is lossless on a hot hub") {
    import spark.implicits._
    // one celebrity source pointing at 2000 dsts (2e6 wedge pairs in
    // one task if unsalted) plus a normal source sharing 3 of them
    val hub = (1L to 2000L).map(d => (0L, d, "follows")) ++
      Seq((99L, 5L, "follows"), (99L, 7L, "follows"), (99L, 11L, "follows"))
    val edges = hub.toDF("src", "dst", "label")
    val verts = (0L to 2000L).toDF("id")
    val g = GraphStore(verts, edges)
    // salted with small chunks (forces the multi-chunk path: m = 16
    // chunks → 136 salt cells for the hub, ≤128² pairs per cell)
    val salted = GraphAlgos.commonNeighbors(g, "follows", k = 5,
        chunkSize = 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // top pairs are exactly the dst pairs both sources share (shared=2)
    assert(salted.take(3).toSeq ==
      Seq((5L, 7L, 2L), (5L, 11L, 2L), (7L, 11L, 2L)))
    // one giant chunk (single-cell path) must give the identical cut
    val single = GraphAlgos.commonNeighbors(g, "follows", k = 5,
        chunkSize = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(salted.toSeq == single.toSeq)
    // total pair mass is the exact brute-force wedge count:
    // C(2000,2) from the hub + C(3,2) from src 99
    val total = GraphAlgos.commonNeighbors(g, "follows",
        k = 2100 * 2100, chunkSize = 128)
      .agg(sum("shared")).as[Long].head()
    assert(total == 2000L * 1999L / 2 + 3L)
  }

  private def pairsDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("id_a", "id_b")
  }

  test("triangleCounts: hand-checked graph") {
    // triangles {1,2,3} and {2,3,4}; (5,6) is triangle-free
    val p = pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L)))
    val t = GraphAlgos.triangleCounts(p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(t == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts equals brute-force a<b<c enumeration at sf0.001") {
    val g = GraphStore.tpch(spark, "/root/testdata/sf0.001")
    val p = GraphAlgos.coOccurrencePairs(g, "contains", minShared = 1)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val fast = GraphAlgos.triangleCounts(p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // unoriented three-way join: every (a<b<c) closed triple once
    val e1 = p.select(col("id_a").as("a"), col("id_b").as("b"))
    val e2 = p.select(col("id_a").as("b"), col("id_b").as("c"))
    val e3 = p.select(col("id_a").as("a"), col("id_b").as("c"))
    val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
    val brute = tri.select(explode(array(col("a"), col("b"), col("c")))
        .as("id"))
      .groupBy("id").agg(count(lit(1)).as("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == brute, "oriented counts diverge from brute force")
    assert(fast.nonEmpty, "fixture graph has no triangles — weak test")
  }

  test("triangleCounts salting is lossless on a hot hub") {
    // wheel graph: hub 0 joined to every rim vertex, rim is a cycle —
    // n triangles, the hub in all of them, each rim vertex in exactly
    // two (one per adjacent rim edge)
    val n = 600L
    val rim = (1L to n).map(i => (i, if (i == n) 1L else i + 1))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val spokes = (1L to n).map(i => (0L, i))
    val p = pairsDf(spokes ++ rim)
    val salted = GraphAlgos.triangleCounts(p, chunkSize = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val single = GraphAlgos.triangleCounts(p, chunkSize = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(salted == single)
    assert(salted(0L) == n)
    assert((1L to n).forall(i => salted(i) == 2L))
  }

  test("kCore: hand-checked peel and empty core") {
    // triangle + pendant chain: 2-core is exactly the triangle
    val p = pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val core = GraphAlgos.kCore(p, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // no 3-core anywhere in this graph
    assert(GraphAlgos.kCore(p, k = 3).count() == 0L)
  }

  test("kCore requireConverged throws past the round cap") {
    // a 40-node path peels one vertex per end per round: ~20 rounds to
    // empty, so a 3-round cap must fail loudly (the oracle's unrolled
    // peel chain would diverge), and an ample cap converges to empty
    val chain = pairsDf((1L to 39L).map(i => (i, i + 1)))
    intercept[IllegalStateException] {
      GraphAlgos.kCore(chain, k = 2, maxRounds = 3)
    }
    assert(GraphAlgos.kCore(chain, k = 2, maxRounds = 30).count() == 0L)
  }

  test("kCore: fixpoint reached exactly at maxRounds certifies, not throws") {
    // triangle + 3-edge pendant chain: rounds 1..3 each strip one chain
    // edge (the count shrinks EVERY round), and the set after round 3
    // is already the 2-core — the extra certification round must prove
    // that instead of failing at the boundary
    val p = pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L)))
    val core = GraphAlgos.kCore(p, k = 2, maxRounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round short of the fixpoint still fails loudly
    intercept[IllegalStateException] {
      GraphAlgos.kCore(p, k = 2, maxRounds = 2)
    }
  }

  test("landmarkDistances: hand-checked path, truncation, early exit") {
    import spark.implicits._
    import graft.sources.GraphStore
    val v = (1L to 5L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst").withColumn("label", lit("e"))
    val out = GraphAlgos.landmarkDistances(GraphStore(v, e),
        landmarks = Seq(1L, 5L), maxHops = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // BFS is undirected; vertex 3 is met by both landmarks at hop 2,
    // the ends only by themselves (the other landmark is 4 hops out)
    assert(out == Map(1L -> ((1L, 0L)), 2L -> ((1L, 1L)),
      3L -> ((2L, 4L)), 4L -> ((1L, 1L)), 5L -> ((1L, 0L))))
    // a cap beyond the diameter early-exits on the empty frontier and
    // yields the untruncated distances
    val full = GraphAlgos.landmarkDistances(GraphStore(v, e),
        landmarks = Seq(1L), maxHops = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // harmonic twelfths over the same BFS: 12/1=12, 12/2=6; landmark
    // self rows (d=0) excluded, unreached landmarks absent
    val h = GraphAlgos.harmonicCentrality(GraphStore(v, e),
        landmarks = Seq(1L, 5L), maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(2L -> 12L, 3L -> 12L, 4L -> 12L))
  }

  test("betweenness: hand path graph + driver Brandes replica on tpch") {
    import spark.implicits._
    import graft.sources.GraphStore
    // path 1-2-3-4-5, landmarks {1,2}; expected values come from a
    // driver Brandes replica (same landmark set, same exclusion)
    val v = (1L to 5L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst").withColumn("label", lit("e"))
    def replica(edges: Seq[(Long, Long)], lms: Seq[Long],
                maxDepth: Int): Map[Long, Double] = {
      val adj = (edges ++ edges.map(p => (p._2, p._1))).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val bc = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (s <- lms) {
        val dist = scala.collection.mutable.Map(s -> 0)
        val sigma = scala.collection.mutable.Map(s -> 1L)
          .withDefaultValue(0L)
        var frontier = Seq(s); var d = 0
        val levels = scala.collection.mutable.ArrayBuffer(Seq(s))
        while (frontier.nonEmpty && d < maxDepth) {
          val next = scala.collection.mutable.LinkedHashSet[Long]()
          for (v <- frontier; w <- adj.getOrElse(v, Nil))
            if (!dist.contains(w) || dist(w) == d + 1) {
              if (!dist.contains(w)) { dist(w) = d + 1; next += w }
              sigma(w) += sigma(v)
            }
          d += 1
          if (next.nonEmpty) levels += next.toSeq
          frontier = next.toSeq
        }
        val delta = scala.collection.mutable.Map[Long, Double]()
          .withDefaultValue(0.0)
        for (lev <- levels.reverse.drop(1); v <- lev;
             w <- adj.getOrElse(v, Nil) if dist.get(w).contains(dist(v) + 1))
          delta(v) += sigma(v).toDouble / sigma(w) * (1.0 + delta(w))
        for ((v, dl) <- delta) bc(v) += dl
      }
      bc.toMap.view.filterKeys(k => !lms.contains(k)).toMap
    }
    val got = GraphAlgos.betweenness(GraphStore(v, e),
        nLandmarks = 2, maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = replica(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      Seq(1L, 2L), 8)
    for (k <- got.keySet ++ want.keySet)
      assert(math.abs(got.getOrElse(k, 0.0) - want.getOrElse(k, 0.0))
        < 1e-6, s"vertex $k: ${got.get(k)} vs ${want.get(k)}")
    // tpch sf0.001: replica equality within double-sum tolerance
    val g = GraphStore.tpch(spark, "/root/testdata/sf0.001")
    val gotT = GraphAlgos.betweenness(g, nLandmarks = 4, maxDepth = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val undE = g.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lms = g.vertices.select("id").orderBy("id").limit(4)
      .collect().map(_.getLong(0)).toSeq
    val wantT = replica(undE, lms, 6)
    val nonzero = wantT.filter(_._2 > 0)
    assert(nonzero.nonEmpty)
    for ((k, w) <- nonzero)
      assert(math.abs(gotT.getOrElse(k, 0.0) - w) <
        math.max(1e-4, w * 1e-6), s"vertex $k: ${gotT.get(k)} vs $w")
  }

  test("kTruss: hand-checked clique + pendant triangle + dangling edge") {
    // 4-clique {1,2,3,4} (every edge in 2 triangles), pendant triangle
    // {4,5,6} (each edge in 1), dangling edge (6,7) (in none)
    val p = pairsDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
    val t3 = GraphAlgos.kTruss(p, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3 == Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (1L, 4L) -> 2L,
      (2L, 3L) -> 2L, (2L, 4L) -> 2L, (3L, 4L) -> 2L,
      (4L, 5L) -> 1L, (4L, 6L) -> 1L, (5L, 6L) -> 1L))
    // 4-truss: only the clique survives (and its supports stay 2 —
    // dropping the pendant triangle costs the clique nothing)
    val t4 = GraphAlgos.kTruss(p, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t4.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(t4.values.forall(_ == 2L))
    // 5-truss (support >= 3): K4 cannot provide it
    assert(GraphAlgos.kTruss(p, k = 5).count() == 0L)
  }

  test("kTruss peels cascades (one support pass is not enough)") {
    // diamond = two triangles sharing edge (2,3): under k=4 the four
    // outer edges (support 1) fall in round 1, which strips (2,3)'s
    // triangles — a single-pass filter would KEEP (2,3) (support 2);
    // the fixpoint is empty
    val p = pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(GraphAlgos.kTruss(p, k = 4).count() == 0L)
    // sanity: the 3-truss keeps the whole diamond
    assert(GraphAlgos.kTruss(p, k = 3).count() == 5L)
  }

  test("kTruss convergence boundary certifies; too-small cap throws") {
    // clique + pendant triangle + dangling edge under k=3 shrinks on
    // round 1 (the dangling edge falls) and is at the fixpoint — a
    // maxRounds=1 cap must CERTIFY via the extra check-only round
    // rather than throw at the exact boundary (kCore pattern)
    val p = pairsDf(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
    val full = GraphAlgos.kTruss(p, k = 3, maxRounds = 4).collect().toSet
    val certified = GraphAlgos.kTruss(p, k = 3, maxRounds = 1)
      .collect().toSet
    assert(certified == full && full.size == 9)
    // the k=4 diamond cascade needs 2 shrinking rounds: a 1-round cap
    // fails its certification round and must fail loudly
    val diamond = pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    intercept[IllegalStateException] {
      GraphAlgos.kTruss(diamond, k = 4, maxRounds = 1)
    }
  }

  test("clusteringCoefficients: hand-checked wheel and chain") {
    // triangle + pendant: 1,2 have coeff 1 (their only pair closes);
    // 3 has degree 3 with one closed pair of three -> 1/3
    val p = pairsDf(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    val cc = GraphAlgos.clusteringCoefficients(p).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(cc(1L) == ((2L, 1L, 1.0)))
    assert(cc(2L) == ((2L, 1L, 1.0)))
    assert(cc(3L) == ((3L, 1L, 0.3333)))
    // degree-1 vertex 4 is excluded (coefficient undefined)
    assert(!cc.contains(4L))
    // a triangle-free path has coefficient 0 at its middle vertex
    val chain = GraphAlgos.clusteringCoefficients(
      pairsDf(Seq((1L, 2L), (2L, 3L)))).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(chain == Map(2L -> 0.0))
  }

  test("personalizedPageRankPower: hand-computed neighborhood ranks") {
    val pr = GraphAlgos.personalizedPageRankPower(modern, 1L, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // mass reaches exactly marko's 3-hop forward neighborhood
    assert(pr.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // nothing points at the source: its rank is the pure restart mass
    assert(math.abs(pr(1L) - 0.15) < 1e-12)
    // hand-rolled power iteration (outdeg(1)=3, outdeg(4)=2):
    // r3(2)=r3(4)=0.85·(0.15/3); r3(5)=0.85·(r2(4)/2) with r2(4)=0.0425
    assert(math.abs(pr(2L) - 0.0425) < 1e-12)
    assert(math.abs(pr(4L) - 0.0425) < 1e-12)
    assert(math.abs(pr(5L) - 0.0180625) < 1e-12)
    assert(math.abs(pr(3L) - 0.0605625) < 1e-12)
  }

  test("personalizedPageRankFixedPoint: exact int64 ranks, no float") {
    val pr = GraphAlgos.personalizedPageRankFixedPoint(modern, 1L,
      iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // hand-rolled in units of 1e-12 with per-edge integral division:
    // source keeps the pure restart 0.15·1e12; 2 and 4 get
    // (15e10·85) div 300; 5 gets (42.5e9·85) div 200; 3 sums both
    // paths — exactly the float test's chain, floor-quantized
    assert(pr(1L) == 150000000000L)
    assert(pr(2L) == 42500000000L)
    assert(pr(4L) == 42500000000L)
    assert(pr(5L) == 18062500000L)
    assert(pr(3L) == 60562500000L)
    // quantization stays within 1 unit-in-the-last-digit of the float
    // chain on every vertex (here the chain divides exactly)
    val fl = GraphAlgos.personalizedPageRankPower(modern, 1L, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    pr.foreach { case (id, q) =>
      assert(math.abs(q - fl(id) * 1e12) <= 8.0, s"vertex $id drifted") }
  }

  test("labelPropagationSync: deterministic, equals reference model") {
    // reference: sync rounds, adopt (count desc, label asc)
    def model(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var lbl = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        lbl = adj.map { case (v, ns) =>
          val votes = ns.groupBy(lbl).map { case (l, xs) => (l, xs.size) }
          v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      lbl
    }
    val clique = (s: Long) => for {
      a <- 0 to 3; b <- a + 1 to 3 } yield (s + a, s + b)
    val edges = clique(1L) ++ clique(11L) :+ (4L, 11L)
    val out = GraphAlgos.labelPropagationSync(pairsDf(edges), rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == model(edges, 4))
    // min-label convergence: each clique's core lands on its min id
    assert(Set(1L, 2L, 3L).map(out) == Set(1L))
    assert(Set(12L, 13L, 14L).map(out).forall(_ >= 11L))
    // a second shape: path + triangle, still exactly the model
    val mix = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
    val out2 = GraphAlgos.labelPropagationSync(pairsDf(mix), rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out2 == model(mix, 4))
  }

  test("labelPropagationSync weighted: tie strength beats tie count") {
    import spark.implicits._
    // vertex 3 has TWO unit ties into the {1,2} side and ONE heavy
    // (w=5) tie to 4: unweighted adopts the {1,2} majority, weighted
    // follows the heavy edge
    val p = Seq((1L, 3L, 1L), (2L, 3L, 1L), (3L, 4L, 5L), (1L, 2L, 1L))
      .toDF("id_a", "id_b", "shared")
    val unw = GraphAlgos.labelPropagationSync(p, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(unw(3L) == 1L) // two unit votes {1,2} -> min label 1
    val wtd = GraphAlgos.labelPropagationSync(p, rounds = 1,
        weightCol = Some("shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(wtd(3L) == 4L) // 5 > 1+1
  }

  test("labelCommunities: bridged cliques keep distinct cores") {
    // two 4-cliques bridged by a single edge (4, 11)
    val clique = (s: Long) => for {
      a <- 0 to 3; b <- a + 1 to 3 } yield (s + a, s + b)
    val p = pairsDf(clique(1L) ++ clique(11L) :+ (4L, 11L))
    val out = GraphAlgos.labelCommunities(p, maxSteps = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == (1L to 4L).toSet ++ (11L to 14L).toSet)
    // the far sides of the bridge never merge into one community
    val a = Set(1L, 2L, 3L).map(out)
    val b = Set(12L, 13L, 14L).map(out)
    assert((a & b).isEmpty, s"cliques collapsed: $out")
    // deterministic across runs in one session
    val again = GraphAlgos.labelCommunities(p, maxSteps = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == out)
  }

  test("degreeHistogram: hand-checked counts; mass equals 2|E|") {
    import spark.implicits._
    // star 1->{2,3,4} plus edge 2->3: deg 1=3, 2=2, 3=2, 4=1
    val v = Seq(1L, 2L, 3L, 4L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
      .toDF("src", "dst").withColumn("label", lit("e"))
    val h = GraphAlgos.degreeHistogram(GraphStore(v, e)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h == Map(3L -> 1L, 2L -> 2L, 1L -> 1L))
    assert(h.map { case (d, n) => d * n }.sum == 2L * 4)
  }

  test("assortativityMoments: exact sums on a hand graph") {
    import spark.implicits._
    // path 1->2->3: deg 1=1, 2=2, 3=1; edges (dx,dy) = (1,2), (2,1)
    val v = Seq(1L, 2L, 3L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 2L), (2L, 3L))
      .toDF("src", "dst").withColumn("label", lit("e"))
    val m = GraphAlgos.assortativityMoments(GraphStore(v, e))
      .collect().head
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
      m.getLong(4), m.getLong(5)) == ((2L, 3L, 3L, 4L, 5L, 5L)))
  }

  test("coOccurrencePairs thresholds shared sources") {
    import spark.implicits._
    // orders 10/11 both contain parts {1,2}; order 12 contains {1,3}
    val e = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L),
      (12L, 3L)).map { case (s, d) => (s, d, "contains") }
      .toDF("src", "dst", "label")
    val g = GraphStore((1L to 12L).toDF("id"), e)
    val ms2 = GraphAlgos.coOccurrencePairs(g, "contains", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ms2.toSeq == Seq((1L, 2L, 2L)))
    val ms1 = GraphAlgos.coOccurrencePairs(g, "contains", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(ms1 == Set((1L, 2L, 2L), (1L, 3L, 1L)))
  }

  test("associationRules: hand-checked confidence and lift") {
    import spark.implicits._
    // baskets 1,2 = {10,20}; basket 3 = {10,30}; duplicate membership
    // row must not inflate support (distinct projection)
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L), (1L, 10L)).map { case (s, d) => (s, d, "contains") }
      .toDF("src", "dst", "label")
    val g = GraphStore((1L to 30L).toDF("id"), e)
    val rules = GraphAlgos.associationRules(g, "contains", minShared = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // cnt(10)=3, cnt(20)=2, baskets=3, support(10,20)=2:
    // 20->10 conf 2000 div 2 = 1000, lift 2*3*1000 div (2*3) = 1000
    // 10->20 conf 2000 div 3 = 666,  lift 2*3*1000 div (3*2) = 1000
    assert(rules.toSeq == Seq(
      (20L, 10L, 2L, 2L, 1000L, 1000L),
      (10L, 20L, 2L, 3L, 666L, 1000L)))
  }

  test("neighborhoodJaccard: hand-checked per-mille ratio") {
    import spark.implicits._
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L)).map { case (s, d) => (s, d, "contains") }
      .toDF("src", "dst", "label")
    val g = GraphStore((1L to 30L).toDF("id"), e)
    val out = GraphAlgos.neighborhoodJaccard(g, "contains", minShared = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // |N(10)∩N(20)| = 2, |N(10)∪N(20)| = 3 → 666‰
    assert(out.toSeq == Seq((10L, 20L, 2L, 666L)))
  }

  test("randomWalks equal a driver-side md5-argmin replica") {
    import spark.implicits._
    // star + tail: 1-{2,3,4}, 4-5; undirected — walks can bounce back
    val v = (1L to 5L).map(id => (id, "n")).toDF("id", "label")
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst").withColumn("label", lit("e"))
    val g = GraphStore(v, e)
    val starts = Seq(1L, 5L).toDF("id")
    val out = GraphAlgos.randomWalks(g, starts, length = 3)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2)))
      .toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val adj = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L), 3L -> Seq(1L),
      4L -> Seq(1L, 5L), 5L -> Seq(4L))
    val expected = Seq(1L, 5L).flatMap { w =>
      var cur = w
      (0 to 3).map { s =>
        if (s > 0) cur = adj(cur).minBy(d =>
          md5hex(s"walk:$w:$s:$d") + f"$d%012d")
        ((w, s), cur)
      }
    }.toMap
    assert(out == expected)
    // every walk emits exactly length+1 steps on a sink-free graph
    assert(out.keys.groupBy(_._1).values.forall(_.size == 4))
  }

  test("butterflyCounts: hand-checked bipartite 4-cycles") {
    import spark.implicits._
    // orders o1..o3 (src) contain parts (dst): p1,p2 shared by all
    // three orders -> C(3,2)=3 butterflies on the (p1,p2) pair; p3
    // only ever co-occurs once -> below minShared=2
    val e = Seq((1L, 11L), (1L, 12L), (1L, 13L), (2L, 11L), (2L, 12L),
      (3L, 11L), (3L, 12L)).map { case (s, d) => (s, d, "contains") }
      .toDF("src", "dst", "label")
    val g = GraphStore((1L to 13L).toDF("id"), e)
    val out = GraphAlgos.butterflyCounts(g, "contains")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(11L -> 3L, 12L -> 3L))
    // minShared=1 admits the single-co-occurrence pairs at zero
    // butterflies (C(1,2) = 0) — counts never change, coverage does
    val loose = GraphAlgos.butterflyCounts(g, "contains", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(loose == Map(11L -> 3L, 12L -> 3L, 13L -> 0L))
  }

  private def md5hex32(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def lubyPrioReplica(v: Long): Long =
    (java.lang.Long.parseLong(md5hex32(v.toString).take(8), 16) %
      1073741824L) * 2147483648L + v

  test("maximalIndependentSet equals a driver-side Luby replica") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a disjoint edge 6-7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("id_a", "id_b")
    val out = GraphAlgos.maximalIndependentSet(pairs)
      .collect().map(_.getLong(0)).toSet
    // replica: fixed-priority Luby over the adjacency map
    val adj = Map(1L -> Set(2L), 2L -> Set(1L, 3L), 3L -> Set(2L, 4L),
      4L -> Set(3L, 5L), 5L -> Set(4L), 6L -> Set(7L), 7L -> Set(6L))
    var active = adj.keySet
    var mis = Set.empty[Long]
    while (active.nonEmpty) {
      val win = active.filter(v =>
        (adj(v) & active).forall(u =>
          lubyPrioReplica(v) < lubyPrioReplica(u)))
      mis ++= win
      active = active -- win -- win.flatMap(adj)
    }
    assert(out == mis)
    // structural: independent and maximal on the hand graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
    assert(edges.forall { case (a, b) => !(out(a) && out(b)) })
    assert(adj.keySet.forall(v => out(v) || adj(v).exists(out)))
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    val pairs = GraphAlgos.coOccurrencePairs(
      GraphStore.tpch(spark, "/root/testdata/sf0.001"),
      label = "contains", minShared = 2).localCheckpoint()
    val mis = GraphAlgos.maximalIndependentSet(pairs)
    val misSet = mis.collect().map(_.getLong(0)).toSet
    val edgeList = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // no edge keeps both endpoints
    assert(edgeList.forall { case (a, b) => !(misSet(a) && misSet(b)) })
    // every non-member has a member neighbor (maximality)
    val nbrs = (edgeList ++ edgeList.map(_.swap))
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    assert(nbrs.keySet.forall(v => misSet(v) || nbrs(v).exists(misSet)))
    // fixed priorities: repeated runs agree exactly
    val again = GraphAlgos.maximalIndependentSet(pairs)
      .collect().map(_.getLong(0)).toSet
    assert(again == misSet)
  }

  test("maximalIndependentSet convergence cap throws; uncapped doesn't") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      GraphAlgos.maximalIndependentSet(pairs, maxRounds = 0)
    }
    // requireConverged=false returns the (empty) partial set instead
    assert(GraphAlgos.maximalIndependentSet(pairs, maxRounds = 0,
      requireConverged = false).count() == 0L)
  }

  private def edgePrioReplica(a: Long, b: Long): Long =
    (java.lang.Long.parseLong(md5hex32(s"$a:$b").take(8), 16) %
      1073741824L) * 2147483648L + (a + b) % 2147483648L

  test("maximalMatching equals the greedy-by-priority replica") {
    import spark.implicits._
    // deterministic pseudo-random graph on 30 vertices
    val edges = for {
      a <- 1L to 30L; b <- (a + 1L) to 30L if (a * 31 + b) % 7 == 0
    } yield (a, b)
    val df = edges.toDF("id_a", "id_b")
    val out = GraphAlgos.maximalMatching(df, maxRounds = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // matched pairs are vertex-disjoint
    val vs = out.toSeq.flatMap(p => Seq(p._1, p._2))
    assert(vs.distinct.size == vs.size)
    // parallel local-min selection == sequential greedy by ascending
    // priority (the lexicographically-first maximal matching)
    val used = scala.collection.mutable.Set.empty[Long]
    val rep = scala.collection.mutable.Set.empty[(Long, Long)]
    edges.sortBy(e => edgePrioReplica(e._1, e._2)).foreach {
      case (a, b) =>
        if (!used(a) && !used(b)) { used += a; used += b; rep += ((a, b)) }
    }
    assert(out == rep.toSet)
    // maximal: every edge touches a matched vertex
    assert(edges.forall { case (a, b) => used(a) || used(b) })
    // fixed priorities: a second run agrees exactly
    val again = GraphAlgos.maximalMatching(df, maxRounds = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == out)
  }

  test("maximalMatching convergence cap throws; uncapped returns partial") {
    import spark.implicits._
    // a path needs 2 rounds under adversarial priorities at round cap 1
    // only if the middle edge is not the global min — force the shape
    // with a 4-path; cap 0 always throws with edges remaining
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      GraphAlgos.maximalMatching(pairs, maxRounds = 0)
    }
    assert(GraphAlgos.maximalMatching(pairs, maxRounds = 0,
      requireConverged = false).count() == 0L)
  }

  test("doubleSweepDiameter: exact on a tree, certify-or-throw") {
    import spark.implicits._
    // star-with-tails: 1-2-3-4-5 path plus 3-6, 6-7 branch: farthest
    // from min vertex 1 is 7 (d=4)... pivot BFS gives true diameter 4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (3L, 6L), (6L, 7L)).toDF("src", "dst")
    val g = GraphStore(Seq(1L).toDF("id"),
      edges.withColumn("label", lit("e")))
    val out = GraphAlgos.doubleSweepDiameter(g, maxHops = 8)
      .collect().head
    // sweep 1 from vertex 1: farthest are {5, 7} at d=4 -> pivot 5
    // (min id); sweep 2 from 5: ecc 4, peripheral = the d=4 shell
    // {1 (5-4-3-2-1), 7 (5-4-3-6-7)}
    assert(out.getLong(0) == 5L)
    assert(out.getLong(1) == 4L)
    assert(out.getLong(2) == 2L)
    // a hop cap below the eccentricity must throw, not under-report
    intercept[IllegalStateException] {
      GraphAlgos.doubleSweepDiameter(g, maxHops = 2)
    }
  }

  test("doubleSweepDiameter: eccentricity exactly at maxHops certifies") {
    import spark.implicits._
    // path 1-2-3-4: both sweeps reach their last vertex at hop 3, and
    // hop 4 is empty — the 3-level set the unrolled oracle describes
    val g = GraphStore(Seq(1L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
        .withColumn("label", lit("e")))
    val out = GraphAlgos.doubleSweepDiameter(g, maxHops = 3)
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) ==
      ((4L, 3L, 1L)))
    intercept[IllegalStateException] {
      GraphAlgos.doubleSweepDiameter(g, maxHops = 2)
    }
  }

  // ---------------- strongly connected components ----------------

  private def sccMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("reciprocity: mutual pairs counted once per direction") {
    import spark.implicits._
    // 1<->2 mutual (2 reciprocal edges), 2->3 one-way, 4->4 self-loop
    // (excluded), duplicate (1,2) collapsed
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (4L, 4L))
      .toDF("src", "dst")
    val out = GraphAlgos.reciprocity(e).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) ==
      ((3L, 2L, 666L)))
  }

  test("scc leaves the calling session's conf untouched") {
    // the r10 advice contract: iterative-loop width/AQE tuning must
    // never leak into concurrent queries — SCC now runs small graphs
    // on an isolated child session instead of mutating shared conf
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    GraphAlgos.stronglyConnectedComponents(e, seqThreshold = 0).count()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
  }

  test("ccIncremental: union equality, merge path, idempotence") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val state = java.nio.file.Files
      .createTempDirectory("graft-ccstate").toString
    // drop A: components {1,2,3} and {10,11}; drop B merges them via
    // (3,10) and adds a fresh one {20,21} — the star-merge path
    val dropA = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("src", "dst")
    val dropB = Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
    val afterA = labels(GraphAlgos.ccIncremental(dropA, state))
    assert(afterA == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L))
    val afterB = labels(GraphAlgos.ccIncremental(dropB, state))
    val oneShot = labels(GraphAlgos.connectedComponents(
      GraphStore(
        Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id"),
        dropA.union(dropB))))
    assert(afterB == oneShot)
    assert(afterB(11L) == 1L) // the old {10,11} component re-rooted
    // a re-presented drop (even reordered/reversed) is a no-op that
    // neither changes labels nor grows the state
    val nDirs = StateStore.committed(spark, state).size
    val again = labels(GraphAlgos.ccIncremental(
      dropB.select(col("dst").as("src"), col("src").as("dst")), state))
    assert(again == afterB)
    assert(StateStore.committed(spark, state).size == nDirs)
    // committed-read-back purity: the afterB call's FRAME still
    // answers the same after a later ingest
    val holdB = GraphAlgos.ccIncremental(
      Seq((30L, 31L)).toDF("src", "dst"), state)
    assert(labels(holdB).contains(30L))
  }

  test("ccIncremental: per-state ledger sizing persists through meta") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val state = java.nio.file.Files
      .createTempDirectory("graft-ccmeta").toString
    val dropA = Seq((2L, 1L), (11L, 10L)).toDF("src", "dst")
    val dropB = Seq((3L, 1L), (2L, 1L)).toDF("src", "dst") // one re-present
    // tiny custom sizing on the FIRST ingest; the second passes
    // defaults and must pick the stored sizing back up
    GraphAlgos.ccIncremental(dropA, state, buckets = 8,
      bloomBits = 1 << 16).count()
    val after = labels(GraphAlgos.ccIncremental(dropB, state))
    assert(after == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L))
    val dirs = StateStore.committed(spark, state)
    val metas = spark.read.parquet(dirs.map(_ + "/idbloom"): _*)
      .select("buckets", "bloom_bits")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(metas == Set((8, 1 << 16)), metas.toString)
    // the ledger layout honors the stored bucket count
    val bkDirs = new java.io.File(dirs.head.stripPrefix("file:")
        + "/ids").listFiles().filter(_.isDirectory).map(_.getName)
    assert(bkDirs.forall(d => d.stripPrefix("__ib=").toInt < 8),
      bkDirs.mkString(", "))
  }

  test("ccCompact: ingest→compact→ingest == one-shot; labels last-read") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val state = java.nio.file.Files
      .createTempDirectory("graft-cccompact").toString
    val dropA = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("src", "dst")
    val dropB = Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
    val dropC = Seq((21L, 1L), (40L, 41L)).toDF("src", "dst")
    GraphAlgos.ccIncremental(dropA, state).count() // pin before compact
    val midLabels = labels(GraphAlgos.ccIncremental(dropB, state))
    GraphAlgos.ccCompact(spark, state)
    val dirs = StateStore.committed(spark, state)
    assert(dirs.size == 1, s"compact must fold to one dir, got $dirs")
    // labels compacted LAST-TABLE: the folded dir answers exactly the
    // pre-compact newest labels (a union would double-label ids)
    assert(labels(spark.read.parquet(dirs.head + "/labels")) == midLabels)
    // the edge ledger keeps its hive bucket layout through compaction
    val bkDirs = new java.io.File(
      dirs.head.stripPrefix("file:") + "/ids").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(bkDirs.nonEmpty && bkDirs.forall(_.startsWith("__ib=")),
      bkDirs.mkString(", "))
    // post-compact ingest merges against the folded state == one-shot
    val afterC = labels(GraphAlgos.ccIncremental(dropC, state))
    val oneShot = labels(GraphAlgos.connectedComponents(GraphStore(
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 40L, 41L).toDF("id"),
      dropA.union(dropB).union(dropC))))
    assert(afterC == oneShot)
    // the compacted ledger still blocks a re-presented drop
    val nDirs = StateStore.committed(spark, state).size
    assert(labels(GraphAlgos.ccIncremental(dropA, state)) == afterC)
    assert(StateStore.committed(spark, state).size == nDirs)
  }

  test("ccUnionFind == independent BFS labeling on seeded random graphs") {
    // the small-mode driver path (r13) cross-checked against a second,
    // structurally different implementation — min-id BFS flooding —
    // over 50 seeded random multigraphs incl. self-loops and dupes
    val rnd = new scala.util.Random(0xC0FFEE)
    for (_ <- 1 to 50) {
      val n = 1 + rnd.nextInt(60)
      val m = rnd.nextInt(120)
      val pairs = Array.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val uf = GraphAlgos.ccUnionFind(pairs).toMap
      // BFS reference
      val adj = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Long]]
      def link(a: Long, b: Long): Unit = {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
      }
      pairs.foreach { case (a, b) => link(a, b) }
      val label = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { v =>
        if (!label.contains(v)) {
          // v is the smallest unvisited id => the component min
          val q = scala.collection.mutable.Queue(v)
          label(v) = v
          while (q.nonEmpty) {
            val x = q.dequeue()
            adj(x).foreach { y =>
              if (!label.contains(y)) { label(y) = v; q += y }
            }
          }
        }
      }
      assert(uf == label.toMap, s"n=$n m=$m")
    }
  }

  test("ccCompact resize: rebuilt ledger sizing, pre-bloom migration") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val state = java.nio.file.Files
      .createTempDirectory("graft-ccresize").toString
    val dropA = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("src", "dst")
    val dropB = Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
    val dropC = Seq((21L, 1L), (40L, 41L)).toDF("src", "dst")
    GraphAlgos.ccIncremental(dropA, state, buckets = 4,
      bloomBits = 1 << 10).count()
    GraphAlgos.ccIncremental(dropB, state).count()
    // resize-compact to a bigger ledger: one dir, NEW sizing persisted,
    // __ib layout honors the new bucket count
    GraphAlgos.ccCompact(spark, state, buckets = 16,
      bloomBits = 1 << 18)
    val dirs = StateStore.committed(spark, state)
    assert(dirs.size == 1, dirs.toString)
    val meta = spark.read.parquet(dirs.head + "/idbloom")
      .select("buckets", "bloom_bits").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(meta == Set((16, 1 << 18)), meta.toString)
    val bkDirs = new java.io.File(dirs.head.stripPrefix("file:")
        + "/ids").listFiles().filter(_.isDirectory).map(_.getName)
    assert(bkDirs.nonEmpty &&
      bkDirs.forall(d => d.stripPrefix("__ib=").toInt < 16),
      bkDirs.mkString(", "))
    // the resized state ingests correctly (sizing read back = new),
    // == one-shot over all drops; re-present still a no-op
    val afterC = labels(GraphAlgos.ccIncremental(dropC, state))
    assert(afterC == labels(GraphAlgos.connectedComponents(GraphStore(
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 40L, 41L).toDF("id"),
      dropA.union(dropB).union(dropC)))))
    val nDirs = StateStore.committed(spark, state).size
    assert(labels(GraphAlgos.ccIncremental(dropA, state)) == afterC)
    assert(StateStore.committed(spark, state).size == nDirs)

    // pre-bloom (r11-format) migration: strip the state down to plain
    // unpartitioned (src,dst) edges with no bloom tables — the next
    // ingest must fail with the migration hint, and the resize compact
    // must rebuild a working ledger from it
    val state2 = java.nio.file.Files
      .createTempDirectory("graft-ccmigrate").toString
    GraphAlgos.ccIncremental(dropA, state2).count()
    GraphAlgos.ccIncremental(dropB, state2).count()
    StateStore.committed(spark, state2).foreach { d =>
      val plain = spark.read.parquet(s"$d/ids")
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      StateStore.delete(s"$d/ids")
      StateStore.delete(s"$d/idbloom")
      plain.toDF("src", "dst").write.parquet(s"$d/edges")
    }
    val e = intercept[IllegalArgumentException] {
      GraphAlgos.ccIncremental(dropC, state2)
    }
    assert(e.getMessage.contains("pre-ledger state"), e.getMessage)
    GraphAlgos.ccCompact(spark, state2, buckets = 8,
      bloomBits = 1 << 16)
    val afterC2 = labels(GraphAlgos.ccIncremental(dropC, state2))
    assert(afterC2 == afterC)
  }

  test("ccCompact resize migrates the pre-IdLedger edges/bloom layout") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val state = java.nio.file.Files
      .createTempDirectory("graft-ccoldlayout").toString
    val dropA = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("src", "dst")
    val dropB = Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
    val dropC = Seq((21L, 1L), (40L, 41L)).toDF("src", "dst")
    GraphAlgos.ccIncremental(dropA, state).count()
    GraphAlgos.ccIncremental(dropB, state).count()
    // rewrite every dir to the layout cc's own ledger used before it
    // moved onto IdLedger: `edges(src, dst, __h)` partitioned by
    // `__bk`, plus a one-row `bloom` table
    StateStore.committed(spark, state).foreach { d =>
      val e = spark.read.parquet(s"$d/ids").select("src", "dst")
        .as[(Long, Long)].collect().toSeq
      val b = spark.read.parquet(s"$d/idbloom")
        .select("__bloom", "buckets", "bloom_bits")
        .as[(Array[Byte], Int, Int)].collect().toSeq
      StateStore.delete(s"$d/ids")
      StateStore.delete(s"$d/idbloom")
      e.toDF("src", "dst")
        .withColumn("__h", xxhash64(col("src"), col("dst")))
        .withColumn("__bk", pmod(col("__h"), lit(64L)).cast("int"))
        .write.partitionBy("__bk").parquet(s"$d/edges")
      b.toDF("__bloom", "buckets", "bloom_bits").write.parquet(s"$d/bloom")
    }
    val e = intercept[IllegalArgumentException] {
      GraphAlgos.ccIncremental(dropC, state)
    }
    assert(e.getMessage.contains("pre-ledger state"), e.getMessage)
    GraphAlgos.ccCompact(spark, state, buckets = 8, bloomBits = 1 << 16)
    val dirs = StateStore.committed(spark, state)
    assert(dirs.size == 1, dirs.toString)
    val tables = new java.io.File(dirs.head.stripPrefix("file:"))
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(tables == Set("ids", "idbloom", "labels"), tables.toString)
    val afterC = labels(GraphAlgos.ccIncremental(dropC, state))
    assert(afterC == labels(GraphAlgos.connectedComponents(GraphStore(
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 40L, 41L).toDF("id"),
      dropA.union(dropB).union(dropC)))))
    val nDirs = StateStore.committed(spark, state).size
    assert(labels(GraphAlgos.ccIncremental(dropA, state)) == afterC)
    assert(StateStore.committed(spark, state).size == nDirs)
  }

  test("ccCompact crash mid-swap: recovery yields a whole two-table root") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val dropA = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("src", "dst")
    val dropB = Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
    val dropC = Seq((21L, 40L)).toDF("src", "dst")
    // rootA = the state that will "crash"; rootB = a clone whose real
    // ccCompact produces the exact staged bytes a crashed rootA
    // compaction would have left under .compact_tmp
    val rootA = Files.createTempDirectory("graft-ccc-a").toString
    GraphAlgos.ccIncremental(dropA, rootA).count()
    val preLast = labels(GraphAlgos.ccIncremental(dropB, rootA))
    val rootB = Files.createTempDirectory("graft-ccc-b").toString + "/s"
    copyTree(Paths.get(rootA), Paths.get(rootB))
    GraphAlgos.ccCompact(spark, rootB)
    // crash point: stage complete, marker written, ONE old dir already
    // deleted, swap not yet done — the worst half-swapped shape
    copyTree(Paths.get(s"$rootB/inc_0"),
      Paths.get(s"$rootA/.compact_tmp"))
    Files.write(Paths.get(s"$rootA/.compact_tmp/COMPACT_TOKEN"),
      "cc-tok".getBytes("UTF-8"))
    Files.deleteIfExists(
      Paths.get(s"$rootA/.compact_tmp/.COMPACT_TOKEN.crc"))
    Files.write(Paths.get(s"$rootA/COMPACTING"), "cc-tok".getBytes("UTF-8"))
    StateStore.delete(s"$rootA/inc_1")
    // recovery rides committed(): one whole dir, labels = pre-compact
    // LAST table, edge ledger keeps its bucket layout
    val dirs = StateStore.committed(spark, rootA)
    assert(dirs.size == 1 && dirs.head.endsWith("inc_0"), dirs.toString)
    assert(labels(spark.read.parquet(dirs.head + "/labels")) == preLast)
    assert(!Files.exists(Paths.get(s"$rootA/COMPACTING")))
    // the recovered state ingests correctly: == one-shot over all drops
    val afterC = labels(GraphAlgos.ccIncremental(dropC, rootA))
    assert(afterC == labels(GraphAlgos.connectedComponents(GraphStore(
      Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 40L).toDF("id"),
      dropA.union(dropB).union(dropC)))))
  }

  test("scc: hand-checked graph with cycles, a bridge, and sources") {
    import spark.implicits._
    // 3-cycle {1,2,3} -> 2-cycle {4,5}; 6 feeds the first cycle;
    // 5 -> 7 dangles. Expected SCCs: {1,2,3}, {4,5}, {6}, {7}.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (6L, 1L), (5L, 7L)).toDF("src", "dst")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L)
    // distributed floods (seqThreshold=0) and the sequential tail
    // (default threshold swallows a 7-vertex graph) must both get it
    assert(sccMap(GraphAlgos.stronglyConnectedComponents(
      e, seqThreshold = 0)) == expect)
    assert(sccMap(GraphAlgos.stronglyConnectedComponents(e)) == expect)
  }

  test("scc equals a driver-side Kosaraju replica on a seeded graph") {
    import spark.implicits._
    // deterministic pseudo-random digraph: 40 vertices, 90 edges
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(90)((rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong)).distinct.filter(p => p._1 != p._2)
    val out = sccMap(GraphAlgos.stronglyConnectedComponents(
      edges.toDF("src", "dst"), maxOuter = 40, maxFlood = 128,
      seqThreshold = 0))
    // Kosaraju: order by first-DFS finish time, assign on the reverse
    val vs = edges.flatMap(p => Seq(p._1, p._2)).distinct
    val fwd = edges.groupMap(_._1)(_._2)
      .view.mapValues(_.toList).toMap.withDefaultValue(Nil)
    val rev = edges.groupMap(_._2)(_._1)
      .view.mapValues(_.toList).toMap.withDefaultValue(Nil)
    var seen = Set.empty[Long]
    var order = List.empty[Long]
    def dfs1(v: Long): Unit = if (!seen(v)) {
      seen += v; fwd(v).foreach(dfs1); order ::= v
    }
    vs.sorted.foreach(dfs1)
    var label = Map.empty[Long, Long]
    def dfs2(v: Long, root: Long): Unit = if (!label.contains(v)) {
      label += v -> root; rev(v).foreach(dfs2(_, root))
    }
    order.foreach(v => if (!label.contains(v)) dfs2(v, v))
    // canonicalize the replica to min-member ids
    val canon = label.groupMapReduce(_._2)(_._1)(math.min)
    val expect = label.view.mapValues(canon).toMap
    assert(out == expect)
  }

  test("scc peel boundary: the 3-cycle chain needs exactly 3 passes") {
    import spark.implicits._
    // X {31,32,33} -> Y {21,22,23} -> Z {11,12,13}: the forward flood
    // paints everything with X's max, so each pass strips one cycle
    val e = Seq((31L, 32L), (32L, 33L), (33L, 31L),
      (21L, 22L), (22L, 23L), (23L, 21L),
      (11L, 12L), (12L, 13L), (13L, 11L),
      (33L, 21L), (23L, 11L)).toDF("src", "dst")
    intercept[IllegalStateException] {
      GraphAlgos.stronglyConnectedComponents(e, maxOuter = 2,
        seqThreshold = 0)
    }
    val out = sccMap(GraphAlgos.stronglyConnectedComponents(
      e, maxOuter = 3, seqThreshold = 0))
    assert(out == Map(31L -> 31L, 32L -> 31L, 33L -> 31L,
      21L -> 21L, 22L -> 21L, 23L -> 21L,
      11L -> 11L, 12L -> 11L, 13L -> 11L))
  }

  test("scc flood boundary: a 10-cycle certifies at its diameter") {
    import spark.implicits._
    val e = (0 until 10).map(i => (i.toLong, ((i + 1) % 10).toLong))
      .toDF("src", "dst")
    // the 9-hop cycle floods in 9 changing rounds + 1 quiet round to
    // certify; a cap of 5 exhausts mid-change and must throw...
    intercept[IllegalStateException] {
      GraphAlgos.stronglyConnectedComponents(e, maxFlood = 5,
        seqThreshold = 0)
    }
    // ...and 16 (two 8-round small-mode blocks: rounds 1-9 change,
    // 10-16 quiet) certifies both the forward coloring and the
    // backward reach flood
    val out = sccMap(GraphAlgos.stronglyConnectedComponents(
      e, maxFlood = 16, seqThreshold = 0))
    assert(out.keySet == (0L until 10L).toSet && out.values.toSet == Set(0L))
  }

  test("scc: sequential tail equals the distributed labeling") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong)).distinct.filter(p => p._1 != p._2)
      .toDF("src", "dst")
    val dist = sccMap(GraphAlgos.stronglyConnectedComponents(
      edges, maxOuter = 50, maxFlood = 128, seqThreshold = 0))
    val seq = sccMap(GraphAlgos.stronglyConnectedComponents(
      edges, seqThreshold = 10000))
    assert(seq == dist)
  }

  test("scc: self-loops are singleton SCCs, isolated from the rest") {
    import spark.implicits._
    val e = Seq((1L, 1L), (2L, 3L)).toDF("src", "dst")
    val out = sccMap(GraphAlgos.stronglyConnectedComponents(e))
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("successorRings: chained bottom-k neighbors, self-loop, merge") {
    import spark.implicits._
    // hub 100: orders 5,3,9,7 -> bottom-3 {3,5,7} ring 3->5->7->3
    // hub 200: single order 9 -> self-loop
    // hub 300: orders 7,8 -> 7->8->7 (shares 7 with hub 100's ring)
    val edges = Seq((5L, 100L), (3L, 100L), (9L, 100L), (7L, 100L),
      (9L, 200L), (7L, 300L), (8L, 300L))
      .map { case (o, h) => (o, h, "contains") }
      .toDF("src", "dst", "label")
    val verts = Seq(1L).toDF("id")
    val rings = GraphAlgos.successorRings(
      GraphStore(verts, edges), "contains", ringLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rings == Set((3L, 5L), (5L, 7L), (7L, 3L), (9L, 9L),
      (7L, 8L), (8L, 7L)))
    // the planted-fixture theorem the graph_scc oracle rides on: the
    // shared vertex merges both rings into ONE strongly connected set
    val scc = sccMap(GraphAlgos.stronglyConnectedComponents(
      GraphStore(verts, edges).edges.sparkSession
        .createDataFrame(rings.toSeq).toDF("src", "dst")))
    assert(scc == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 8L -> 3L, 9L -> 9L))
  }
}
