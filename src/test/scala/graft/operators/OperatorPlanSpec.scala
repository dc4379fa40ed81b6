package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Physical-plan shape guards for the round-6 pipeline operators — the
 * same policy as gremlin's PlanSpec: the properties that keep these
 * viable at 100 TB are plan properties (partial aggregation, equi-join
 * candidates, bounded exchanges), invisible to result-equality gates.
 */
class OperatorPlanSpec extends SparkSpec {

  private lazy val docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dedupTokenBlocks: partial-agg first occurrence, no cartesian") {
    val p = plan(DedupOps.dedupTokenBlocks(docs, blockSize = 4))
    // the winner-per-segment min(struct) must combine map-side — a hot
    // boilerplate paragraph then collapses per map task, not per key
    assert(p.contains("partial_min"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("bigramFit: map-side partial counts, equi-joins only") {
    val p = plan(graft.operators.TextOps.bigramFit(docs))
    assert(p.contains("partial_count"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("shardShuffle: one narrow projection + one window exchange") {
    val df = CurationOps.shardShuffle(docs, nShards = 8)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(1200))
    // a single hash exchange (the per-shard window); no global sort
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"$exchanges exchanges:\n${p.take(1200)}")
  }

  test("typeDowCube: one expand, one partial-agg shuffle") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.streaming.EventStreamOps.typeDowCube(ev))
    // all four grouping-set levels ride ONE expand + ONE aggregation
    // shuffle — never a union of four scans
    assert(p.contains("Expand"), p.take(1200))
    assert(p.contains("partial_count"), p.take(1200))
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"$exchanges exchanges:\n${p.take(1200)}")
  }

  test("dailyTypePivot: single conditional aggregate, no per-type scans") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val df = graft.streaming.EventStreamOps.dailyTypePivot(ev)
    val p = plan(df)
    // explicit pivot values: the fact table is reduced by a partial-
    // aggregable (day, type) pass FIRST; pivotfirst then shuffles only
    // day x type rows — two exchanges, both post-combine, no per-type
    // scan union
    assert(p.contains("partial_count"), p.take(1200))
    assert(p.contains("partial_pivotfirst"), p.take(1200))
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"$exchanges exchanges:\n${p.take(1200)}")
    assert(!p.contains("Union"), p.take(1200))
  }

  test("commonNeighbors salt cells join as equi-join on (src, chunks)") {
    val g = graft.sources.GraphStore.tpch(spark, "/root/testdata/sf0.001")
    val p = plan(GraphAlgos.commonNeighbors(g, "contains", k = 20))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("__ci") && p.contains("__cj"),
      "salt columns must be join keys")
  }

  test("compressionRatio plans with no shuffle") {
    val p = plan(TextOps.compressionRatio(docs))
    assert(!p.contains("Exchange"), p.take(1200))
  }

  test("exactIncremental: merged partials combine map-side, equi-joins only") {
    val state = s"/tmp/graft_plan_state_${ProcessHandle.current().pid()}_ex"
    StateStore.delete(state)
    val merged = DedupOps.exactIncremental(docs, state)
    val p = plan(merged)
    // the cross-increment merge is a partial-aggregable min/sum — per-
    // increment partials combine map-side before the text-key shuffle
    assert(p.contains("partial_min") && p.contains("partial_sum"),
      p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    StateStore.delete(state)
  }

  test("minhashLshIncremental: bucket self-join + verify are equi-joins") {
    val state = s"/tmp/graft_plan_state_${ProcessHandle.current().pid()}_mh"
    StateStore.delete(state)
    DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 10 =!= 0), state).count() // archive
    val pairs = DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 10 === 0), state) // increment
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the archive posting scan must be probed by a BROADCAST semi-join
    // on the increment's bucket keys — never fully shuffled per
    // increment (the increment-sized side is the build side)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(1600))
    StateStore.delete(state)
  }

  test("triangleCounts: equi-joins only, salted wedge keys") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val p = plan(GraphAlgos.triangleCounts(pairs))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("__ci") && p.contains("__cj"),
      "wedge join must run on the salt-chunk keys")
    // closing probe is a semi join — never materializes non-triangles
    assert(p.contains("LeftSemi"), p.take(1500))
  }

  test("mixSources: broadcast weight table, no shuffle") {
    val p = plan(CurationOps.mixSources(docs, Map("src0" -> 2.5)))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")),
      "weighted mixing must stay a narrow map:\n" + p.take(1200))
  }

  test("contaminationSpans: heldout side broadcast, partial agg") {
    val heldout = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val p = plan(CurationOps.contaminationSpans(corpus, heldout))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // covered-position count combines map-side before the per-doc shuffle
    assert(p.contains("partial_count"), p.take(1500))
  }

  test("scoreQuality: model broadcast, per-doc partial agg") {
    val weights = CurationOps.fitQualityWeights(
      docs.withColumn("pos", length(col("text")) >= 500), "pos")
    val p = plan(CurationOps.scoreQuality(docs, weights))
    // the vocab-bounded weight table must ship to the corpus, never
    // the reverse, and the doc score must combine map-side
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("tokenizeWithVocab: vocab broadcast, per-doc partial agg") {
    val p = plan(TextOps.tokenizeWithVocab(docs, vocabSize = 50))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("personalizedPageRankPower: equi-joins only, no global sort") {
    val g = graft.sources.GraphStore.tpch(spark, "/root/testdata/sf0.001")
    val p = plan(GraphAlgos.personalizedPageRankPower(g, 1L, iters = 3))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // SMJ's per-partition sorts print ", false, 0" — only a GLOBAL
    // sort (", true, 0") would be a scale bug here
    assert(!p.contains("], true, 0"), "rank iteration must not global-sort")
    // the fixed-point gate face keeps the identical shape
    val q = plan(GraphAlgos.personalizedPageRankFixedPoint(g, 1L, iters = 3))
    assert(!q.contains("CartesianProduct") &&
      !q.contains("BroadcastNestedLoopJoin"), q.take(1500))
    assert(!q.contains("], true, 0"), "rank iteration must not global-sort")
  }

  test("pqTopK: LUT folds via broadcast equi-join + partial sum") {
    val books = Array.tabulate(8, 4, 8)((_, c, d) => (c * 8 + d).toDouble)
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(SimilarityOps.pqTopK(
      embs.filter(col("vec_id") < 5), embs, books, k = 3))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("partial_sum"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  // ---------------- round-8 operators ----------------

  test("dedupSuffix/repeatedSpans: partial window counts, no cartesian") {
    val p = plan(DedupOps.dedupSuffix(docs, minTokens = 8))
    // corpus-wide window-key counts must combine map-side (a hot
    // boilerplate window collapses per map task before the shuffle)
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    val q = plan(DedupOps.repeatedSpans(docs, minTokens = 8))
    assert(q.contains("partial_count"), q.take(1500))
    assert(!q.contains("CartesianProduct") &&
      !q.contains("BroadcastNestedLoopJoin"), q.take(1500))
  }

  test("domainQuota: partial-aggregable top-cap, no hot-key window sort") {
    val p = plan(CurationOps.domainQuota(docs, cap = 5,
      blocklist = Seq("x.com")))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(1200))
    // the cut must combine map-side (bounded buffer per domain per
    // task) — a mega-domain then collapses per map task, never through
    // one task's full-partition sort
    assert(p.contains("partial_graft_bounded_min_ids"), p.take(1500))
    assert(!p.contains("Window"), "no row_number window:\n" + p.take(1500))
    val exchanges =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"$exchanges exchanges:\n${p.take(1200)}")
  }

  test("quotaSample: partial top-cap + semi-join, no window sort") {
    val p = plan(CurationOps.quotaSample(docs, n = 5))
    assert(p.contains("partial_graft_bounded_min_ids"), p.take(1500))
    assert(!p.contains("Window"), "no row_number window:\n" + p.take(1500))
    assert(p.contains("LeftSemi"), p.take(1500))
  }

  test("successorRings: bounded per-hub top-k, no window sort") {
    val g = graft.sources.GraphStore.tpch(spark, "/root/testdata/sf0.001")
    val p = plan(GraphAlgos.successorRings(
      graft.sources.GraphStore(g.vertices,
        g.edges.filter(col("dst") % 20 === 0)), "contains", ringLen = 6))
    // neighbor selection must combine map-side with a constant-size
    // buffer — a hot hub must never sort its full neighbor list
    assert(p.contains("partial_graft_bounded_min_ids"), p.take(1500))
    assert(!p.contains("Window"), "no per-hub window sort:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // the graph derivation's own edge distinct + the bounded agg + the
    // output distinct — nothing else shuffles (no per-pair dedup: the
    // agg's sorted-set buffer absorbs duplicates)
    val exchanges =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"$exchanges exchanges:\n${p.take(2500)}")
  }

  test("scc rounds: pre-partitioned edge faces never re-exchange") {
    import spark.implicits._
    val e = (1L to 300L).map(i => (i, i % 37 + 1)).toDF("src", "dst")
      .filter(col("src") =!= col("dst"))
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct()
    val reSelf = e.select(col("src"), col("dst"), lit(false).as("__self"))
      .union(verts.select(col("id"), col("id"), lit(true)))
      .repartition(col("src")).localCheckpoint()
    val reD = e.repartition(col("dst")).localCheckpoint()
    val color = verts
      .select(col("id"), col("id").as("color")).localCheckpoint()
    // large-mode round: the color side and the message agg may shuffle
    // (3 exchanges); a 4th would mean reSelf lost its partitioning
    val pf = plan(GraphAlgos.sccForwardRound(reSelf, color))
    assert(!pf.contains("CartesianProduct") &&
      !pf.contains("BroadcastNestedLoopJoin"), pf.take(1500))
    val fx = pf.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(fx <= 3, s"$fx exchanges (edge face re-exchanged?):\n" +
      pf.take(3000))
    // small-mode round: the bounded face broadcasts, so the ONLY
    // exchange is the message aggregation — one stage per round
    val ps = plan(GraphAlgos.sccForwardRound(broadcast(reSelf), color))
    assert(ps.contains("BroadcastHashJoin"), ps.take(1500))
    val sx = ps.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(sx <= 1, s"$sx exchanges (broadcast round must cost one):\n" +
      ps.take(3000))
    // backward round: frontier-delta join + distinct + semi/anti color
    // checks shuffle; the reD face must not add one on top
    val vc = color.select(col("id").as("__vid"), col("color").as("__vc"))
      .localCheckpoint()
    val mark = color.filter(col("id") === col("color")).localCheckpoint()
    val pb = plan(GraphAlgos.sccBackwardRound(reD, mark, vc, mark))
    assert(!pb.contains("CartesianProduct") &&
      !pb.contains("BroadcastNestedLoopJoin"), pb.take(1500))
    val bx = pb.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(bx <= 5, s"$bx exchanges (edge face re-exchanged?):\n" +
      pb.take(3000))
  }

  test("preferencePairs: one partial-agg pass, no per-group window") {
    val p = plan(CurationOps.preferencePairs(docs, col("source"),
      length(col("text"))))
    assert(p.contains("partial_min"), p.take(1200))
    assert(!p.contains("Window"), "no per-group sort:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("temperatureMix: broadcast rate join, no corpus-side sort") {
    val p = plan(CurationOps.temperatureMix(docs, budget = 100))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      p.take(1500))
  }

  test("labelPropagationSync: no per-round exchange on the edge side") {
    import spark.implicits._
    val pairs = (1L to 400L).flatMap(i => Seq((i, i % 97 + 1000L)))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val p = plan(GraphAlgos.labelPropagationSync(pairs, rounds = 2))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // the checkpointed edge list is pre-partitioned on the join key;
    // a round's plan (the part after the last checkpoint) must not
    // re-exchange it — at most the two vote-aggregation exchanges
    val exchanges =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"$exchanges exchanges:\n${p.take(2000)}")
  }

  test("pqRerank: rerank kernel runs on an equi-joined candidate set") {
    val books = Array.tabulate(8, 4, 8)((_, c, d) => (c * 8 + d).toDouble)
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(SimilarityOps.pqRerank(
      embs.filter(col("vec_id") < 5), embs, books, k = 3, shortlist = 10))
    // the full-vector cosine must ride joins keyed on candidate ids —
    // never a corpus-wide nested loop
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("retentionCohorts: partial aggregation, no user-history window") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.streaming.EventStreamOps.retentionCohorts(ev))
    // first-event is a map-side partial min; no window over a user's
    // events (a hot user must combine map-side, not sort in one task)
    assert(p.contains("partial_min"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("collocations: vocab-bounded counts, broadcast totals, top-k") {
    val p = plan(TextOps.collocations(docs, minCount = 2, topK = 10))
    assert(p.contains("partial_count"), p.take(1500))
    // the 1-row totals frame rides a broadcast nested-loop cross join
    // by construction (it is literally one row); the COUNT joins must
    // be hash equi-joins and the top-k must not global-sort
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("anomalies: 3-int64 moments broadcast back, partial agg") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.streaming.EventStreamOps.anomalies(ev))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("editDistancePairs: segment-key equi-joins, no nested loop") {
    import spark.implicits._
    val df = Seq((1L, "kitten"), (2L, "sitten"), (3L, "flour"))
      .toDF("id", "str")
    val p = plan(DedupOps.editDistancePairs(df, maxDist = 1))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("labelCentroids: labels×dim-bounded partial aggregation") {
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(SimilarityOps.labelCentroids(embs))
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"), p.take(1500))
  }

  test("associationRules/neighborhoodJaccard: equi-joins + top-k heaps") {
    val g = graft.sources.GraphStore.tpch(spark, "/root/testdata/sf0.001")
    for (df <- Seq(GraphAlgos.associationRules(g, "contains", k = 20),
      GraphAlgos.neighborhoodJaccard(g, "contains", k = 20))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      // the k cut is per-partition heaps, never a global sort
      assert(p.contains("TakeOrderedAndProject"), p.take(1500))
      assert(p.contains("partial_count"), p.take(1500))
    }
  }

  test("gapFill: per-bucket last observation is a partial max(struct)") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.streaming.EventStreamOps.gapFill(ev))
    // a hot bucket combines map-side; the only window is LOCF over
    // grid rows
    assert(p.contains("partial_max"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("exactQuantiles: cumulative scan over compressed values only") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val df = graft.streaming.EventStreamOps.exactQuantiles(ev)
    val p = plan(df)
    // raw events collapse to per-(type, cents) partial counts BEFORE
    // any window touches them — the window's input is the value domain
    assert(p.contains("partial_count"), p.take(1500))
    // the per-mille points ride a broadcast (3-row model table)
    assert(p.contains("BroadcastExchange"), p.take(1500))
  }

  test("weightedSample: partial max ticket + top-n heaps, no window") {
    val p = plan(CurationOps.weightedSample(docs, n = 20,
      weight = expr("1 + least(n_chars div 400, 7)")))
    assert(p.contains("partial_max"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("invertedIndex: bounded posting head, no per-token collect") {
    val p = plan(TextOps.invertedIndex(docs))
    // BoundedMinIds is an ObjectHashAggregate with a partial pass —
    // a stopword's posting list never assembles anywhere
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("collect_list") && !p.contains("Window"),
      p.take(1500))
  }

  test("ANN top-k cut: partial-aggregable BoundedMinPairs, no window") {
    // r10 verdict #2: every per-query rank in SimilarityOps must ride
    // the bounded aggregate — a row_number window would drag each
    // query's full candidate set (the whole corpus, for exact faces)
    // through one task's sort
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = embs.filter(col("vec_id") < 3)
    val bhState = java.nio.file.Files
      .createTempDirectory("graft-bhplan").toString
    for ((name, df) <- Seq(
        "bruteForceTopK" -> SimilarityOps.bruteForceTopK(queries, embs, k = 5),
        "lshTopK" -> SimilarityOps.lshTopK(queries, embs, k = 5),
        "maxSimTopK" -> SimilarityOps.maxSimTopK(queries, embs, k = 5),
        "binaryHammingIncremental" -> SimilarityOps
          .binaryHammingIncremental(queries, embs, bhState, k = 5))) {
      val p = plan(df)
      assert(p.contains("partial_graft_bounded_min_pairs"),
        s"$name:\n" + p.take(1500))
      assert(!p.contains("Window"),
        s"$name still has a window sort:\n" + p.take(1500))
    }
  }

  test("knnGraph: exact face broadcasts; LSH face equi-joins buckets") {
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the candidate stage carries the scale properties (the operator's
    // lazy checkpoints hide it behind Scan ExistingRDD downstream)
    val pe = plan(SimilarityOps.knnCandidates(embs, nBits = 0,
      nTables = 4, dim = 64, idCol = "vec_id", vecCol = "embedding"))
    assert(pe.contains("BroadcastExchange"), pe.take(1500))
    val pl = plan(SimilarityOps.knnCandidates(embs, nBits = 4,
      nTables = 4, dim = 64, idCol = "vec_id", vecCol = "embedding"))
    assert(!pl.contains("CartesianProduct") &&
      !pl.contains("BroadcastNestedLoopJoin"), pl.take(1500))
    assert(pl.contains("__bucket"), "bucket id must be the join key")
    // the mutual-flag self-join in the full operator is an equi-join
    val pm = plan(SimilarityOps.knnGraph(embs, k = 3))
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("BroadcastNestedLoopJoin"), pm.take(1500))
  }

  test("prototypeOutliers: broadcast centroid model, no window") {
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = plan(SimilarityOps.prototypeOutliers(embs))
    // labels·dim partials for the centroid, labels-sized broadcast
    // model joined back, verdict in a narrow filter
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("intervalJoin: bucket EQUI-join, never a nested-loop theta join") {
    import spark.implicits._
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val periods = Seq((1L, 1704067200L, 1704153600L))
      .toDF("period_id", "s", "e")
      .select(col("period_id"), timestamp_seconds(col("s")).as("start_ts"),
        timestamp_seconds(col("e")).as("end_ts"))
    val p = plan(graft.streaming.EventStreamOps.intervalJoin(ev, periods))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("__bucket"), "bucket id must be the join key")
  }

  test("sessionPaths: bounded path head + top-k heaps") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.streaming.EventStreamOps.sessionPaths(ev))
    // the path head is the bounded aggregate, never collect_list
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(!p.contains("collect_list"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("kmvDistinct: one bounded ObjectHashAggregate pass, no window") {
    val p = plan(CurationOps.kmvDistinct(docs))
    // the bottom-k TreeSet is the whole state: constant per (task, key)
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("Window") && !p.contains("Join"), p.take(1500))
    // exactly one exchange: the group-by — never a (group, value)
    // distinct pre-shuffle (that's the shuffle KMV exists to avoid)
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"$exchanges exchanges:\n${p.take(1500)}")
    assert(!p.contains("hashpartitioning(source#") ||
      !p.contains("text#") ||
      !p.linesIterator.exists(l => l.contains("Exchange") &&
        l.contains("text#")), p.take(1500))
  }

  test("containmentPairs: salted equi-joins only, partial df counts") {
    val p = plan(DedupOps.containmentPairs(docs.limit(200)))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("__c"), "container chunk id must be a join key")
  }

  test("interArrival: bucket-scoped windows, partial bucket merge") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.streaming.EventStreamOps.interArrival(ev))
    // both windows key on __b: the raw-event window is (user, bucket)-
    // scoped and the chain window reads bucket SUMMARY rows — no
    // window anywhere partitions by the bare user over raw events
    assert(p.contains("partial_count") && p.contains("partial_min"),
      p.take(1500))
    val rawUserWindows = p.linesIterator.count(l =>
      l.contains("windowspecdefinition(user_id#") && !l.contains("__b"))
    assert(rawUserWindows == 0,
      s"user-history window found:\n${p.take(1500)}")
  }

  test("activeUsers: partial distincts, no window, 1-row bounds bcast") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val p = plan(graft.streaming.EventStreamOps.activeUsers(ev))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      p.take(1500))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      p.take(1500))
  }

  test("bloomFilteredJoin: bloom cut below an equi-join") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val hi = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_totalprice") > 350000.0).select(col("o_orderkey"))
    val p = plan(JoinOps.bloomFilteredJoin(li, hi,
      "l_orderkey", "o_orderkey"))
    assert(p.contains("bloomcontains"), p.take(1500))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("readDay: partition filter prunes to one day's directory") {
    val ev = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-daypart").toString + "/t"
    graft.sources.Layout.datePartitionedWrite(ev, dir)
    val day = graft.sources.Layout.readDay(spark, dir, "2024-01-02")
    val p = plan(day)
    assert(p.contains("PartitionFilters") && p.contains("2024-01-02"),
      p.take(1500))
    // only the one day's directory is touched
    val files = day.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("day=2024-01-02")),
      files.mkString(", "))
    // content equality with a filter over the raw table
    assert(day.count() ==
      ev.filter(to_date(col("ts")) === "2024-01-02").count())
  }

  test("bucketedJoin: both sides pre-distributed, zero exchanges") {
    val ev0 = graft.streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.001/events.parquet")
    val ev = ev0.select(col("user_id"),
      floor(col("value") * 100).cast("long").as("cents"))
    val users = ev0.select(col("user_id")).distinct()
      .withColumn("tier", (col("user_id") % 5).cast("int"))
    val j = graft.sources.Layout.bucketedJoin(ev, users, "user_id",
      buckets = 8, prefix = "gtestbk")
    val p = plan(j)
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"),
      p.take(1500))
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")),
      s"join shuffled despite buckets:\n${p.take(1500)}")
    assert(j.count() ==
      ev.join(users, Seq("user_id")).count())
  }

  test("prunedRead: residual zval filter reaches the parquet scan") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-zplan").toString
    graft.sources.Layout.zorderWrite(docs, dir,
      xCol = length(col("text")), yCol = col("doc_id") % 65536)
    val stats = graft.sources.Layout.fileStats(spark, dir)
      .localCheckpoint()
    val p = plan(graft.sources.Layout.prunedRead(spark, dir, stats,
      0L, 1L << 20))
    assert(p.contains("PushedFilters") && p.contains("zval"),
      p.take(1500))
  }

  test("ccIncremental ledger: exact-verify prunes to touched buckets") {
    import spark.implicits._
    val state = java.nio.file.Files
      .createTempDirectory("graft-ccledger").toString
    GraphAlgos.ccIncremental(
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("src", "dst"), state)
    GraphAlgos.ccIncremental(
      Seq((9L, 10L), (11L, 12L)).toDF("src", "dst"), state)
    val prior = StateStore.committed(spark, state)
    // the bucket of canonical edge (1,2) — same arithmetic as ingest
    val bk = spark.range(1).select(
      pmod(xxhash64(lit(1L), lit(2L)),
        lit(IdLedger.Buckets.toLong)).cast("int"))
      .collect()(0).getInt(0)
    val led = IdLedger.archiveIds(spark, prior, Seq(bk), Seq("src", "dst"))
    // plan guard: pruning is PATH-level — the scan's root paths are
    // exactly the touched bucket directories, so an ingest's
    // exact-verify never opens (or lists) untouched bucket dirs
    val p = plan(led)
    assert(p.contains(s"__ib=$bk"), p.take(1500))
    assert(!"__ib=\\d+".r.findAllIn(p).exists(_ != s"__ib=$bk"),
      p.take(1500))
    // behavioral: only that bucket's directories are ever touched
    val files = led.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains(s"__ib=$bk")),
      files.mkString(", "))
    assert(led.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("IdLedger: ANN ingest exact-verify prunes to touched id buckets") {
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val state = java.nio.file.Files
      .createTempDirectory("graft-idledger").toString
    SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") % 2 === 0), state).count()
    SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") % 2 === 1), state).count()
    val prior = StateStore.committed(spark, state)
    // the bucket of id 0 — same arithmetic as ingest
    val ib = spark.range(1).select(
      pmod(xxhash64(lit(0L)), lit(IdLedger.Buckets.toLong)).cast("int"))
      .collect()(0).getInt(0)
    val led = IdLedger.archiveIds(spark, prior, Seq(ib))
    // plan guard: pruning is PATH-level — the scan's root paths are
    // exactly the touched bucket directories, so an ingest's
    // exact-verify never opens (or lists) untouched id-bucket dirs
    val p = plan(led)
    assert(p.contains(s"__ib=$ib"), p.take(1500))
    assert(!"__ib=\\d+".r.findAllIn(p).exists(_ != s"__ib=$ib"),
      p.take(1500))
    val files = led.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains(s"__ib=$ib")),
      files.mkString(", "))
    assert(led.select("vec_id").collect().map(_.getLong(0))
      .contains(0L))
  }

  test("IdLedger: a fresh ANN drop ingests with zero archive-id I/O") {
    // behavioral proof (the ingest is eager, so no plan to inspect):
    // DELETE the committed dirs' `ids` tables — a fresh bloom-negative
    // drop must still ingest (it never builds the archive read), while
    // a re-presented drop must fail loudly reaching for them
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = embs.filter(col("vec_id") < 3)
    val state = java.nio.file.Files
      .createTempDirectory("graft-idfresh").toString
    val dropA = embs.filter(col("vec_id") < 200)
    SimilarityOps.binaryHammingIncremental(q, dropA, state, k = 5).count()
    StateStore.committed(spark, state)
      .foreach(d => StateStore.delete(s"$d/ids"))
    val dropB = embs.filter(col("vec_id") >= 200 && col("vec_id") < 400)
    SimilarityOps.binaryHammingIncremental(q, dropB, state, k = 5).count()
    assert(StateStore.committed(spark, state).size == 2)
    intercept[Exception] {
      SimilarityOps.binaryHammingIncremental(q, dropA, state,
        k = 5).count()
    }
  }

  test("corpusDiff: digest-only full-outer equi-join") {
    val p = plan(CurationOps.corpusDiff(
      docs.filter(col("doc_id") % 2 === 0), docs))
    assert(p.contains("FullOuter"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // the shuffle carries digests, not documents
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("text#")), p.take(1500))
  }
}
