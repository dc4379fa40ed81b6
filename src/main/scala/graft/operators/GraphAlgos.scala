package graft.operators

import org.apache.spark.graphx.{Edge, Graph => XGraph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.GraphStore

/**
 * Iterative graph algorithms over a [[GraphStore]] via GraphX/Pregel.
 *
 * The reference's `repeat()` step is degenerate (executes its body
 * exactly once, `expert/repeat_expert.hpp:12-46`); real iterative
 * traversal — reachability, components, centrality — is exactly what
 * Spark's Pregel API exists for, so these are exposed as first-class
 * operators instead of bolting loops onto the step compiler. RDD usage
 * is confined to this module (GraphX is an RDD API); inputs and outputs
 * are DataFrames.
 */
object GraphAlgos {

  private def toGraphX(g: GraphStore): XGraph[Unit, Unit] = {
    val vs = g.vertices.select(col("id")).rdd.map(r => (r.getLong(0), ()))
    val es = g.edges.select(col("src"), col("dst")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    // iterative algorithms re-read the graph every superstep — without
    // caching, each iteration re-runs the DataFrame scans
    XGraph(vs, es).cache()
  }

  /** Materialise `df` (eager localCheckpoint truncates its lineage off
    * the RDD graph), then drop every GraphX cache the call created, so
    * repeated calls in one session keep storage memory flat instead of
    * accumulating cached EdgeRDD/VertexRDD pairs per call. Unpersisting
    * the graphs we hold handles to is not enough — Pregel's derived
    * intermediates (degree joins, replicated vertex views) stay
    * registered — so after the result is checkpointed off the RDD
    * lineage, every graphx-tagged cache is swept. This module owns all
    * GraphX usage in the library, making the sweep safe. */
  private def materializeAndFree(df: DataFrame,
                                 graphs: XGraph[_, _]*): DataFrame = {
    val out = df.localCheckpoint()
    graphs.foreach(_.unpersist(blocking = false))
    val sc = df.sparkSession.sparkContext
    sc.getPersistentRDDs.values.foreach { rdd =>
      val tag = rdd.toString + rdd.getClass.getName
      if (tag.contains("VertexRDD") || tag.contains("EdgeRDD") ||
          tag.contains("graphx"))
        rdd.unpersist(blocking = false)
    }
    out
  }

  /**
   * Directed-graph reciprocity: the per-mille fraction of directed
   * edges whose REVERSE edge also exists — the classic mutuality
   * statistic (social follows, citation exchanges, mutual links;
   * near-zero on hierarchy-shaped graphs). One distinct + one self
   * semi-join on the canonical edge set, pure int64 counts, a single
   * floor division (engine-exact). Self-loops are excluded (a loop is
   * trivially its own reverse). Output one row:
   * `(edges, reciprocal, reciprocity_pm)`.
   */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false) // self-joined: compute lineage once
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val tot = e.agg(count(lit(1)).as("edges"))
    val rec = e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("reciprocal"))
    tot.crossJoin(rec)
      .select(col("edges"), col("reciprocal"),
        expr("(1000 * reciprocal) div greatest(edges, 1)")
          .as("reciprocity_pm"))
  }

  /** Compact an [[ccIncremental]] state root: the [[IdLedger]] tables
    * union (both readers fold associatively — the anti-join probes the
    * union, blooms OR), but `labels` is a LAST-TABLE read
    * ([[ccIncremental]] reads only the newest labels), so the generic
    * union compaction would be wrong for it — this wrapper passes the
    * per-operator reader contract to [[StateStore.compact]]. */
  def ccCompact(spark: SparkSession, statePath: String): Unit =
    StateStore.compact(spark, statePath, lastTables = Set("labels"))

  /**
   * [[ccCompact]] with a LEDGER RESIZE: [[IdLedger.rebuilt]] rebuilds
   * the edge ledger's hash-bucket layout AND the per-state bloom at the
   * given sizing from the edges the compaction is already rewriting —
   * the rescue for a state whose archive outgrew its first-ingest
   * sizing, and the one-time migration for pre-ledger states (whose
   * edges sit in an `edges` table, with or without a `bloom` table).
   * Runs even on a single-dir state. The next ingest reads the NEW
   * sizing back from the rebuilt bloom rows (per-state sizing contract
   * unchanged).
   */
  def ccCompact(spark: SparkSession, statePath: String,
                buckets: Int, bloomBits: Int): Unit =
    StateStore.compactRewrite(spark, statePath,
        lastTables = Set("labels")) { m =>
      val edges = m.getOrElse("ids", m("edges"))._1
        .select(col("src"), col("dst"))
      IdLedger.rebuilt(m - "edges" - "bloom", edges, buckets, bloomBits)
    }

  /**
   * INCREMENTAL connected components over a [[StateStore]] edge
   * stream: each call ingests an edge drop and returns the labeling
   * of EVERY vertex seen so far, without re-reading old edge drops.
   * The state per increment holds the drop's (deduplicated,
   * canonically ordered) edges — the [[IdLedger]] keyed by
   * `(src, dst)` — and the post-ingest `labels` table. An ingest runs
   * CC over the previous labels rendered as STAR edges
   * (`component → member`) unioned with the new drop: contracting a
   * graph's components to stars preserves its connectivity relation
   * exactly, so `CC(stars(CC(A)) ∪ B) = CC(A ∪ B)` — and because
   * labels are canonical MIN ids and the old component id itself is a
   * star endpoint, the merged labels stay canonical min ids, equal to
   * a one-shot recompute over the union (spec-pinned, including a drop
   * that MERGES two previously separate components).
   *
   * Scale shape: the per-ingest graph is |V| star edges + |B| new
   * edges — label-sized, never the edge history (the property that
   * makes nightly graph ingests affordable when E ≫ V). The
   * idempotence ledger obeys the same bound: a fresh nightly drop is
   * bloom-negative and ingests without touching the edge history at
   * all; only re-presents and the bloom's FP tail exact-verify against
   * the bucket-pruned archive ([[IdLedger]]). Re-presented edges
   * short-circuit before committing (the
   * [[graft.operators.StateStore]] retry contract); the returned
   * DataFrame reads back the COMMITTED labels table, so later ingests
   * to the same path never change an earlier call's result.
   * Components cover edge-incident vertices (the operator sees only
   * edges); join a vertex table downstream for isolated singletons.
   * Output: `(id, component)`, component = min member id.
   */
  def ccIncremental(newEdges: DataFrame, statePath: String,
                    buckets: Int = IdLedger.Buckets,
                    bloomBits: Int = IdLedger.BloomBits): DataFrame = {
    val spark = newEdges.sparkSession
    val prior = StateStore.committed(spark, statePath)
    // ledger sizing is a PER-STATE property: the first ingest persists
    // it on the bloom rows and every later ingest reads it back (the
    // caller's parameters only size a NEW state) — size `buckets` and
    // `bloomBits` to the expected ARCHIVE edge count
    val (bloomOpt, bk, bb) = IdLedger.sizing(spark, prior, buckets,
      bloomBits)
    // the ingest's bookkeeping (the canonical-drop checkpoint, split
    // aggregation, state-table writes, the small-path label collects)
    // runs on the AQE-off maintenance session — every one of these is
    // a static 1-3-stage job, and AQE charges one driver job per query
    // stage on top (StateStore.maint). Rebasing the INPUT (before the
    // distinct) keeps the checkpoint's exchange inside the first
    // maintenance action instead of materializing it as parent-side
    // AQE stage jobs at plan time (the documented lazy-checkpoint
    // gotcha); gate drops arrive checkpointed, so `.rdd` is free.
    val ms = StateStore.maint(spark)
    val keys = Seq("src", "dst")
    // canonical drop, hashed once; computed lineage runs once
    // (self-referenced by the split)
    val norm = IdLedger.withHash(
        StateStore.rebase(newEdges.select(col("src"), col("dst")), ms)
          .select(
            least(col("src"), col("dst")).cast("long").as("src"),
            greatest(col("src"), col("dst")).cast("long").as("dst"))
          .distinct(),
        keys, bk)
      .localCheckpoint(false)
    val split = IdLedger.splitFresh(norm, keys, prior, bloomOpt, bb)
    def lastLabels(sess: SparkSession, dirs: Seq[String]): DataFrame =
      sess.read.parquet(dirs.last + "/labels")
    // write the drop's ledger ONCE, derive everything from the
    // read-back (the exactIncremental pattern: ledger and labels can
    // never diverge). The write IS the materializing action —
    // emptiness (a fully re-presented drop) is read off the written
    // layout with a driver FS listing, not a separate isEmpty job
    val dir = StateStore.nextDir(spark, statePath)
    IdLedger.writeIds(split.fresh, keys, dir)
    val idsPath = new org.apache.hadoop.fs.Path(s"$dir/ids")
    val wroteRows = idsPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(idsPath)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("__ib="))
    if (!wroteRows) {
      StateStore.delete(dir) // uncommitted; tidy up for the next index
      if (prior.nonEmpty) return lastLabels(spark, prior)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("component",
            org.apache.spark.sql.types.LongType))))
    }
    import ms.implicits._
    // the bloom row is driver-held bytes with no lineage and the
    // labels table derives only from the already-written ids + the
    // PRIOR dirs — two independent state-table productions, overlapped
    // (opt guide §2.6); commit still waits for both
    StateStore.inParallel(Seq(
      () => IdLedger.writeBloom(ms, dir, bk, bb, split.bloomBytes),
      () => {
        // small-path reads/writes stay on the maintenance session;
        // the DISTRIBUTED path (archive-scale states) builds on the
        // parent so the iterative CC keeps AQE and its own tuning
        val fresh = ms.read.parquet(s"$dir/ids")
          .select(col("src"), col("dst"))
        val prevLabels =
          if (prior.isEmpty) None else Some(lastLabels(ms, prior))
        // the per-ingest CC input is |labels| star edges + |drop| new
        // edges — LABEL-sized by the contraction property. Below
        // [[CcSmallEdges]] the exact min-id labeling computes as a
        // driver union-find over a bounded collect. The sizes that
        // decide the path cost NO jobs: the drop's row count (an
        // admissible UPPER bound on the fresh rows — overestimates
        // route a re-present-heavy drop to the distributed path, never
        // the reverse) rides the split's aggregation row, and the
        // label count is a parquet-footer fold over the prior labels
        // table (exact metadata; small-path labels land as ONE file
        // below, so this opens one footer). The count() formulation
        // paid two scheduler-bound jobs per ingest for numbers already
        // at hand. Archive-scale states exceed the threshold and keep
        // the GraphX path — the small path is a latency floor, not a
        // scale path.
        val labelCnt = prior.lastOption
          .map(d => StateStore.parquetRows(spark, s"$d/labels"))
          .getOrElse(0L)
        val labelsOut: DataFrame =
          if (split.rows + labelCnt <= CcSmallEdges) {
            // the two bounded collects are independent reads of
            // disjoint tables — overlap them (opt guide §2.6)
            var fe: Array[(Long, Long)] = null
            var le = Array.empty[(Long, Long)]
            StateStore.inParallel(Seq(
              () => fe = fresh.collect()
                .map(r => (r.getLong(0), r.getLong(1))),
              // a labels row (id, component) IS a connectivity pair —
              // the star edges are exactly these with self rows
              // dropped, and self rows are harmless to a union-find
              () => le = prevLabels.map(_.collect()
                .map(r => (r.getLong(0), r.getLong(1))))
                .getOrElse(Array.empty[(Long, Long)])))
            // driver-sized by the threshold: land as ONE file — the
            // default local-relation write scattered ~32 tiny files
            // that every later read (lastLabels, the returned frame,
            // the next ingest's footer fold) paid to open (§6 small
            // files)
            ccUnionFind(fe ++ le).toSeq.toDF("id", "component")
              .coalesce(1)
          } else {
            // archive-scale: rebuild on the PARENT session (AQE on —
            // the iterative CC wants runtime coalescing/skew handling)
            val freshP = spark.read.parquet(s"$dir/ids")
              .select(col("src"), col("dst"))
            val prevLabelsP =
              if (prior.isEmpty) None else Some(lastLabels(spark, prior))
            val stars = prevLabelsP.map(
              _.filter(col("id") =!= col("component"))
                .select(col("component").as("src"), col("id").as("dst")))
            val edgesAll = stars.fold(freshP)(freshP.union)
            val verts = prevLabelsP
              .map(l => freshP.select(col("src").as("id"))
                .union(freshP.select(col("dst")))
                .union(l.select(col("id"))))
              .getOrElse(freshP.select(col("src").as("id"))
                .union(freshP.select(col("dst"))))
              .distinct()
            connectedComponents(GraphStore(verts, edgesAll))
          }
        labelsOut.write.mode("overwrite").parquet(s"$dir/labels")
      }))
    StateStore.commit(spark, dir)
    spark.read.parquet(s"$dir/labels")
  }

  /** Edge count below which an incremental ingest's CC runs as a
    * driver union-find instead of distributed CC — identical min-id
    * labels (spec-pinned via the == one-shot equalities), a few MB of
    * collect, zero iterative jobs. */
  private[graft] val CcSmallEdges = 200000L

  /** Min-id union-find labeling of an undirected pair list: the exact
    * semantics of [[connectedComponents]] (component = smallest member
    * id), driver-side. Path-halving find + arbitrary union, then a
    * min-per-root pass canonicalizes. */
  private[graft] def ccUnionFind(
      pairs: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    val ids = new java.util.ArrayList[Long](parent.keySet())
    val minOfRoot = new java.util.HashMap[Long, Long]()
    ids.forEach { id =>
      val r = find(id)
      val cur = minOfRoot.getOrDefault(r, Long.MaxValue)
      if (id < cur) minOfRoot.put(r, id)
    }
    val out = new Array[(Long, Long)](ids.size())
    var i = 0
    while (i < ids.size()) {
      val id = ids.get(i)
      out(i) = (id, minOfRoot.get(find(id)))
      i += 1
    }
    out
  }

  /** Connected components (undirected): `(id, component)` where
    * component = smallest vertex id in the component. */
  def connectedComponents(g: GraphStore): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val xg = toGraphX(g)
    val cc = xg.connectedComponents()
    materializeAndFree(cc.vertices.toDF("id", "component"), cc, xg)
  }

  /**
   * Deterministic successor-ring construction over a bipartite edge
   * label: for every right-vertex ("hub", e.g. a part), take its
   * `ringLen` smallest left-neighbors (orders) and chain them into a
   * directed cycle o₁→o₂→…→o_k→o₁ in ascending id order (k ≤ ringLen;
   * a single neighbor yields a self-loop). This is the planted-SCC
   * fixture for [[stronglyConnectedComponents]]: every output edge
   * lies on its hub's cycle, so each weakly-connected component of
   * the result — a union of directed cycles connected through shared
   * vertices — is strongly connected, which makes the true SCC
   * labeling computable by ANY engine as WCC min-id (the `graph_scc`
   * oracle face; the TPC-H graph itself is a DAG by construction, so
   * cycles must be planted, the `withTypoPayload` move).
   *
   * Scale shape: neighbor selection rides
   * [[graft.functions.BoundedMinIds]] — each map task keeps ≤ringLen
   * ids per hub (constant-size buffer; a 10⁹-degree hub costs O(n) map
   * time, never a per-hub window SORT) and the shuffle carries
   * ≤ringLen entries per (partition, hub). Ring chaining is a
   * codegen'd array transform over the ≤ringLen result plus one
   * explode — one shuffle total, plan-guarded.
   *
   * Id-domain caveat: BoundedMinIds orders ids as STRINGS, so the
   * ascending-id claim needs equal-width decimal ids — true for the
   * TPC-H graph's offset ids (all order ids are 10-digit, key+10⁹).
   */
  def successorRings(g: GraphStore, label: String,
                     ringLen: Int): DataFrame = {
    require(ringLen >= 1, s"ringLen must be >= 1, got $ringLen")
    val spark = g.edges.sparkSession
    graft.functions.VectorExpressions.register(spark)
    // no (hub, o) distinct: BoundedMinIds' sorted-set buffer dedups
    // duplicate neighbor ids for free — an exchange saved
    val pairs = g.edges.filter(col("label") === label)
      .select(col("dst").as("hub"), col("src").as("o"))
    pairs.groupBy("hub")
      .agg(graft.functions.VectorExpressions
        .boundedMinIds(col("o"), col("o"), ringLen).as("os"))
      .select(explode(expr(
        "transform(os, (x, i) -> struct(cast(x AS BIGINT) AS src, " +
          "cast(element_at(os, cast((i + 1) % size(os) AS INT) + 1) " +
          "AS BIGINT) AS dst))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** One forward max-coloring round of [[stronglyConnectedComponents]]
    * — split out un-materialized so OperatorPlanSpec can assert the
    * round's plan never re-exchanges the pre-partitioned edge face
    * (`reSelf` arrives hash-partitioned on `src` and checkpointed;
    * only the color side and the message aggregation may shuffle).
    *
    * `reSelf` carries one IDENTITY edge `(v, v, __self=true)` per
    * remaining vertex next to the real edges (`__self=false`): a
    * vertex's own color arrives as a self-message, so the round
    * references the color table ONCE — `next(v) = max over in-edges ∪
    * self of color(u)`, with `__chg = next > self-message`. (The old
    * two-reference form — join + greatest against the same table —
    * doubled the logical plan per composed round, capping flood blocks
    * at 2 rounds/job; the linear form composes [[SccBlockSmall]]
    * rounds per checkpoint job.) When the caller wraps the face in a
    * `broadcast()` hint (small mode), the join is a
    * BroadcastHashJoin and the whole round costs ONE exchange — on a
    * tiny remainder a flood round is pure stage-scheduling floor, and
    * halving the stages halved the sf0.1 gate (plan-guarded).
    *
    * The same kernel runs BOTH floods: the backward marking phase is
    * this max-propagation over the REVERSED same-color edge face
    * (reach(v) = max id reachable FROM v along same-color edges; the
    * class root r is the max id of its class, so reach(v) == color(v)
    * ⟺ v reaches r ⟺ v ∈ SCC(r) — mutual reachability with the root
    * in two max-floods, no mark/frontier state). */
  private[operators] def sccForwardRound(reSelf: DataFrame,
                                         color: DataFrame): DataFrame =
    reSelf.join(color, reSelf("src") === color("id"))
      .groupBy(reSelf("dst").as("id"))
      .agg(max(col("color")).as("color"),
        max(when(col("__self"), col("color"))).as("__old"))
      .select(col("id"), col("color"),
        (col("color") > col("__old")).as("__chg"))

  /** One backward DELTA round of [[stronglyConnectedComponents]]:
    * only the freshly marked `frontier` joins the edge face (never the
    * whole marked set), candidates stay same-color via a semi-join and
    * drop already-marked ids via an anti-join. Un-materialized for the
    * plan guard, same contract as [[sccForwardRound]]. */
  private[operators] def sccBackwardRound(reD: DataFrame,
                                          frontier: DataFrame,
                                          vc: DataFrame,
                                          mark: DataFrame): DataFrame = {
    val cand = reD.join(frontier, reD("dst") === frontier("id"))
      .select(reD("src").as("id"), col("color")).distinct()
      .join(vc, col("id") === col("__vid") &&
        col("color") === col("__vc"), "left_semi")
    cand.join(mark, Seq("id"), "left_anti")
  }

  /**
   * Strongly connected components of a DIRECTED edge list — the
   * coloring algorithm (Orzan 2004; the peel phase of Slota et al.'s
   * MultiStep), the standard distributed SCC since Tarjan's DFS stack
   * is inherently sequential. Repeatedly over the remaining subgraph:
   *
   *  1. FORWARD-flood colors to a fixpoint: `color(v)` = max id with a
   *     directed path to `v` (self included) — one partial-aggregable
   *     max join per round.
   *  2. Each color class holds exactly one root `r` (`color(r) = r`),
   *     and the members that can REACH `r` without leaving the class
   *     are precisely `SCC(r)`: if `color(v)=r` then `r →* v`, and any
   *     `u →* v` with `v →* r` forces `u ≤ r`, so mutual reachability
   *     with `r` is equivalent to (same color ∧ reaches `r`). Mark
   *     them by BACKWARD flood from the roots along same-color edges.
   *  3. Emit marked classes as SCCs (`scc_id` = min member id), peel
   *     them, repeat — every remaining max-id vertex roots its own
   *     class, so each pass removes ≥1 SCC per color chain.
   *
   * Everything is integer joins/aggregations — deterministic on any
   * engine, no seeds — so the final labeling is oracle-checkable
   * whenever the true SCCs are known. Cycle-free vertices emit as
   * singletons.
   *
   * Scale shape: the remaining edges are kept TWICE, hash-partitioned
   * on `src` (forward face) and `dst` (backward face) once per peel
   * round, so every flood round joins with no exchange on the edge
   * side (the LPA move); the backward flood is DELTA-driven (only the
   * newly marked frontier joins the edge list). Floods run O(diameter)
   * rounds in blocks of [[SccBlock]] composed per checkpoint job
   * (per-round job overhead dominates on the shrinking remainder;
   * monotone floods make block-final convergence checks exact — the
   * backward flood needs one confirming block of slack inside
   * `maxFlood`). Bounds fail loud under `requireConverged` rather
   * than emit a wrong fixpoint (the kCore contract).
   * Output: `(id, scc_id)` for every vertex incident to an edge.
   */
  /** Flood rounds composed per checkpoint/convergence job in
    * [[stronglyConnectedComponents]]' delta-driven backward mode —
    * that round references the mark set twice, so plan depth grows
    * ~2^block; keep it small. */
  private val SccBlock = 2

  /** Rounds per job for the small-remainder floods: the linear round
    * form composes 16 rounds into one checkpoint job — on a tiny
    * remainder a round is pure scheduling floor, and 16× fewer
    * convergence checks (plus the broadcast join halving each round's
    * stages and the isolated AQE-off session) cut the sf0.1 gate from
    * ~200 jobs / ~8 s to ~40 jobs / ~4 s. On a LARGE remainder wasted
    * post-fixpoint rounds inside a block are full shuffles, so the
    * delta/2-block path stays the default. */
  private val SccBlockSmall = 16

  /** Remainder edge count under which the flood loops switch to the
    * job-count-optimized small-graph mode (full-table linear backward
    * + [[SccBlockSmall]] blocks): ~4 partitions of [[adaptiveWidth]]'s
    * 50k-rows-per-partition sizing — below it, per-round data volume
    * is far under the per-job scheduling floor. */
  private val SccSmallEdges = 200000L

  /** Driver-side iterative Kosaraju over the bounded peel remainder —
    * the serial phase of Slota et al.'s MultiStep: after the first
    * coloring passes strip the large SCCs, the remainder is a long
    * thin condensation tail where every distributed round costs a
    * full job for a handful of vertices. Labels are canonicalized to
    * min member id (the distributed emit's convention), so the two
    * phases agree exactly — GraphAlgosSpec pins the equivalence. */
  private def sequentialScc(vs: Array[Long],
                            es: Array[(Long, Long)]): Map[Long, Long] = {
    import scala.collection.mutable
    val fwd = es.groupMap(_._1)(_._2).withDefaultValue(Array.empty[Long])
    val rev = es.groupMap(_._2)(_._1).withDefaultValue(Array.empty[Long])
    val seen = mutable.HashSet[Long]()
    val order = mutable.ArrayBuffer[Long]()
    for (v0 <- vs.sorted) if (!seen(v0)) {
      val stack = mutable.Stack[(Long, Int)]((v0, 0))
      seen += v0
      while (stack.nonEmpty) {
        val (v, i) = stack.pop()
        val nbrs = fwd(v)
        if (i < nbrs.length) {
          stack.push((v, i + 1))
          val w = nbrs(i)
          if (!seen(w)) { seen += w; stack.push((w, 0)) }
        } else order += v
      }
    }
    val label = mutable.HashMap[Long, Long]()
    for (v0 <- order.reverseIterator) if (!label.contains(v0)) {
      val stack = mutable.Stack[Long](v0)
      label(v0) = v0
      while (stack.nonEmpty) {
        val v = stack.pop()
        for (w <- rev(v)) if (!label.contains(w)) {
          label(w) = v0; stack.push(w)
        }
      }
    }
    val mins = label.groupMapReduce(_._2)(_._1)(math.min)
    label.map { case (v, r) => (v, mins(r)) }.toMap
  }

  def stronglyConnectedComponents(edges: DataFrame, maxOuter: Int = 8,
                                  maxFlood: Int = 64,
                                  requireConverged: Boolean = true,
                                  seqThreshold: Int = 4096): DataFrame = {
    val spark = edges.sparkSession
    val e00 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().localCheckpoint()
    val n0 = e00.count()
    val width = adaptiveWidth(spark, n0)
    // Small graphs run the WHOLE loop on an isolated child session
    // with AQE off and static width-sized shuffles: AQE's per-stage
    // re-optimization is pure overhead on a remainder this small
    // (measured at sf0.1: ~100 AQE stage jobs ≈ 55 ms each for 32
    // flood rounds over 2000 edges; static plans run the same rounds
    // as ~20 whole-job submissions). The child (graft.NarrowSession)
    // isolates the conf — concurrent queries under Server/Emu never see
    // the narrowed width or the AQE toggle (the r10 advice contract) —
    // and shares the SparkContext, so checkpointed RDDs and the
    // returned DataFrame work across the boundary.
    val (loopSession, e0) =
      if (n0 <= SccSmallEdges) {
        val child = graft.NarrowSession(spark, width)
        (child, StateStore.rebase(e00, child).localCheckpoint())
      } else (spark, e00)
    sccLoop(loopSession, e0, n0, width, maxOuter,
      maxFlood, requireConverged, seqThreshold)
  }

  /** Size an iterative loop's edge-face partition count to the data: a
    * round is O(edges) of work split across every partition, and on a
    * small graph the per-task scheduling floor dominates — 32
    * partitions ran the sf0.1 SCC gate 1.4× slower than 4 (measured at
    * a411d6a). One partition per ~50k rows, capped at the cluster's
    * parallelism. The width is threaded through EXPLICIT
    * `repartition(n, key)` calls on the pre-partitioned edge faces —
    * join sides then co-locate to that width by Spark's distribution
    * negotiation, and the loop's group-bys coalesce under AQE — never
    * via a session-global `spark.sql.shuffle.partitions` mutation,
    * which under the concurrent-serving mains (Server/Emu) would leak
    * a narrowed width into other in-flight queries (r10 advice). */
  private def adaptiveWidth(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      rows / 50000L + 1L)).toInt

  // ---- shared BFS substrates (r11 verdict #5) ----------------------
  // The landmark-BFS family (closeness/harmonic/diameter) and the
  // co-occurrence family (clustering/matching/weighted-LPA) each
  // rebuilt their adjacency substrate from the raw edge table on
  // every call — dozens of first-touch jobs per cold gate. The
  // substrates are pure functions of the (canonicalized) input plan,
  // so they memoize as SHARED LAZY CACHES: keyed by the analyzed
  // plan's canonical form, registered with the CacheManager (lazy —
  // the self-join invariant), safe under concurrent serving (cache()
  // is, sweeping is not). [[dropSubstrateCache]] must run whenever the
  // session's storage is reset (`spark.catalog.clearCache()` forgets
  // the registrations; a kept memo would serve uncached re-scans
  // forever — the dropGraphCache invariant).
  private val substrateCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Any), DataFrame]

  /** Forget memoized substrates for `spark` (call alongside every
    * `clearCache()` — SparkEntry.dropGraphCache does). */
  def dropSubstrateCache(spark: SparkSession): Unit =
    substrateCache.keys.filter(_._1 eq spark)
      .foreach(substrateCache.remove)

  private def memoSubstrate(spark: SparkSession, key: Any)
                           (build: => DataFrame): DataFrame =
    substrateCache.getOrElseUpdate((spark, key), build.cache())

  /** The canonical undirected BFS face: self-loops dropped, both
    * directions, deduplicated, hash-partitioned ONCE on the join key
    * at [[adaptiveWidth]] — BFS reachability and hop distances are
    * invariant to the dedup/loop-drop, so closeness, harmonic and
    * double-sweep diameter share ONE cached face per edge plan
    * instead of three first-touch builds. */
  private def undirectedFace(g: GraphStore): DataFrame = {
    val spark = g.edges.sparkSession
    val key = ("undface",
      g.edges.queryExecution.analyzed.canonicalized)
    memoSubstrate(spark, key) {
      val e0 = g.edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
      val und = e0.union(e0.select(col("dst"), col("src"))).distinct()
      und.repartition(adaptiveWidth(spark, und.count()), col("src"))
    }
  }

  /** Run [[sccForwardRound]] to a fixpoint over `face` (edge face with
    * identity edges, pre-partitioned on src): blocks of
    * [[SccBlockSmall]] doubling rounds (small mode) or [[SccBlock]]
    * plain rounds per checkpoint job; certify-or-throw past
    * `maxFlood` TOTAL rounds. Returns the converged `(id, color)`. */
  private def maxFloodLoop(face: DataFrame, init: DataFrame,
                           small: Boolean, maxFlood: Int,
                           requireConverged: Boolean,
                           phase: String): DataFrame = {
    val block = if (small) SccBlockSmall else SccBlock
    // small mode: the bounded face rides a broadcast join, so a round
    // is ONE exchange (the aggregation) instead of two
    val face1 = if (small) broadcast(face) else face
    var color = init.localCheckpoint()
    var flood = 0
    var changed = 1L
    while (changed > 0 && flood < maxFlood) {
      val k = math.min(block, maxFlood - flood)
      var last: DataFrame = null
      var cur = color
      for (_ <- 1 to k) {
        last = sccForwardRound(face1, cur)
        cur = last.drop("__chg")
      }
      flood += k
      val next = last.localCheckpoint()
      changed = next.filter(col("__chg")).count()
      color = next.drop("__chg")
    }
    if (requireConverged && changed > 0)
      throw new IllegalStateException(
        s"SCC $phase flood did not converge in $maxFlood rounds")
    color
  }

  private def sccLoop(spark: SparkSession, e0: DataFrame, n0: Long,
                      width: Int, maxOuter: Int,
                      maxFlood: Int, requireConverged: Boolean,
                      seqThreshold: Int): DataFrame = {
    var sess = spark
    // true once the loop runs on an isolated child session (small
    // start, or migrated below when a large graph peels small)
    var isolated =
      sess.conf.getOption("spark.sql.adaptive.enabled").contains("false")
    var rem = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct().localCheckpoint()
    var edges = e0
    var edgeCount = n0
    var out: DataFrame = null
    var outer = 0
    var done = false
    while (!done && outer < maxOuter) {
      // (0) sequential tail: once the remainder fits the bounded
      // collect (≤seqThreshold vertices — the IndexStore-style cap),
      // finish with driver Kosaraju instead of paying O(diameter)
      // distributed rounds per remaining SCC chain link. Specs that
      // exercise the distributed floods pass seqThreshold = 0.
      if (rem.count() <= seqThreshold) {
        val vs = rem.collect().map(_.getLong(0))
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val s0 = sess // stable identifier for the implicits import
        import s0.implicits._
        val tail = sequentialScc(vs, es).toSeq.toDF("id", "scc_id")
        out = if (out == null) tail else out.union(tail)
        done = true
      } else {
      outer += 1
      // job-count vs data-volume mode split: a small remainder's round
      // is pure scheduling floor, so compose SccBlockSmall linear
      // rounds per job over a broadcast face; a large remainder pays
      // real shuffles per round, so check convergence every SccBlock
      // rounds and keep the backward flood delta-driven
      val small = edgeCount <= SccSmallEdges
      // (1) forward coloring to a fixpoint (identity edges carry each
      // vertex's own color — see sccForwardRound). Convergence is
      // checked on a BLOCK's final round only, which is exact for a
      // monotone flood: once a round
      // changes nothing, every later round changes nothing, so
      // final-round-quiet ⟺ fixpoint reached.
      val reSelf = edges
        .select(col("src"), col("dst"), lit(false).as("__self"))
        .union(rem.select(col("id").as("src"), col("id").as("dst"),
          lit(true).as("__self")))
        .repartition(width, col("src")).localCheckpoint()
      val color = maxFloodLoop(reSelf,
        rem.select(col("id"), col("id").as("color")),
        small, maxFlood, requireConverged, "forward")
      // (2) backward marking within color classes, blocked like the
      // forward flood.
      val vc = color.select(col("id").as("__vid"), col("color").as("__vc"))
        .localCheckpoint()
      var mark: DataFrame = null
      if (small) {
        // the SAME max-flood kernel over the REVERSED same-color edge
        // face (annotated once per peel — the color test never
        // re-joins per round): reach(v) = max id reachable FROM v
        // along same-color edges; the class root is the max id of its
        // class, so reach == color ⟺ member of the root's SCC
        val ebSelfRev = edges
          .join(vc.select(col("__vid").as("dst"),
            col("__vc").as("__cd")), "dst")
          .join(vc.select(col("__vid").as("src"),
            col("__vc").as("__cs")), "src")
          .filter(col("__cd") === col("__cs"))
          .select(col("dst").as("src"), col("src").as("dst"),
            lit(false).as("__self"))
          .union(rem.select(col("id").as("src"), col("id").as("dst"),
            lit(true).as("__self")))
          .repartition(width, col("src")).localCheckpoint()
        val reach = maxFloodLoop(ebSelfRev,
          rem.select(col("id"), col("id").as("color")),
          small = true, maxFlood, requireConverged, "backward")
        mark = reach.withColumnRenamed("color", "__reach")
          .join(vc, col("id") === col("__vid"))
          .filter(col("__reach") === col("__vc"))
          .select(col("id"), col("__vc").as("color"))
          .localCheckpoint()
      } else {
        // delta-driven mode: only the freshly marked frontier joins
        // the edge face. Only mark is checkpointed per block; the
        // next frontier is recovered as mark \ prevMark (a SUPERSET
        // of the true final frontier when the flood went quiet
        // mid-block — harmless: already-marked candidates anti-join
        // away next block). Convergence therefore needs one
        // confirming block after the last marking round — size
        // maxFlood with that slack.
        val reD = edges.repartition(width, col("dst")).localCheckpoint()
        var mk0 = color.filter(col("id") === col("color"))
          .localCheckpoint()
        var frontier = mk0
        var mflood = 0
        var fsize = frontier.count()
        while (fsize > 0 && mflood < maxFlood) {
          val k = math.min(SccBlock, maxFlood - mflood)
          var fr = frontier
          var mk = mk0
          for (_ <- 1 to k) {
            // v → w with w freshly marked, color(v) == color(w) ⇒ mark v
            fr = sccBackwardRound(reD, fr, vc, mk)
            mk = mk.union(fr)
          }
          mflood += k
          val markNext = mk.localCheckpoint()
          frontier = markNext.join(mk0, Seq("id"), "left_anti")
          fsize = frontier.count()
          mk0 = markNext
        }
        if (requireConverged && fsize > 0)
          throw new IllegalStateException(
            s"SCC backward flood did not converge in $maxFlood rounds")
        mark = mk0
      }
      // (3) emit marked SCCs, peel, re-derive the remaining edge set
      val sccs = mark.groupBy(col("color")).agg(min(col("id")).as("scc_id"))
      val emit = mark.join(sccs, "color").select(col("id"), col("scc_id"))
      out = (if (out == null) emit else out.union(emit)).localCheckpoint()
      val remNext = rem.join(mark.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint()
      done = remNext.isEmpty
      if (!done) {
        rem = remNext
        edges = edges
          .join(rem.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(rem.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint()
        edgeCount = edges.count()
        // a large graph that peeled small migrates to the isolated
        // AQE-off child session (see stronglyConnectedComponents) —
        // checkpointed RDDs carry across; one-time Row round-trip on
        // a ≤SccSmallEdges remainder
        if (!isolated && edgeCount <= SccSmallEdges) {
          isolated = true
          val child = graft.NarrowSession(sess, width)
          def mv(df: DataFrame): DataFrame =
            StateStore.rebase(df, child).localCheckpoint()
          edges = mv(edges)
          rem = mv(rem)
          if (out != null) out = mv(out)
          sess = child
        }
      }
      }
    }
    if (requireConverged && !done)
      throw new IllegalStateException(
        s"SCC peel did not finish in $maxOuter passes")
    out
  }

  /** Single-source BFS distances to convergence over a pre-partitioned
    * undirected edge face: `(id, d)` for every vertex reachable from
    * `start` within `maxHops` (frontier-delta rounds, each
    * localCheckpointed; certify-or-throw past the cap with the kCore
    * check-only round, so an unrolled oracle of the same depth
    * describes the same set). */
  private def bfsFrom(spark: SparkSession, reS: DataFrame, start: Long,
                      maxHops: Int,
                      requireConverged: Boolean): DataFrame = {
    import spark.implicits._
    // per-hop frontiers are each checkpointed ONCE; the visited set is
    // a lazy union over them (re-reading checkpointed blocks), so a
    // hop costs 2 jobs (frontier checkpoint + its count), not 3 — the
    // per-round union re-checkpoint bought nothing: the anti-join
    // scans the same visited rows either way, and the union plan
    // grows only linearly in hops over already-truncated lineage
    var frontiers = List(Seq((start, 0)).toDF("id", "d").localCheckpoint())
    def level(h: Int): DataFrame = {
      val head = frontiers.head
      val visited = frontiers.map(_.select(col("id")))
        .reduce(_ union _)
      reS.join(head, reS("src") === head("id"))
        .select(reS("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("d", lit(h))
        .localCheckpoint()
    }
    var hop = 0
    var fsize = 1L
    while (fsize > 0 && hop < maxHops) {
      hop += 1
      val next = level(hop)
      fsize = next.count()
      if (fsize > 0) frontiers ::= next
    }
    // the cap was reached on a non-empty level: one extra CHECK-ONLY
    // level before failing (the kCore certification) — an empty one
    // proves the `maxHops`-level set is already the fixpoint
    if (requireConverged && fsize > 0 && level(hop + 1).count() > 0)
      throw new IllegalStateException(
        s"BFS did not converge in $maxHops hops")
    frontiers.reduce(_ union _)
  }

  /**
   * Double-sweep diameter lower bound (Magnien-Latapy-Habib): BFS from
   * a deterministic seed (the smallest edge-incident vertex id), take
   * the farthest vertex (max distance, min id tiebreak) as the pivot,
   * BFS again — the pivot's eccentricity is the classic tight lower
   * bound on the graph diameter (exact on trees; within a few percent
   * on real graphs, vs O(n·m) for the exact diameter). Both sweeps run
   * to convergence under `maxHops` certify-or-throw, so the unrolled
   * oracle of the same depth describes the same fixpoint. Everything
   * is integer BFS — deterministic, oracle-exact.
   * Output: one row `(pivot_id, diameter_lb, peripheral)` where
   * `peripheral` counts vertices at the pivot's eccentricity.
   *
   * Scale shape: the undirected edge face is hash-partitioned on the
   * join key ONCE (the LPA move); each hop is one equi-join + distinct
   * + anti-join on the frontier DELTA, never the visited set; shuffle
   * width sized to the edge count ([[adaptiveWidth]], threaded as
   * explicit repartition widths — never a session-conf mutation).
   * Driver state is two bounded scalars (seed, pivot).
   */
  def doubleSweepDiameter(g: GraphStore, maxHops: Int = 12,
                          requireConverged: Boolean = true): DataFrame = {
    val spark = g.edges.sparkSession
    // the shared cached face (closeness/harmonic/diameter build it
    // once per edge plan — r11 verdict #5's cold-pass fix)
    val reS = undirectedFace(g)
    val start = reS.agg(min(least(col("src"), col("dst"))))
      .collect().head.getLong(0)
    val d1 = bfsFrom(spark, reS, start, maxHops, requireConverged)
    val pivot = d1.orderBy(col("d").desc, col("id").asc).limit(1)
      .collect().head.getLong(0)
    val d2 = bfsFrom(spark, reS, pivot, maxHops, requireConverged)
    // one aggregate: the max-distance group IS (ecc, peripheral)
    d2.groupBy(col("d")).agg(count(lit(1)).as("peripheral"))
      .orderBy(col("d").desc).limit(1)
      .select(lit(pivot).as("pivot_id"),
        col("d").cast("long").as("diameter_lb"), col("peripheral"))
  }

  /**
   * Fixed-iteration PageRank power method, DataFrame-native:
   * r₀ = 1; rₖ₊₁(v) = resetProb + (1-resetProb)·Σ_{u→v} rₖ(u)/outdeg(u)
   * (GraphX's un-normalized formulation — dangling mass is dropped, so
   * ranks are comparable with [[pageRank]]). A fixed iteration count
   * makes the whole computation expressible as chained SQL CTEs, which
   * is what lets the driver hash-check this variant against the DuckDB
   * oracle — the tol-convergence GraphX path stays rows-only by nature.
   * Each round is one equi-join + one aggregation; `iters` is small and
   * fixed so the plan nests only `iters` deep (no checkpoint needed).
   */
  def pageRankPower(g: GraphStore, iters: Int = 3,
                    resetProb: Double = 0.15): DataFrame = {
    val edges = g.edges.select(col("src"), col("dst"))
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val withDeg = edges.join(outDeg, "src")
    var ranks = g.vertices.select(col("id"),
      lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, withDeg("src") === ranks("id"))
        .select(col("dst").as("id"),
          (col("rank") / col("__deg")).as("__c"))
        .groupBy("id").agg(sum(col("__c")).as("__sum"))
      ranks = g.vertices.select(col("id"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"), (lit(resetProb) + lit(1.0 - resetProb) *
          coalesce(col("__sum"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /**
   * Fixed-iteration PERSONALIZED PageRank (random walk with restart):
   * all restart mass returns to `source`, so ranks measure proximity
   * to it — the recommendation/expansion query ("parts related to
   * this customer's neighborhood") that global PageRank can't answer.
   * Same chained-CTE-expressible shape as [[pageRankPower]] (fixed
   * `iters`, one join + one aggregation per round), which is what
   * keeps it oracle-checkable; only vertices with positive rank (the
   * ≤`iters`-hop forward neighborhood — exactly zero elsewhere, no
   * float fuzz) are emitted, so the output is neighborhood-sized, not
   * graph-sized.
   */
  def personalizedPageRankPower(g: GraphStore, source: Long,
                                iters: Int = 3,
                                resetProb: Double = 0.15): DataFrame = {
    val edges = g.edges.select(col("src"), col("dst"))
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val withDeg = edges.join(outDeg, "src")
    var ranks = g.vertices.select(col("id"),
      when(col("id") === source, lit(1.0)).otherwise(lit(0.0)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, withDeg("src") === ranks("id"))
        .select(col("dst").as("id"),
          (col("rank") / col("__deg")).as("__c"))
        .groupBy("id").agg(sum(col("__c")).as("__sum"))
      ranks = g.vertices.select(col("id"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (when(col("id") === source, lit(resetProb))
            .otherwise(lit(0.0)) +
           lit(1.0 - resetProb) * coalesce(col("__sum"), lit(0.0)))
            .as("rank"))
    }
    ranks.filter(col("rank") > 0)
  }

  /**
   * [[personalizedPageRankPower]] in FIXED-POINT integer arithmetic:
   * ranks are carried as int64 multiples of `1/scale` and every
   * per-edge contribution is an integral division
   * (`rank_q * 85 div (100 * deg)`, all nonnegative), so each round is
   * pure int64 — addition is associative, which makes the result
   * independent of Spark's partial-aggregation order AND bit-identical
   * across engines (the cross-engine float-parity invariant: a float
   * restart-plus-weighted-sum can land within 1 ulp of a display
   * boundary and flip floor/round between Spark and the oracle; an
   * integer sum cannot). Quantization truncates ≤ 1/scale per edge per
   * round — at the default scale 10¹² that is noise for any ranking
   * use — and the gate face compares these exact integers directly.
   * Overflow-safe: total mass ≤ scale, so `rank_q * 85 ≤ 8.5e13` and
   * `100 * deg` fits comfortably in int64.
   * Output: `(id, rank_q)` for vertices with positive quantized rank.
   */
  def personalizedPageRankFixedPoint(g: GraphStore, source: Long,
                                     iters: Int = 3,
                                     scale: Long = 1000000000000L)
      : DataFrame = {
    require(scale % 100 == 0, "scale must be divisible by 100 so the " +
      "0.15 restart and 0.85 damping terms are exact integers")
    val edges = g.edges.select(col("src"), col("dst"))
    val outDeg = edges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val withDeg = edges.join(outDeg, "src")
    var ranks = g.vertices.select(col("id"),
      when(col("id") === source, lit(scale)).otherwise(lit(0L))
        .cast("long").as("rank_q"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, withDeg("src") === ranks("id"))
        .select(col("dst").as("id"),
          expr("(rank_q * 85) div (100 * __deg)").as("__c"))
        .groupBy("id").agg(sum(col("__c")).as("__sum"))
      ranks = g.vertices.select(col("id"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (when(col("id") === source, lit(scale / 100 * 15))
            .otherwise(lit(0L)) + coalesce(col("__sum"), lit(0L)))
            .cast("long").as("rank_q"))
    }
    ranks.filter(col("rank_q") > 0)
  }

  /**
   * HITS (Kleinberg's hubs and authorities) — fixed-round UNNORMALIZED
   * integer power iteration over the directed edge list: from all-ones
   * hubs, each round computes
   * `authority'(v) = Σ over edges (u,v) of hub(u)` then
   * `hub'(u) = Σ over edges (u,v) of authority'(v)`.
   * Dropping the textbook per-round normalization keeps every score a
   * pure int64 sum — associative, independent of partial-aggregation
   * order, bit-identical across engines (the cross-engine float-parity
   * invariant; same move as [[personalizedPageRankFixedPoint]]) —
   * while leaving the RANKING identical to normalized HITS, because
   * each round's normalizer is one positive scalar for the whole
   * vector. Growth bounds rounds: scores reach
   * (max-in-degree · max-out-degree)^rounds, so the default 2 rounds
   * stays far inside int64 for any graph whose degree product is
   * under ~10⁴ (the TPC-H graph's is ~10³; callers with hub-ier
   * graphs lower rounds or pre-cap degrees).
   *
   * Scale shape: the edge list is pre-partitioned ONCE per join key
   * (src for the authority step, dst for the hub step) and lazily
   * checkpointed, so each round's two joins plan with no exchange on
   * the (big) edge side — the [[labelPropagationSync]] move; score
   * vectors are vertex-sized; each round localCheckpoints (nested-plan
   * invariant). Output: top-`k` by (authority desc, id) with both
   * scores — TakeOrderedAndProject, no global sort.
   */
  def hits(g: GraphStore, rounds: Int = 2, k: Int = 50): DataFrame = {
    require(rounds >= 1 && rounds <= 6, "rounds must be in [1, 6]")
    val edges = g.edges.select(col("src"), col("dst"))
    val eSrc = edges.repartition(col("src")).localCheckpoint(false)
    val eDst = edges.repartition(col("dst")).localCheckpoint(false)
    val verts = g.vertices.select(col("id"))
    var hub = verts.select(col("id"), lit(1L).as("hub"))
    var auth = verts.select(col("id"), lit(0L).as("authority"))
    for (_ <- 1 to rounds) {
      val aSums = eSrc.join(hub, eSrc("src") === hub("id"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("__a"))
      auth = verts.join(aSums, verts("id") === aSums("dst"), "left")
        .select(verts("id"), coalesce(col("__a"), lit(0L)).as("authority"))
        .localCheckpoint(false)
      val hSums = eDst.join(auth, eDst("dst") === auth("id"))
        .groupBy(col("src")).agg(sum(col("authority")).as("__h"))
      hub = verts.join(hSums, verts("id") === hSums("src"), "left")
        .select(verts("id"), coalesce(col("__h"), lit(0L)).as("hub"))
        .localCheckpoint(false)
    }
    hub.join(auth, "id")
      .select(col("id"), col("hub"), col("authority"))
      .orderBy(col("authority").desc, col("id")).limit(k)
  }

  /**
   * Label-propagation communities over an undirected edge list
   * (`id_a`, `id_b` — [[coOccurrencePairs]] output shape): every
   * vertex starts as its own label, then adopts its neighbors'
   * majority label for `maxSteps` synchronous rounds (GraphX LPA —
   * messages flow both directions, so direction is ignored). The
   * workhorse community detector at scale: each round is one
   * Pregel superstep, no global state. Labels are engine-seeded
   * (initial label = vertex id) and sync LPA can oscillate on
   * bipartite structure, so gates are rows-only; specs assert the
   * structural invariant (clique-mates agree, bridged cliques split).
   * Output: `(id, community)`.
   */
  def labelCommunities(pairs: DataFrame, maxSteps: Int = 5): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val es = pairs.select(col("id_a"), col("id_b")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val xg = XGraph.fromEdges(es, ()).cache()
    val lp = org.apache.spark.graphx.lib.LabelPropagation.run(xg, maxSteps)
    materializeAndFree(lp.vertices.toDF("id", "community"), lp, xg)
  }

  /**
   * Synchronous label propagation with a DETERMINISTIC adoption rule —
   * the oracle-checkable face of [[labelCommunities]]: labels start as
   * vertex ids and every round each vertex adopts the label held by
   * the most neighbors, ties to the SMALLEST label (count desc, label
   * asc — pure integer comparisons, no seeds, no floats), so a fixed
   * `rounds` fully determines the output and an unrolled SQL oracle
   * reproduces it exactly (the graph_kcore pattern; the oracle's CTEs
   * must be MATERIALIZED or each round re-expands its predecessors).
   * Sync LPA can oscillate on bipartite structure, so the contract is
   * "labels after exactly `rounds` rounds", not a fixpoint — the
   * GraphX [[labelCommunities]] stays the at-scale tol-free variant.
   * Each round is one equi-join + two integer aggregations over the
   * bidirectional edge list, localCheckpointed (iterative-loop
   * invariant). Input `(id_a, id_b)` unique undirected pairs;
   * `weightCol` (e.g. [[coOccurrencePairs]]' `shared` count) switches
   * to WEIGHTED voting — tie strength decides adoption — and stays
   * oracle-exact because the weights are integer counts summed in
   * int64. Output: `(id, community)`.
   */
  def labelPropagationSync(pairs: DataFrame, rounds: Int = 4,
                           weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    // pre-partition the (big) edge side by the join key ONCE —
    // localCheckpoint preserves the partitioning, and each round's
    // label table leaves its aggregation hash-partitioned on the same
    // key, so the per-round join plans with NO exchange on either
    // side (at 100 TB the edge re-shuffle would dominate every round;
    // the labels side is vertex-sized, never broadcastable)
    val e = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"), w.as("__w"))
      .union(pairs
        .select(col("id_b").as("src"), col("id_a").as("dst"), w.as("__w")))
      .repartition(col("src"))
      .localCheckpoint()
    var labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint()
    for (_ <- 1 to rounds) {
      labels = e.join(labels, e("src") === labels("id"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("__w")).as("__c"))
        // lexicographic min of (-count, label) = most votes, then
        // smallest label — all int64
        .groupBy(col("dst"))
        .agg(min(struct((-col("__c")).as("n"), col("label").as("l")))
          .as("__w"))
        .select(col("dst").as("id"), col("__w.l").as("label"))
        .localCheckpoint()
    }
    labels.select(col("id"), col("label").as("community"))
  }

  /**
   * Deterministic random walks over the undirected graph — the
   * DeepWalk/node2vec training-corpus generator, with the RNG replaced
   * by salted md5 so any engine reproduces the walks bit-for-bit: at
   * step `s`, the walk at vertex `v` moves to the neighbor `d`
   * minimizing `md5(salt:walk:s:d)` — each neighbor's key is an
   * independent uniform draw, so the argmin is a uniform choice among
   * neighbors, re-drawn per step (the exact analogue of seeding a PRNG
   * per (walk, step)). One walk starts at every row of `starts`
   * (`walk_id` = the start vertex); a walk that reaches a sink simply
   * ends (no self-loop padding).
   *
   * Scale shape: the adjacency list is built and hash-partitioned on
   * `src` ONCE ([[labelPropagationSync]]'s move) so each step's join
   * plans with no exchange on the (big) edge side; the neighbor argmin
   * is a partial-aggregable `min(string)` — a celebrity vertex's 10⁸
   * neighbors combine map-side, they never sort in one task (the
   * reason the choice is hash-argmin, NOT `neighbors[h mod degree]`,
   * which would need a per-vertex rank window). Each step's frontier
   * is locally checkpointed (iterative-loop invariant). The md5 key is
   * suffixed with the zero-padded neighbor id, so even a hash
   * collision breaks ties identically everywhere.
   * Output: `(walk_id, step, vertex)`, step 0 = the start.
   */
  def randomWalks(g: GraphStore, starts: DataFrame, length: Int,
                  salt: String = "walk"): DataFrame = {
    val e0 = g.edges.select(col("src"), col("dst"))
    val adj = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint()
    var frontier = starts.select(col("id").as("walk_id"),
      col("id").as("vertex")).localCheckpoint(false)
    var out = frontier.select(col("walk_id"), lit(0).as("step"),
      col("vertex"))
    for (s <- 1 to length) {
      val key = concat(
        md5(concat_ws(":", lit(salt), col("walk_id"), lit(s), col("dst"))),
        lpad(col("dst").cast("string"), 12, "0"))
      frontier = frontier
        .join(adj, frontier("vertex") === adj("src"))
        .groupBy(col("walk_id"))
        .agg(min(key).as("__k"))
        .select(col("walk_id"),
          substring(col("__k"), 33, 12).cast("long").as("vertex"))
        .localCheckpoint()
      out = out.unionAll(frontier.select(col("walk_id"),
        lit(s).as("step"), col("vertex")))
    }
    out
  }

  /** PageRank to `tol` convergence: `(id, rank)`. */
  def pageRank(g: GraphStore, tol: Double = 1e-4,
               resetProb: Double = 0.15): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val xg = toGraphX(g)
    val pr = xg.pageRank(tol, resetProb)
    materializeAndFree(pr.vertices.toDF("id", "rank"), pr, xg)
  }

  /** Single-source shortest hop counts (directed), Pregel:
    * `(id, distance)` for reachable vertices. */
  def shortestHops(g: GraphStore, source: Long): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val xg = toGraphX(g)
    val init = xg.mapVertices((id, _) =>
      if (id == source) 0.0 else Double.PositiveInfinity)
    val res = init.pregel(Double.PositiveInfinity)(
      (_, dist, msg) => math.min(dist, msg),
      triplet =>
        if (triplet.srcAttr + 1.0 < triplet.dstAttr)
          Iterator((triplet.dstId, triplet.srcAttr + 1.0))
        else Iterator.empty,
      (a, b) => math.min(a, b))
    val df = res.vertices.filter(_._2 != Double.PositiveInfinity)
      .map { case (id, d) => (id, d.toLong) }
      .toDF("id", "distance")
    materializeAndFree(df, res, xg)
  }

  /**
   * Weighted single-source shortest paths, DataFrame-native
   * Bellman-Ford with a frontier: each round relaxes only the edges out
   * of vertices whose distance improved last round, so settled regions
   * stop costing anything — the per-round work is frontier ⋈ edges plus
   * a min-merge, two keyed shuffles that scale like any join. Weights
   * must be non-negative INTEGERS (`weight` is cast to long): integer
   * path sums are exact and engine-stable, where float accumulation
   * would drift by addition order. Rounds are bounded by the longest
   * shortest-path hop count; `maxIters` is a safety cap. Each round
   * eagerly `localCheckpoint`s the merged table — the loop plan nests
   * per iteration and analysis time goes exponential otherwise (the
   * iterative-loop checkpoint invariant, CLAUDE.md).
   *
   * Reference scope: Grasper has no weighted-path operator; this is
   * part of the iterative-algorithm extension the Spark rebuild adds
   * (GraphX `shortestHops` covers the unweighted case).
   */
  def weightedShortestPaths(g: GraphStore, source: Long, weight: Column,
                            undirected: Boolean = true,
                            maxIters: Int = 64,
                            requireConverged: Boolean = false): DataFrame = {
    val spark = g.vertices.sparkSession
    val e0 = g.edges.select(col("src").as("u"), col("dst").as("v"),
      weight.cast("long").as("w"))
    val edges = (if (undirected)
        e0.union(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
      else e0)
      .filter(col("w") >= 0).localCheckpoint(false)

    val init = spark.range(1).select(lit(source).as("id"),
      lit(0L).as("distance"))
    var dist = init
    var frontier = init
    var iter = 0
    var done = false
    val unreachable = lit(Long.MaxValue)
    while (!done && iter < maxIters) {
      val cand = frontier.join(edges, frontier("id") === edges("u"))
        .select(col("v").as("id"), (col("distance") + col("w")).as("cand"))
        .groupBy("id").agg(min(col("cand")).as("cand"))
      val merged = dist.join(cand, Seq("id"), "full")
        .select(col("id"),
          least(coalesce(col("distance"), unreachable),
            coalesce(col("cand"), unreachable)).as("distance"),
          (coalesce(col("cand"), unreachable) <
            coalesce(col("distance"), unreachable)).as("__improved"))
        .localCheckpoint()
      frontier = merged.filter(col("__improved"))
        .select(col("id"), col("distance"))
      done = frontier.isEmpty
      dist = merged.select(col("id"), col("distance"))
      iter += 1
    }
    // convergence (an empty-frontier round) within maxIters rounds
    // certifies every shortest path has at most maxIters-1 hops — the
    // empty round itself consumes one iteration, so callers pinning a
    // bounded-walk oracle at H hops must pass maxIters = H + 1
    if (requireConverged && !done) throw new IllegalStateException(
      s"weightedShortestPaths did not converge within $maxIters rounds: " +
        s"some shortest path has ≥ $maxIters hops, so a bounded-walk " +
        s"oracle capped at ${maxIters - 1} hops would diverge")
    dist
  }

  /**
   * Link-prediction wedge counting: the top-`k` pairs of destination
   * vertices ranked by how many source vertices point at both
   * (common-neighbor score over `label` edges; ties broken by the pair
   * ids so the cut is deterministic). Per-source work is quadratic in
   * out-degree: `maxDegree` drops hub sources above the bound (a
   * celebrity node contributes O(deg²) pairs of near-zero
   * information); pass 0 to keep every source, as exact gates do.
   *
   * Skew guard: a plain self-equi-join on `src` puts ALL O(deg²)
   * wedge pairs of a hot source in one task — the same skew class as
   * tokenJaccard's hot-token posting lists (observed 8→47 s swings
   * there). Salt losslessly with the identical chunk-pair scheme:
   * split each source's dst list into chunks of `chunkSize` ids
   * (ordered by dst, so chunk order follows dst order), left side
   * emits its chunk × every later chunk, right side every earlier
   * chunk × its chunk, join on (src, left chunk, right chunk). Each
   * unordered dst pair meets exactly once (same-chunk pairs kept once
   * by the dst_a < dst_b filter); pairs-per-task is bounded by
   * chunkSize², and the row duplication factor is ⌈deg/chunk⌉ per
   * side — sub-linear in the deg² pair count it spreads out. Sources
   * with ≤ chunkSize dsts (the common case) produce exactly one
   * (c=0, m=1) cell, so the salt costs nothing off the hubs.
   */
  def commonNeighbors(g: GraphStore, label: String, k: Int,
                      maxDegree: Int = 0, chunkSize: Int = 512): DataFrame = {
    val e0 = g.edges.filter(col("label") === label)
      .select(col("src"), col("dst"))
    val e = if (maxDegree <= 0) e0 else {
      val deg = e0.groupBy("src").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") <= maxDegree).select(col("src"))
      e0.join(deg, "src")
    }
    saltedDstPairs(e, chunkSize)
      .groupBy(col("dst_a").as("id_a"), col("dst_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .orderBy(col("shared").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /**
   * All unordered `dst` pairs sharing a `src`, chunk-pair salted (the
   * skew scheme documented on [[commonNeighbors]]): each source's dst
   * list splits into id-ordered `chunkSize` chunks, the left side emits
   * its chunk × every later chunk, the right side every earlier chunk ×
   * its own, and the join key is (src, chunk, chunk) — every pair meets
   * exactly once, pairs-per-task ≤ chunkSize², and a source with one
   * chunk pays nothing. Input edges must be distinct per (src, dst).
   * Output: `(src, dst_a, dst_b)` with `dst_a < dst_b`.
   */
  private[graft] def saltedDstPairs(e: DataFrame,
                                    chunkSize: Int): DataFrame = {
    val bySrc = Window.partitionBy("src")
    // lazy checkpoint: the chunk window computes once and serves both
    // join sides narrow (src, dst, chunk) rows
    val chunked = e
      .withColumn("__c", ((row_number().over(bySrc.orderBy("dst")) - 1)
        / chunkSize).cast("int"))
      .withColumn("__m", ceil(count(lit(1)).over(bySrc) /
        lit(chunkSize.toDouble)).cast("int"))
      .localCheckpoint(false)
    val l = chunked.select(col("src"), col("dst").as("dst_a"),
      col("__c").as("__ci"),
      explode(sequence(col("__c"), col("__m") - 1)).as("__cj"))
    val r = chunked.select(col("src"), col("dst").as("dst_b"),
      explode(sequence(lit(0), col("__c"))).as("__ci"),
      col("__c").as("__cj"))
    l.join(r, Seq("src", "__ci", "__cj"))
      .filter(col("dst_a") < col("dst_b"))
      .select(col("src"), col("dst_a"), col("dst_b"))
  }

  /**
   * Undirected co-occurrence projection: pairs of `dst` vertices that
   * share at least `minShared` distinct `src` vertices over `label`
   * edges (e.g. parts bought together in ≥2 orders — the market-basket
   * graph that link-prediction and community detection run on).
   * [[commonNeighbors]] without the top-k cut; same salted wedge join,
   * so a hub source never concentrates its O(deg²) pairs in one task.
   * The `minShared` threshold is what keeps the projection sparse at
   * scale — co-occurring ≥2 times is quadratically rarer than once.
   * Output: `(id_a, id_b, shared)` with `id_a < id_b`, unique per pair.
   */
  def coOccurrencePairs(g: GraphStore, label: String, minShared: Int = 2,
                        chunkSize: Int = 512): DataFrame = {
    val spark = g.edges.sparkSession
    // the projection is the expensive substrate several gates share
    // (clustering, matching, weighted LPA) — memoize per (edge plan,
    // params) as a shared lazy cache (r11 verdict #5)
    val key = ("coocc", label, minShared, chunkSize,
      g.edges.queryExecution.analyzed.canonicalized)
    memoSubstrate(spark, key) {
      val e = g.edges.filter(col("label") === label)
        .select(col("src"), col("dst"))
      saltedDstPairs(e, chunkSize)
        .groupBy(col("dst_a").as("id_a"), col("dst_b").as("id_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
    }
  }

  /**
   * Association-rule mining over the co-occurrence projection (the
   * Apriori level-2 output every market-basket / query-suggestion
   * pipeline starts from): for each DIRECTED item pair A→B that
   * co-occurs in ≥ `minShared` baskets, emit the rule's support
   * (co-occurrence count), the antecedent's basket count, and the
   * classic quality measures rendered engine-exactly —
   * `conf_pm = support·1000 div cnt(A)` (confidence per-mille) and
   * `lift_pm = support·baskets·1000 div (cnt(A)·cnt(B))` (lift
   * per-mille). All arithmetic is int64 with floor division (Spark
   * `div` == DuckDB `//` on nonnegative ints); the int64 bound is
   * `support·baskets·1000 < 2⁶³` — fine to ~10⁶ baskets·10⁶ support;
   * past that drop lift and rank on confidence alone.
   *
   * Scale shape: the pair generation is the chunk-salted wedge join
   * ([[saltedDstPairs]]); item counts are a partial-aggregable
   * `count`; the two count joins are equi-joins on item id; the final
   * top-`k` is a `TakeOrderedAndProject` (per-partition heaps, no
   * global sort). The edge projection is made distinct per (src, dst)
   * once — basket membership, not multiplicity, is what support counts.
   * Output: `(ante, cons, support, cnt_ante, conf_pm, lift_pm)`.
   */
  def associationRules(g: GraphStore, label: String, minShared: Int = 2,
                       k: Int = 50, chunkSize: Int = 512): DataFrame = {
    val e = g.edges.filter(col("label") === label)
      .select(col("src"), col("dst")).distinct()
      .localCheckpoint(false) // feeds pairs, counts, and the basket total
    val baskets = e.select(col("src")).distinct().count()
    val pairs = saltedDstPairs(e, chunkSize)
      .groupBy(col("dst_a"), col("dst_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minShared)
    val cnt = e.groupBy(col("dst").as("__item"))
      .agg(count(lit(1)).as("__cnt"))
    val directed = pairs
      .select(col("dst_a").as("ante"), col("dst_b").as("cons"), col("support"))
      .unionAll(pairs.select(col("dst_b").as("ante"), col("dst_a").as("cons"),
        col("support")))
    directed
      .join(cnt.select(col("__item").as("ante"), col("__cnt").as("cnt_ante")),
        Seq("ante"))
      .join(cnt.select(col("__item").as("cons"), col("__cnt").as("cnt_cons")),
        Seq("cons"))
      .withColumn("conf_pm", expr("support * 1000 div cnt_ante"))
      .withColumn("lift_pm",
        expr(s"support * ${baskets}L * 1000 div (cnt_ante * cnt_cons)"))
      .select(col("ante"), col("cons"), col("support"), col("cnt_ante"),
        col("conf_pm"), col("lift_pm"))
      .orderBy(col("conf_pm").desc, col("support").desc, col("ante"),
        col("cons"))
      .limit(k)
  }

  /**
   * Neighborhood Jaccard similarity — the standard link-prediction
   * refinement of [[commonNeighbors]]: for each co-occurring pair,
   * `|N(a)∩N(b)| / |N(a)∪N(b)|` rendered engine-exactly as
   * `j_pm = shared·1000 div (deg(a)+deg(b)−shared)`. Same salted
   * wedge join and equi-joined degree counts as [[associationRules]];
   * the top-`k` cut is a `TakeOrderedAndProject`.
   * Output: `(id_a, id_b, shared, j_pm)` with `id_a < id_b`.
   */
  def neighborhoodJaccard(g: GraphStore, label: String, minShared: Int = 2,
                          k: Int = 50, chunkSize: Int = 512): DataFrame = {
    val e = g.edges.filter(col("label") === label)
      .select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    val pairs = saltedDstPairs(e, chunkSize)
      .groupBy(col("dst_a").as("id_a"), col("dst_b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val cnt = e.groupBy(col("dst").as("__item"))
      .agg(count(lit(1)).as("__cnt"))
    pairs
      .join(cnt.select(col("__item").as("id_a"), col("__cnt").as("__da")),
        Seq("id_a"))
      .join(cnt.select(col("__item").as("id_b"), col("__cnt").as("__db")),
        Seq("id_b"))
      .withColumn("j_pm", expr("shared * 1000 div (__da + __db - shared)"))
      .select(col("id_a"), col("id_b"), col("shared"), col("j_pm"))
      .orderBy(col("j_pm").desc, col("shared").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /**
   * Per-vertex BUTTERFLY counts (bipartite 4-cycles) — the bipartite
   * graph's triangle analog (Sanei-Mehri et al., KDD 2018): a
   * butterfly is two "source" vertices sharing two "destination"
   * vertices (two orders sharing two parts), the motif behind
   * bipartite clustering coefficients and fraud/lockstep detection
   * where triangle machinery is useless (bipartite graphs have none).
   * For destination vertex v: butterflies(v) = Σ over co-occurrence
   * partners u of C(shared(v,u), 2) — computed entirely on the
   * [[coOccurrencePairs]] projection (chunk-salted wedge join, so a
   * celebrity source fans out in bounded chunks), one int64 projection
   * and one partial-aggregable sum on top. No floats anywhere.
   * Output: `(id, butterflies)` for vertices in ≥1 counted pair.
   */
  def butterflyCounts(g: GraphStore, label: String,
                      minShared: Int = 2,
                      chunkSize: Int = 512): DataFrame = {
    val pairs = coOccurrencePairs(g, label, minShared, chunkSize)
      .withColumn("__b", expr("shared * (shared - 1) div 2"))
    pairs.select(col("id_a").as("id"), col("__b"))
      .union(pairs.select(col("id_b").as("id"), col("__b")))
      .groupBy(col("id")).agg(sum(col("__b")).as("butterflies"))
  }

  /**
   * Per-vertex triangle counts over an undirected edge list
   * (`id_a < id_b`, unique per pair — [[coOccurrencePairs]] output
   * shape). Degree-oriented enumeration (the compact-forward /
   * Latapy scheme every serious triangle counter uses): orient each
   * edge toward the higher-(degree, id) endpoint, generate wedges only
   * from each vertex's OUT-neighbours, and close them against the
   * original id-ordered edge set. Orientation bounds out-degree by
   * O(√m) on any graph, so the wedge count is O(m^1.5) total instead
   * of Σdeg² — the difference between hours and minutes on a
   * power-law graph — and each triangle {a,b,c} is generated exactly
   * once (at its unique out-degree-2 apex). The wedge self-join is
   * additionally chunk-salted via [[saltedDstPairs]], so even the
   * post-orientation max-degree hub spreads across tasks. Both joins
   * are equi-joins; closing probes the edge set semi-style.
   * Output: `(id, triangles)` for vertices in ≥1 triangle.
   */
  def triangleCounts(pairs: DataFrame, chunkSize: Int = 512): DataFrame =
    // pairs feeds degree counting, orientation, and the closing probe —
    // lazy-checkpoint so the (possibly expensive) pair lineage runs once
    triangleCountsOn(
      pairs.select(col("id_a"), col("id_b")).localCheckpoint(false),
      chunkSize)

  /** [[triangleCounts]] body over an already-materialization-safe `p`
    * (callers that reuse the pair set pass their own checkpoint). */
  private def triangleCountsOn(p: DataFrame, chunkSize: Int): DataFrame =
    triangleRows(p, chunkSize)
      .select(explode(array(col("src"), col("id_a"), col("id_b")))
        .as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

  /**
   * Local clustering coefficient: for every vertex of degree ≥ 2,
   * `2·triangles / (degree·(degree−1))` — the fraction of its
   * neighbour pairs that are themselves connected, the standard
   * small-world/community signal. Rides [[triangleCounts]]'s oriented
   * enumeration over ONE shared checkpoint of the pair set; the only
   * extra work is a degree aggregation and one join. Integer counts
   * up to the single final division (rounded 4 for display), so the
   * oracle reproduces it exactly.
   * Output: `(id, degree, triangles, coeff)`.
   */
  def clusteringCoefficients(pairs: DataFrame,
                             chunkSize: Int = 512): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    val deg = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triangleCountsOn(p, chunkSize), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
          (col("degree") * (col("degree") - 1)), 4).as("coeff"))
  }

  /**
   * k-core: the maximal subgraph in which every vertex keeps degree
   * ≥ k, by iterative peeling — drop sub-k vertices, recompute
   * degrees, repeat to fixpoint. Input is an undirected edge list
   * (`id_a < id_b`, unique per pair). Each round is one aggregation +
   * two semi-joins; rounds localCheckpoint (the iterative-loop
   * invariant: cache truncates execution but not the logical plan).
   * Convergence is certified by edge-count stability — peeling only
   * removes edges, so an unchanged count means an unchanged set.
   * `requireConverged` throws if the fixpoint needs > `maxRounds`
   * rounds (the DuckDB oracle unrolls exactly `maxRounds` peels, so a
   * slower-converging graph at a larger sf must fail loudly rather
   * than silently diverge — the graph_sssp pattern). Peeling rounds
   * are O(longest degeneracy chain); real graphs converge in tens of
   * rounds, and each round shrinks the data it shuffles.
   * Output: `(id, core_degree)` — degree within the k-core.
   */
  def kCore(pairs: DataFrame, k: Int, maxRounds: Int = 12,
            requireConverged: Boolean = true): DataFrame = {
    def peel(in: DataFrame): DataFrame = {
      val keep = in.select(col("id_a").as("id"))
        .union(in.select(col("id_b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("id"))
      in.join(keep.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
        .join(keep.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
    }
    val e = peelToFixpoint(pairs, maxRounds, requireConverged,
      s"kCore(k=$k)")(peel)
    e.select(col("id_a").as("id")).union(e.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
  }

  /** The peel loop [[kCore]] and [[kTruss]] share: apply `peel` (one
    * checkpointed round) to the canonical `(id_a, id_b)` pairs until
    * the edge count stops changing, at most `maxRounds` times. Peeling
    * only removes edges, so an unchanged count means an unchanged set.
    * Before failing, one extra CERTIFICATION round: a peel chain that
    * shrank on every round can still reach the fixpoint exactly at
    * round `maxRounds`, and peeling is monotone, so a no-op round here
    * proves the `maxRounds`-round set the unrolled oracle describes is
    * already final. The extra round is check-only; the returned set is
    * the `maxRounds`-round one either way it passes. */
  private def peelToFixpoint(pairs: DataFrame, maxRounds: Int,
                             requireConverged: Boolean, what: String)(
      peel: DataFrame => DataFrame): DataFrame = {
    var e = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    var prev = e.count()
    var round = 0
    var converged = prev == 0L
    while (!converged && round < maxRounds) {
      val next = peel(e)
      val n = next.count()
      converged = n == prev || n == 0L
      prev = n
      e = next
      round += 1
    }
    if (!converged && requireConverged && peel(e).count() != prev)
      throw new IllegalStateException(
        s"$what did not converge in $maxRounds rounds — a " +
        s"$maxRounds-round unrolled oracle would diverge")
    e
  }

  /**
   * Truncated multi-source BFS from a fixed landmark set — the
   * pivot/landmark scheme every at-scale closeness/centrality
   * estimator uses (exact all-pairs closeness is O(n·m) and dead on
   * arrival at 10⁹ vertices; L landmarks cost L BFS sweeps and the
   * landmark distance sums are the standard proxy). Distances are
   * truncated at `maxHops` — truncation IS the semantics (harmonic/
   * closeness-within-H), so the operator is deterministic and
   * oracle-exact at any scale with no convergence requirement.
   *
   * Each round joins the (landmark, vertex) frontier against the
   * undirected edge list — pre-partitioned ONCE on the join key so no
   * round re-shuffles the (big) edge side (the LPA move) — anti-joins
   * the visited set, and localCheckpoints (the iterative-loop
   * invariant). An empty frontier short-circuits. All integers.
   * Output: `(id, n_reached, dist_sum)` — how many landmarks reach the
   * vertex within `maxHops` and the sum of those hop distances
   * (landmarks score themselves at distance 0).
   */
  def landmarkDistances(g: GraphStore, landmarks: Seq[Long],
                        maxHops: Int = 4): DataFrame =
    landmarkBfs(g, landmarks, maxHops).groupBy("id")
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("dist_sum"))

  /**
   * Harmonic centrality within `maxHops` from the landmark set — the
   * Σ 1/d estimator, which unlike closeness handles disconnected
   * vertices gracefully (unreached pairs contribute 0, no ∞). The
   * per-pair contributions are EXACT TWELFTHS (12/d is integral for
   * every d ≤ 4), so the compared output is pure int64 — no 1/d float
   * sums cross engines. Same truncated multi-source BFS substrate as
   * [[landmarkDistances]] (truncation is the semantics).
   * Output: `(id, harmonic_12)` = Σ over reaching landmarks of 12/d,
   * landmarks' self-distance-0 rows excluded.
   */
  def harmonicCentrality(g: GraphStore, landmarks: Seq[Long],
                         maxHops: Int = 3): DataFrame = {
    require(maxHops <= 4,
      s"harmonic twelfths are exact only for maxHops <= 4, got $maxHops")
    landmarkBfs(g, landmarks, maxHops)
      .filter(col("dist") > 0)
      .groupBy("id")
      .agg(sum(expr("12 div dist")).as("harmonic_12"))
  }

  /** Truncated multi-source BFS: `(lm, id, dist)` for every vertex
    * within `maxHops` of a landmark (landmarks at distance 0). The
    * shared substrate of [[landmarkDistances]] / [[harmonicCentrality]]:
    * edge list pre-partitioned ONCE on the join key, per-round
    * localCheckpoint, empty-frontier short-circuit. */
  private def landmarkBfs(g: GraphStore, landmarks: Seq[Long],
                          maxHops: Int): DataFrame = {
    require(landmarks.nonEmpty, "landmarkBfs needs landmarks")
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val spark = g.edges.sparkSession
    import spark.implicits._
    // shared cached face — dedup/loop-drop don't change BFS hop
    // distances, so the canonical face serves this family verbatim
    val und = undirectedFace(g)
    var frontier = landmarks.toDF("lm")
      .select(col("lm"), col("lm").as("id")).localCheckpoint()
    var visited = frontier.withColumn("dist", lit(0L)).localCheckpoint()
    var h = 1
    var done = false
    while (h <= maxHops && !done) {
      val next = frontier.join(und, frontier("id") === und("src"))
        .select(col("lm"), col("dst").as("id")).distinct()
        .join(visited.select("lm", "id"), Seq("lm", "id"), "left_anti")
        .localCheckpoint()
      done = next.isEmpty
      if (!done) {
        visited = visited
          .union(next.withColumn("dist", lit(h.toLong)))
          .localCheckpoint()
        frontier = next
      }
      h += 1
    }
    visited
  }

  /**
   * Landmark-approximate betweenness centrality — Brandes (2001)
   * dependency accumulation from a deterministic landmark subset (the
   * standard sampling estimator: exact betweenness runs one source
   * per VERTEX, which is O(n·m) — never the 100 TB plan; k fixed
   * sources is the textbook approximation, and the smallest-id choice
   * keeps it seedless). `maxDepth` additionally bounds the paths
   * considered — the bounded-distance betweenness variant
   * (Borgatti/Everett "k-betweenness"): like [[landmarkDistances]],
   * the truncation IS the semantics, and it is what bounds the
   * frontier on a small-diameter 100 TB graph where depth 4+ reaches
   * nearly every vertex. Undirected, unweighted.
   *
   * Forward pass: level-synchronous multi-source BFS carrying exact
   * int64 shortest-path counts σ (one keyed join + partial-agg sum
   * per level, all landmarks ride one frontier — the
   * [[landmarkDistances]] shape). Backward pass: per level d,
   * δ(v) = Σ_{succ w} (σ_v/σ_w)·(1+δ(w)) — one keyed join per level
   * against the NEXT level's δ. Both loops localCheckpoint per round
   * (the iterative-plan invariant). δ is a double (the σ ratios are
   * rationals — same by-nature float territory as PageRank, so the
   * gate is rows-only with a driver-replica tolerance spec).
   * Output: `(id, bc)` for every vertex reached from ≥1 landmark,
   * landmarks excluded; `bc` rounded to 4dp for display AFTER
   * accumulation.
   */
  def betweenness(g: GraphStore, nLandmarks: Int = 8,
                  maxDepth: Int = 8): DataFrame = {
    require(nLandmarks >= 1 && maxDepth >= 1, "bad betweenness params")
    val spark = g.edges.sparkSession
    import spark.implicits._
    val und = g.edges.select(col("src"), col("dst"))
      .union(g.edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint(false)
    val landmarks = g.vertices.select(col("id"))
      .orderBy(col("id")).limit(nLandmarks)
      .as[Long].collect().toSeq
    // forward: levels(d) = (lm, id, sigma) at distance d
    var levels = Vector(landmarks.toDF("lm")
      .select(col("lm"), col("lm").as("id"), lit(1L).as("sigma"))
      .localCheckpoint())
    // the visited set for the anti-join is the lazy union of the
    // already-checkpointed levels — never a re-checkpointed growing
    // accumulator (which would rewrite O(rounds²) rows)
    def visited = levels.map(_.select(col("lm"), col("id")))
      .reduce(_ union _)
    var d = 1
    var done = false
    while (d <= maxDepth && !done) {
      val next = levels(d - 1)
        .join(und, levels(d - 1)("id") === und("src"))
        .select(col("lm"), col("dst").as("id"), col("sigma"))
        .join(visited, Seq("lm", "id"), "left_anti")
        .groupBy(col("lm"), col("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .localCheckpoint()
      done = next.isEmpty
      if (!done) levels = levels :+ next
      d += 1
    }
    // backward: delta(d) keyed by (lm, id); deepest level has delta 0
    var delta = levels.last.select(col("lm"), col("id"),
      lit(0.0).as("delta")).localCheckpoint()
    // per-level deltas are each checkpointed; union them ONCE at the
    // end — re-checkpointing a growing accumulator every round would
    // rewrite O(levels²) rows
    var deltas = Vector(delta)
    for (dd <- (levels.size - 2) to 0 by -1) {
      val nextL = levels(dd + 1)
        .join(delta, Seq("lm", "id"))
        .select(col("lm"), col("id").as("__w"),
          col("sigma").as("__sw"), col("delta").as("__dw"))
      val cur = levels(dd)
        .join(und, levels(dd)("id") === und("src"))
        .select(col("lm"), col("id"), col("sigma"),
          col("dst").as("__w"))
        .join(nextL, Seq("lm", "__w"))
        .groupBy(col("lm"), col("id"))
        .agg(sum(col("sigma") / col("__sw") * (lit(1.0) + col("__dw")))
          .as("delta"))
      // vertices at this level with no successors get delta 0
      delta = levels(dd)
        .join(cur.select(col("lm"), col("id"), col("delta")),
          Seq("lm", "id"), "left")
        .select(col("lm"), col("id"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint()
      deltas = deltas :+ delta
    }
    deltas.reduce(_ union _)
      .filter(!col("id").isin(landmarks: _*))
      .groupBy(col("id"))
      .agg(round(sum(col("delta")), 4).as("bc"))
  }

  /**
   * Degree histogram over the edge-incident vertices (total degree,
   * in + out): the first diagnostic of any graph workload — scale-free
   * vs uniform degree structure decides skew strategy (salting, hub
   * caps, AQE skew joins) before any algorithm runs. Two partial-
   * aggregable counts; the reduce side is #distinct-degrees-bounded.
   * Vertices with no edges are absent by definition.
   */
  def degreeHistogram(g: GraphStore): DataFrame =
    g.edges.select(col("src").as("id"))
      .union(g.edges.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("vertices"))

  /**
   * Degree-assortativity MOMENTS: the exact int64 sufficient
   * statistics (n, Σdx, Σdy, Σdx·dy, Σdx², Σdy²) of the per-edge
   * (source-degree, target-degree) pairs, from which the Pearson
   * assortativity coefficient is one driver-side formula. Emitting the
   * moments instead of the coefficient keeps the compared output pure
   * integers (the coefficient needs two sqrt's — cross-engine float
   * territory), and moments merge map-side at constant size — the same
   * contract as every sketch in this library. Degrees are total
   * (in + out) over the full edge set.
   */
  def assortativityMoments(g: GraphStore): DataFrame = {
    val deg = g.edges.select(col("src").as("id"))
      .union(g.edges.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    g.edges.select(col("src"), col("dst"))
      .join(deg.select(col("id").as("src"), col("degree").as("dx")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dy")), "dst")
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sum_dx"), sum(col("dy")).as("sum_dy"),
        sum(col("dx") * col("dy")).as("sum_dxdy"),
        sum(col("dx") * col("dx")).as("sum_dx2"),
        sum(col("dy") * col("dy")).as("sum_dy2"))
  }

  /** Triangles of an undirected canonical edge set (`id_a < id_b`,
    * unique per pair), one row per triangle as `(src, id_a, id_b)` —
    * the oriented-wedge apex plus the closing edge. Shared by
    * [[triangleCounts]]-style vertex aggregation and [[kTruss]]'s
    * per-edge support. Input must already be materialization-safe. */
  private def triangleRows(p: DataFrame, chunkSize: Int): DataFrame = {
    val deg = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__d"))
    val oriented = p
      .join(deg.select(col("id").as("id_a"), col("__d").as("__da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("__d").as("__db")), "id_b")
      .select(
        when(col("__da") < col("__db") ||
            (col("__da") === col("__db") && col("id_a") < col("id_b")),
          struct(col("id_a").as("s"), col("id_b").as("d")))
          .otherwise(struct(col("id_b").as("s"), col("id_a").as("d")))
          .as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
    saltedDstPairs(oriented, chunkSize)
      .withColumnRenamed("dst_a", "id_a").withColumnRenamed("dst_b", "id_b")
      .join(p, Seq("id_a", "id_b"), "left_semi")
  }

  /** Per-edge triangle support over a canonical edge set: each
    * triangle credits its three (canonical) edges once. */
  private def edgeSupport(p: DataFrame, chunkSize: Int): DataFrame =
    triangleRows(p, chunkSize)
      .select(explode(array(
        struct(least(col("src"), col("id_a")).as("id_a"),
          greatest(col("src"), col("id_a")).as("id_b")),
        struct(least(col("src"), col("id_b")).as("id_a"),
          greatest(col("src"), col("id_b")).as("id_b")),
        struct(col("id_a").as("id_a"), col("id_b").as("id_b"))))
        .as("e"))
      .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("support"))

  /**
   * k-truss: the maximal subgraph in which every edge participates in
   * ≥ k−2 triangles — the cohesion notion BETWEEN k-core (degree) and
   * clique (every edge fully supported), and the standard community-
   * backbone extractor. Iterative edge peeling: compute per-edge
   * triangle support, drop edges below k−2, repeat to fixpoint (an
   * edge drop can destroy a surviving edge's triangles, so one pass is
   * not enough).
   *
   * Each round's support pass is the [[triangleCounts]] machinery —
   * degree-oriented wedges (O(m^1.5) bound) with the chunk-salted
   * self-join — so a round costs one triangle enumeration plus one
   * aggregation and a semi-join, and every round shrinks the edge set
   * it runs on. Rounds localCheckpoint (the iterative-loop invariant).
   * Convergence is certified by edge-count stability, with the
   * [[kCore]] boundary pattern: if the chain shrank on every round up
   * to `maxRounds`, one extra CHECK-ONLY round proves the fixpoint
   * (peeling is monotone) rather than throwing on the exact-boundary
   * case. `requireConverged` throws past that — the oracle unrolls
   * exactly `maxRounds` peels, so a slower-converging graph at a
   * larger sf must fail loudly rather than silently diverge.
   *
   * Output: `(id_a, id_b, support)` — the surviving edges with their
   * support measured IN the truss (one final support pass over the
   * converged set, which the converged round already equals).
   */
  def kTruss(pairs: DataFrame, k: Int, maxRounds: Int = 4,
             requireConverged: Boolean = true,
             chunkSize: Int = 512): DataFrame = {
    require(k >= 3, s"kTruss needs k >= 3, got $k")
    def peel(in: DataFrame): DataFrame =
      in.join(
        edgeSupport(in, chunkSize).filter(col("support") >= k - 2)
          .select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), "left_semi")
        .localCheckpoint()
    val e = peelToFixpoint(pairs, maxRounds, requireConverged,
      s"kTruss(k=$k)")(peel)
    e.join(edgeSupport(e, chunkSize), Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("support"))
  }

  /** Deterministic Luby priority for vertex column `name`: a 30-bit
    * md5-derived uniform draw packed with the id into ONE int64,
    * `(h % 2^30)·2^31 + id` — lexicographic (h, id), a strict total
    * order (ids are unique), so "local minimum" never ties. Ids must
    * stay < 2^31 (all TPC-H graph ids do: part = key + 2e9 < 2.147e9);
    * 32-bit md5 halves travel engine-portably per the house hex-parse
    * idiom (`conv` here, `CAST('0x'||…)` in DuckDB). */
  private def lubyPrio(name: String): Column = expr(
    s"(cast(conv(substring(md5(cast($name as string)), 1, 8), 16, 10) " +
    s"as bigint) % 1073741824) * 2147483648 + $name")

  /**
   * Maximal independent set by Luby's algorithm with DETERMINISTIC
   * md5-derived priorities — the classic symmetry-breaking primitive
   * behind parallel graph coloring / scheduling (Luby, SIAM J. Comput.
   * 1986). Input is an undirected pair list (`id_a < id_b`, unique per
   * pair). Each round, every still-active vertex whose priority is a
   * strict local minimum among its active neighbors joins the set;
   * winners and their neighbors deactivate. With uniform priorities the
   * expected round count is O(log n); the fixed-priority variant here
   * re-draws nothing (same md5 draw each round) which only changes
   * constants, not correctness — every round the globally smallest
   * active priority always wins, so progress is guaranteed.
   *
   * Scale shape: one aggregation + four (semi/anti) equi-joins per
   * round, all on the vertex id; the local-minimum test is a
   * partial-aggregable `min` over neighbor priorities (a celebrity
   * vertex's neighbor list combines map-side — never a per-vertex
   * window). Rounds localCheckpoint (the iterative-loop invariant);
   * the returned set is the lazy union of per-round checkpointed
   * winner frontiers (never a re-checkpointed growing accumulator).
   * `requireConverged` throws if the active set survives `maxRounds` —
   * a `maxRounds`-round unrolled oracle would diverge (graph_sssp
   * pattern); converging early is fine (later oracle rounds are empty).
   * Output: `(id)` — the MIS members.
   */
  def maximalIndependentSet(pairs: DataFrame, maxRounds: Int = 8,
                            requireConverged: Boolean = true): DataFrame = {
    val e0 = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    var active = e0.select(col("id_a").as("id"))
      .union(e0.select(col("id_b").as("id"))).distinct()
      .localCheckpoint()
    var remaining = active.count()
    var winnersAcc = List.empty[DataFrame]
    var round = 0
    while (remaining > 0L && round < maxRounds) {
      val ea = e0
        .join(active.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
        .join(active.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
      val nbr = ea.select(col("id_a").as("u"), col("id_b").as("v"))
        .union(ea.select(col("id_b").as("u"), col("id_a").as("v")))
      val minNbr = nbr.groupBy(col("u").as("id"))
        .agg(min(lubyPrio("v")).as("__mn"))
      val winners = active.join(minNbr, Seq("id"), "left")
        .filter(col("__mn").isNull || lubyPrio("id") < col("__mn"))
        .select(col("id"))
        .localCheckpoint()
      val removed = winners
        .union(nbr.join(winners.select(col("id").as("u")), Seq("u"),
          "left_semi").select(col("v").as("id")))
        .distinct()
      active = active.join(removed, Seq("id"), "left_anti")
        .localCheckpoint()
      winnersAcc ::= winners
      remaining = active.count()
      round += 1
    }
    if (remaining > 0L && requireConverged)
      throw new IllegalStateException(
        s"maximalIndependentSet did not converge in $maxRounds rounds " +
        s"($remaining vertices still active) — a $maxRounds-round " +
        "unrolled oracle would diverge")
    if (winnersAcc.isEmpty) e0.select(col("id_a").as("id")).limit(0)
    else winnersAcc.reduce(_ union _).select(col("id"))
  }

  /** Deterministic edge priority for [[maximalMatching]]: md5 of the
    * canonical `"a:b"` pair string (the cross-engine 32-bit idiom of
    * [[lubyPrio]]) shifted up, plus `(id_a+id_b) mod 2^31` as the
    * tiebreak — ADJACENT edges share one endpoint and differ in the
    * other, so their endpoint sums differ and the priority order is
    * strict among every pair of adjacent edges (a tie would deadlock
    * the local-minimum rule; non-adjacent ties are harmless).
    *
    * Id-domain PRECONDITION (r10 advice; the successorRings
    * string-ordering-caveat pattern): the tiebreak sums are taken mod
    * 2^31, so strictness among adjacent edges (a,b) vs (a,c) needs
    * `|b − c| < 2^31` — guaranteed when all vertex ids fit in
    * `[0, 2^31)`, which covers the TPC-H graph's id arithmetic
    * (max ≈ 2.2e9 + partkey < 2^31.2 ... the DIFFERENCE of two ids is
    * what matters, and it is < 2^31 whenever ids span < 2^31).
    * [[maximalMatching]] enforces the span bound with a fail-loud
    * check; callers with wider id ranges must re-key first. */
  private def edgePrio(a: String, b: String): Column = expr(
    s"(cast(conv(substring(md5(concat(cast($a as string), ':', " +
    s"cast($b as string))), 1, 8), 16, 10) as bigint) % 1073741824) " +
    s"* 2147483648 + pmod($a + $b, 2147483648)")

  /**
   * Maximal matching by parallel local-minimum edge selection — Luby
   * symmetry-breaking on the line graph (the Israeli-Itai idiom with
   * fixed deterministic priorities): each round, an edge whose
   * priority is the strict minimum among all edges at BOTH of its
   * endpoints joins the matching; its endpoints' remaining edges
   * deactivate. With a strict priority order on adjacent edges the
   * result is exactly the sequential greedy matching by ascending
   * priority (the lexicographically-first maximal matching), so a
   * driver replica can verify it and an unrolled oracle describes the
   * same fixpoint. Maximal (no augmenting-edge left), not maximum —
   * the standard ≥1/2-approximation every distributed dedup-pairing /
   * resource-assignment pass uses.
   *
   * Input: undirected pair list (`id_a < id_b`, unique per pair).
   * Output: `(id_a, id_b)` — the matched pairs.
   *
   * Scale shape: one partial-aggregable min per vertex (a celebrity
   * vertex's incident-edge priorities combine map-side — never a
   * per-vertex window), two equi-joins to test the min at both
   * endpoints, two anti-joins to deactivate — all on vertex ids;
   * rounds localCheckpoint (the iterative-loop invariant); the
   * matching is the lazy union of per-round checkpointed winner
   * frontiers. `requireConverged` throws past `maxRounds` (the
   * unrolled-oracle contract of [[maximalIndependentSet]]).
   */
  def maximalMatching(pairs: DataFrame, maxRounds: Int = 8,
                      requireConverged: Boolean = true): DataFrame = {
    var ea = pairs.select(col("id_a"), col("id_b"),
      edgePrio("id_a", "id_b").as("__p")).localCheckpoint()
    // [[edgePrio]]'s strict-adjacent-order argument needs the id SPAN
    // under 2^31 (the tiebreak is mod 2^31); fail loud instead of
    // risking a local-minimum deadlock / oracle divergence on wider
    // domains (one cheap aggregate over the checkpointed edge set)
    val span = ea.agg(
        min(least(col("id_a"), col("id_b"))).cast("long"),
        max(greatest(col("id_a"), col("id_b"))).cast("long"))
      .collect().headOption
    span.filter(r => !r.isNullAt(0)).foreach { r =>
      require(r.getLong(1) - r.getLong(0) < (1L << 31),
        s"maximalMatching needs vertex-id span < 2^31 for strict " +
        s"adjacent-edge priorities (got [${r.getLong(0)}, " +
        s"${r.getLong(1)}]) — re-key ids first")
    }
    var remaining = ea.count()
    var winnersAcc = List.empty[DataFrame]
    var round = 0
    while (remaining > 0L && round < maxRounds) {
      val inc = ea.select(col("id_a").as("__v"), col("__p"))
        .union(ea.select(col("id_b").as("__v"), col("__p")))
      val vmin = inc.groupBy(col("__v")).agg(min(col("__p")).as("__mn"))
      val winners = ea
        .join(vmin.select(col("__v").as("id_a"), col("__mn").as("__ma")),
          Seq("id_a"))
        .join(vmin.select(col("__v").as("id_b"), col("__mn").as("__mb")),
          Seq("id_b"))
        .filter(col("__p") === col("__ma") && col("__p") === col("__mb"))
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val matchedV = winners.select(col("id_a").as("__v"))
        .union(winners.select(col("id_b").as("__v"))).distinct()
      ea = ea
        .join(matchedV.select(col("__v").as("id_a")), Seq("id_a"),
          "left_anti")
        .join(matchedV.select(col("__v").as("id_b")), Seq("id_b"),
          "left_anti")
        .localCheckpoint()
      winnersAcc ::= winners
      remaining = ea.count()
      round += 1
    }
    if (remaining > 0L && requireConverged)
      throw new IllegalStateException(
        s"maximalMatching did not converge in $maxRounds rounds " +
        s"($remaining edges still active) — a $maxRounds-round " +
        "unrolled oracle would diverge")
    if (winnersAcc.isEmpty) pairs.select(col("id_a"), col("id_b")).limit(0)
    else winnersAcc.reduce(_ union _).select(col("id_a"), col("id_b"))
  }
}
