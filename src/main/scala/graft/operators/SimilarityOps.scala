package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`Array[Float]`).
 *
 *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small)
 *    query set against the corpus; one pass, no index. The correctness
 *    baseline.
 *  - [[lshTopK]]: random-hyperplane LSH — corpus bucketed by sign-bit
 *    signature, queries probe their own bucket plus all 1-bit-flip
 *    neighbors. Turns the n×m product into an equi-join on bucket id;
 *    the 100 TB scale path.
 *
 * Vector math is `zip_with` + `aggregate` Column expressions: the dot
 * product stays inside whole-stage codegen, element order is
 * left-to-right deterministic (bitwise-reproducible across engines).
 */
object SimilarityOps {

  /** Dot product of two float/double-array columns, accumulated in
    * double — a native Catalyst expression (one JVM call per row; the
    * `zip_with`+`aggregate` HOF equivalent interprets its lambda per
    * element and is ~100× slower on brute-force scans). Requires
    * [[graft.functions.VectorExpressions.register]] on the session;
    * all operators here do that themselves. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /**
   * Bounded per-key top-`k` cut — the shared rank stage of every ANN
   * face here. Replaces `row_number().over(partitionBy(key)
   * .orderBy(score, id)) … filter(rank <= k)`: the window drags each
   * key's FULL candidate set through one task's sort (for the exact
   * faces that set is the whole corpus per query), while
   * [[graft.functions.BoundedMinPairs]] is partial-aggregable — map
   * tasks keep ≤k pairs per key, the shuffle carries ≤k entries per
   * (partition, key), the reduce merge is a bounded multiset union.
   * Selection and order equal the window formulation exactly (ties by
   * id ascending; duplicate (score, id) rows carry multiplicity); the
   * raw score is reconstructed exactly (negation is exact in IEEE
   * doubles). Requires a LONG-castable id (every vec_id here). NaN
   * scores are EXCLUDED before the cut: a NaN cosine (zero-norm
   * vector, 0/0) is an undefined similarity, and the two
   * formulations rank NaN oppositely (desc windows sort NaN
   * greatest = rank 1; the negated aggregate's total order ranks it
   * last) — filtering makes the parity contract hold on ARBITRARY
   * inputs instead of resting on fixture data never producing one.
   * Output: `(keyCol, idCol, scoreCol, rank)` — rank 1-based, ranked
   * on the RAW score.
   */
  private[graft] def boundedTopK(df: DataFrame, keyCol: String,
                                 idCol: String, scoreCol: String, k: Int,
                                 descending: Boolean): DataFrame = {
    val sk = if (descending) -col(scoreCol) else col(scoreCol)
    df.filter(!isnan(col(scoreCol).cast("double")))
      .groupBy(col(keyCol))
      .agg(graft.functions.VectorExpressions.boundedMinPairs(
        sk.cast("double"), col(idCol).cast("long"), k).as("__top"))
      .select(col(keyCol),
        posexplode(col("__top")).as(Seq("__pos", "__pair")))
      .select(col(keyCol),
        col("__pair.id").as(idCol),
        (if (descending) -col("__pair.s") else col("__pair.s"))
          .as(scoreCol),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /**
   * Exact top-k by cosine for each query vector. `queries` is expected
   * to be small (it is broadcast); ties broken by corpus id for
   * determinism. Returns `(query_id, neighbor_id, cosine, rank)`.
   */
  /** Width floor for a SMALL frame about to feed a superlinear kernel
    * (an n·|queries| broadcast-crossJoin scan, an all-pairs self-join):
    * a single parquet file holds ONE row group, so however the scan's
    * byte ranges split, every row lands in one task and the whole
    * n²-flop stage runs on one core (measured: embed_knn_graph's 3 s
    * of task time at parallelism ≈ 1). One tiny round-robin exchange
    * spreads the rows across the session's shuffle width (opt guide
    * §2.2/§6 — scan parallelism floors). Gated on the plan's size
    * ESTIMATE so a big corpus never pays a repartition it doesn't
    * need: above [[WidenMaxBytes]] (or when stats are unknown — e.g. a
    * checkpointed input, which already carries its own partitioning)
    * the frame passes through untouched; the superlinear faces at
    * archive scale already have input parallelism from their file
    * splits. Only order-free consumers (per-row scoring, argmin/top-k
    * cuts, integer kernels) may widen — round-robin changes row
    * order.
    *
    * `minBytes` is the WORK-FLOOR gate (r13 verdict #1: below the
    * 256 MB upper gate the widen fired unconditionally, and on faces
    * whose per-row work is bounded — a broadcast-crossJoin against a
    * BOUNDED query set — a 2000-row corpus paid a full exchange +
    * 32-task wave that cost more than the one-task stage it replaced:
    * ann_topk 0.352→0.624 s, embed_maxsim_rerank 0.896→1.384 s). The
    * widened frame's bytes cannot measure the MULTIPLIER (the same
    * embeddings table feeds both ann_topk's 10×n scan and
    * embed_knn_graph's n² self-join), so the discriminator is the
    * call site's consumer shape:
    *  - SELF-superlinear consumers (all-pairs/bucket self-joins —
    *    work ∝ n² in the widened frame) widen unconditionally below
    *    the upper gate: even a 1 MB frame carries n²·dim flops.
    *  - BOUNDED-multiplier consumers (bruteForceTopK / radiusSearch /
    *    maxSimViews — work ∝ n × |queries| with |queries| bounded by
    *    the broadcast contract) pass [[WidenMinBytes]]: a frame under
    *    it finishes faster serially than the exchange costs, while a
    *    mid-size corpus (16–256 MB) still widens. */
  private[operators] def widenSmall(df: DataFrame,
                                    minBytes: Long = 0L): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= WidenMaxBytes && est >= minBytes)
      df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
    else df
  }
  private[operators] val WidenMaxBytes: Long = 256L << 20
  private[operators] val WidenMinBytes: Long = 16L << 20

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"))
    val c = widenSmall(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn")),
      minBytes = WidenMinBytes) // bounded-query face: see widenSmall
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(scored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /**
   * Exact cosine RADIUS search: every corpus vector within cosine
   * ≥ `tau` of each query (the "give me everything similar enough"
   * face of retrieval, vs top-k's fixed depth) — candidate
   * generation for clustering, recall-complete near-dup audits, and
   * threshold-based retrieval evaluation. The filter tests the RAW
   * similarity (the cross-engine float invariant: round only for
   * display). Scale shape: the query set broadcasts (bounded, like
   * bruteForceTopK's); the corpus side is one codegen'd scan — no
   * shuffle at all, and no rank window since radius, not depth,
   * bounds the output. For unbounded query sets, bucket through
   * [[lshTopK]]'s tables first and use this as the verify pass.
   */
  def radiusSearch(queries: DataFrame, corpus: DataFrame, tau: Double,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"))
    val c = widenSmall(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn")),
      minBytes = WidenMinBytes) // bounded-query face: see widenSmall
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .filter(col("cosine") >= tau)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
  }

  /**
   * ColBERT-style late-interaction (MaxSim) top-k: each vector is
   * viewed as `tokens` contiguous sub-vectors ("token embeddings");
   * score(q, d) = Σ over query tokens of the MAX cosine against any
   * document token (Khattab & Zaharia, SIGIR'20). Multi-vector
   * retrieval keeps per-token detail a single pooled vector loses —
   * the standard rerank face over an ANN candidate stage.
   *
   * Cross-engine float parity: every token cosine is a single
   * division of the engine-exact double dot/norm chain ([[dot]]);
   * the per-query-token max is order-free; and the final score sums
   * the `tokens` maxes in one EXPLICITLY LEFT-FOLDED expression
   * (`((m0+m1)+m2)+m3`) — both engines evaluate the identical double
   * expression tree, so the raw score (ranked on, rounded for
   * display) is bit-exact. The per-token max and the token pivot are
   * both partial-aggregable group-bys — no window until the final
   * bounded rank.
   *
   * Scale shape: the query token table broadcasts (bounded query
   * batches, the [[bruteForceTopK]] contract); the corpus side is
   * one codegen'd scan + two map-side-combining aggregations. This
   * is the exact face — at corpus scale feed `corpus` as the
   * candidate set of an ANN stage ([[lshTopK]]/[[ivfTopK]]) and
   * MaxSim-rerank only the candidates.
   */
  def maxSimTopK(queries: DataFrame, corpus: DataFrame,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 dim: Int = 64, tokens: Int = 4,
                 k: Int = 10): DataFrame = {
    val (qt, dt) = maxSimViews(queries, corpus, idCol, vecCol, dim, tokens)
    maxSimCut(dt.crossJoin(broadcast(qt)), tokens, k)
  }

  /**
   * MaxSim over TOKEN-level ANN candidates — the PRODUCTION
   * late-interaction deployment ([[maxSimTopK]]'s scaladoc contract
   * made operational, and the retrieval shape of Khattab & Zaharia's
   * ColBERT: each query token retrieves candidate documents by
   * token-embedding ANN, then the full MaxSim scores only the
   * candidates). A pooled-vector shortlist is the WRONG stage-1 here
   * — pooling destroys exactly the per-token detail MaxSim ranks on
   * (measured: pooled-LSH top-50 recalls <2/5 of the exact MaxSim
   * top-5 for most queries at sf0.01; token-level candidates recall
   * ≥4/5).
   *
   * Stage 1: doc TOKEN sub-vectors are sign-bucketed
   * ([[signBuckets]] on the `dim/tokens`-wide token space); each
   * query token probes its own bucket per table — candidates are
   * collision-bounded bucket equi-joins, never a corpus scan. Stage
   * 2: one equi-join restricts the token views to candidate pairs
   * and [[maxSimCut]] scores tokens² cosines per CANDIDATE (never
   * tokens² × corpus). Output matches [[maxSimTopK]]:
   * `(query_id, neighbor_id, maxsim, rank)`; the recall gate
   * hash-checks a floor against the exact face.
   */
  def maxSimRerank(queries: DataFrame, corpus: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   dim: Int = 64, tokens: Int = 4, k: Int = 10,
                   nBits: Int = 8, nTables: Int = 8): DataFrame = {
    val (qt, dt) = maxSimViews(queries, corpus, idCol, vecCol, dim, tokens)
    val sd = dim / tokens
    val db = dt.select(col("neighbor_id"),
      explode(signBuckets(col("__tv"), sd, nBits, nTables)).as("__bucket"))
    val qb = qt.select(col("query_id"),
      explode(signBuckets(col("__qv"), sd, nBits, nTables)).as("__bucket"))
    val cand = db.join(broadcast(qb), "__bucket")
      .select(col("query_id"), col("neighbor_id")).distinct()
    maxSimCut(dt.join(cand, "neighbor_id").join(broadcast(qt), "query_id"),
      tokens, k)
  }

  /** Token views of the query and corpus sides for MaxSim: each
    * embedding split into `tokens` contiguous sub-vectors with norms.
    * Returns `(qt, dt)` — qt: `(query_id, __qt, __qv, __qn)`,
    * dt: `(neighbor_id, __t, __tv, __tn)`. */
  private def maxSimViews(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, dim: Int,
                          tokens: Int): (DataFrame, DataFrame) = {
    require(dim % tokens == 0, s"dim=$dim must split into $tokens tokens")
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val sd = dim / tokens
    def tokenView(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), posexplode(expr(
          s"transform(sequence(0, ${tokens - 1}), s -> " +
          s"slice($vecCol, s * $sd + 1, $sd))")).as(Seq("__t", "__tv")))
        .select(col(id), col("__t"), col("__tv"),
          l2norm(col("__tv")).as("__tn"))
    val qt = tokenView(queries, "query_id")
      .select(col("query_id"), col("__t").as("__qt"),
        col("__tv").as("__qv"), col("__tn").as("__qn"))
    (qt, tokenView(
      widenSmall(corpus.select(col(idCol), col(vecCol)),
        minBytes = WidenMinBytes), "neighbor_id"))
  }

  /** Shared MaxSim scoring + bounded cut over (query token × doc
    * token) pair rows: per-(query, neighbor, query-token) max cosine,
    * token pivot, the explicitly left-folded exact sum, then the
    * bounded top-k. Both aggregations are partial-aggregable. */
  private def maxSimCut(pairsTok: DataFrame, tokens: Int,
                        k: Int): DataFrame = {
    // per (query, neighbor, query-token): best document token
    val best = pairsTok
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos",
        dot(col("__qv"), col("__tv")) / (col("__qn") * col("__tn")))
      .groupBy(col("query_id"), col("neighbor_id"), col("__qt"))
      .agg(max(col("__cos")).as("__m"))
    // pivot the token maxes to columns, then the balanced exact sum
    val tokenMax = (0 until tokens).map(t =>
      max(when(col("__qt") === t, col("__m"))).as(s"__m$t"))
    val pivoted = best.groupBy(col("query_id"), col("neighbor_id"))
      .agg(tokenMax.head, tokenMax.tail: _*)
    val score = (0 until tokens).map(t => col(s"__m$t"))
      .reduce((a, b) => (a + b)) // left fold == the oracle's parens
    boundedTopK(pivoted.withColumn("__score", score),
        "query_id", "neighbor_id", "__score", k, descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__score"), 4).as("maxsim"), col("rank"))
  }

  /**
   * Mutual-kNN graph construction over an embedding corpus — the
   * substrate semantic-clustering pipelines (SemDeDup-style cluster
   * refinement, kNN-graph community detection, label propagation over
   * embeddings) run on: for every vector, its exact top-`k` cosine
   * neighbors, each edge flagged `mutual` when the reverse edge is
   * also in the neighbor's top-`k` (mutual edges are the
   * high-precision subgraph those pipelines keep).
   *
   * With `nBits = 0` candidates are the exact all-pairs set (one side
   * broadcast — correct up to a few 10⁵ vectors, and the oracle-
   * checkable face). At corpus scale pass `nBits > 0`: candidates
   * come from [[signBuckets]] LSH-bucket collisions (the
   * embeddingNearDup join shape — collision-bounded, no n² anywhere)
   * and the result is the standard approximate kNN graph. Either way
   * the per-source top-k window ranks only that source's CANDIDATES,
   * and the mutual flag is one self equi-join of the (lazily
   * checkpointed) top-k edge set against its own reversal.
   * Output: `(src, dst, rank, cosine, mutual)` — cosine rounded 4 for
   * display, ranking on the raw value.
   */
  def knnGraph(df: DataFrame, k: Int = 5, nBits: Int = 0,
               nTables: Int = 4, dim: Int = 64, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    knnEdges(df, k, nBits, nTables, dim, idCol, vecCol)
      .select(col("src"), col("dst"), col("rank"),
        round(col("__cos"), 4).as("cosine"), col("mutual"))

  /** [[knnGraph]]'s edge set with the RAW cosine (`__cos`) — shared
    * with [[knnClusters]], whose threshold must never see the display
    * rounding. */
  private def knnEdges(df: DataFrame, k: Int, nBits: Int, nTables: Int,
                       dim: Int, idCol: String,
                       vecCol: String): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val scored = knnCandidates(df, nBits, nTables, dim, idCol, vecCol)
      .filter(col("src") =!= col("dst"))
      .withColumn("__cos",
        dot(col("__av"), col("__bv")) / (col("__an") * col("__bn")))
    val topk = boundedTopK(scored, "src", "dst", "__cos", k,
        descending = true)
      .select(col("src"), col("dst"), col("rank"), col("__cos"))
      .localCheckpoint(false) // joined against its own reversal below
    val rev = topk.select(col("dst").as("src"), col("src").as("dst"),
      lit(1).as("__m"))
    topk.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("rank"), col("__cos"),
        coalesce(col("__m"), lit(0)).as("mutual"))
  }

  /** [[knnGraph]]'s candidate stage, exposed so plan guards can assert
    * its shape directly (the operator's lazy checkpoints hide upstream
    * stages behind `Scan ExistingRDD` in the final executed plan):
    * exact all-pairs with one side broadcast when `nBits <= 0`, else
    * the LSH bucket equi-join. */
  private[graft] def knnCandidates(df: DataFrame, nBits: Int,
                                   nTables: Int, dim: Int, idCol: String,
                                   vecCol: String): DataFrame = {
    val a = widenSmall(df.select(col(idCol).as("src"),
      col(vecCol).as("__av"), l2norm(col(vecCol)).as("__an")))
    val b = df.select(col(idCol).as("dst"), col(vecCol).as("__bv"),
      l2norm(col(vecCol)).as("__bn"))
    if (nBits <= 0) a.crossJoin(broadcast(b))
    else {
      val bucketed = widenSmall(df.select(col(idCol), col(vecCol)))
        .select(col(idCol), col(vecCol),
          explode(signBuckets(col(vecCol), dim, nBits, nTables))
            .as("__bucket"))
        .localCheckpoint(false) // self-joined: compute lineage once
      val l = bucketed.select(col("__bucket"), col(idCol).as("src"),
        col(vecCol).as("__av"), l2norm(col(vecCol)).as("__an"))
      val r = bucketed.select(col("__bucket"), col(idCol).as("dst"),
        col(vecCol).as("__bv"), l2norm(col(vecCol)).as("__bn"))
      l.join(r, Seq("__bucket"))
        .drop("__bucket")
        .dropDuplicates("src", "dst")
    }
  }

  /** One 32-bit half of the raw SIGN signature of a 64-dim vector:
    * bit i set iff component `from + i + 1` is > 0, packed into a
    * positive BIGINT. Two unsigned-32-bit halves instead of one
    * 64-bit word — bit 63 via `1 << 63` is engine-dependent sign
    * territory (the repo's cross-engine hash invariant). The HOF
    * interprets per element, but it runs ONCE per vector to build the
    * signature (not per candidate pair), so the hot path — the
    * Hamming popcounts — stays codegen'd. */
  private def signHalf(vecCol: String, from: Int): Column = expr(
    s"aggregate(transform(sequence(0, 31), i -> " +
    s"IF(element_at($vecCol, i + ${from + 1}) > 0D, " +
    s"shiftleft(1L, i), 0L)), 0L, (a, x) -> a + x)")

  /**
   * Binary-quantized retrieval (sign / "binary embedding" face): each
   * 64-dim vector compresses to its 64 sign bits (32× smaller than
   * float32 — the memory face BELOW PQ), and neighbors rank by
   * HAMMING distance between signatures, ties by id. Sign-bit Hamming
   * approximates angular distance (the same random-hyperplane fact
   * [[lshTopK]] buckets on, here with the identity basis), and the
   * whole chain is INTEGER-exact — unlike the cosine faces, this
   * top-k is directly hash-checkable cross-engine, not just
   * recall-floor-checkable. Queries broadcast; the corpus side is one
   * codegen'd scan of two xor+popcount columns; the cut is the
   * bounded partial-aggregable [[boundedTopK]].
   * Output: `(query_id, neighbor_id, hamming, rank)`.
   */
  def binaryHammingTopK(queries: DataFrame, corpus: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        k: Int = 10): DataFrame =
    hammingScan(queries, idCol, vecCol,
      // (hammingScan registers the bounded-cut kernel itself)
      corpus.select(col(idCol).as("neighbor_id"),
        signHalf(vecCol, 0).as("__ca"), signHalf(vecCol, 32).as("__cb")),
      k)

  /** The shared broadcast-queries × signature-scan top-k — the corpus
    * side arrives pre-signed `(neighbor_id, __ca, __cb)` so the
    * one-shot face and the [[binaryHammingIncremental]] state
    * read-back rank through the identical plan. */
  private def hammingScan(queries: DataFrame, idCol: String,
                          vecCol: String, corpusSigs: DataFrame,
                          k: Int): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"),
      signHalf(vecCol, 0).as("__qa"), signHalf(vecCol, 32).as("__qb"))
    val scored = broadcast(q).crossJoin(corpusSigs)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", expr(
        "bit_count(__qa ^ __ca) + bit_count(__qb ^ __cb)").cast("long"))
    boundedTopK(scored, "query_id", "neighbor_id", "hamming", k,
        descending = false)
      .select(col("query_id"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"), col("rank"))
  }

  /**
   * INCREMENTAL binary-signature retrieval over a
   * [[graft.operators.StateStore]] — the nightly-embeddings shape the
   * one-shot ANN fits lacked (r11 verdict #3): each call ingests an
   * embedding drop's 64 SIGN BITS into the persistent signature table
   * and answers `queries`' Hamming top-`k` against EVERYTHING ingested
   * so far, without ever re-signing the archive. Exactness is
   * structural: sign bits are a pure per-row function (an increment
   * signs only its own rows), and the bounded top-k rank depends only
   * on each query's own candidate set — so the answer over the
   * committed state union equals the one-shot [[binaryHammingTopK]]
   * over the union corpus, integer-exact (the gate shares
   * `embed_binary_hamming`'s oracle).
   *
   * Store contract: one `sigs` table per increment dir
   * (`vec_id, __ca, __cb` — 16 bytes/row, 32× below the float
   * vectors) plus the [[IdLedger]] tables (`ids` hive-partitioned by
   * id-hash bucket, a per-increment `idbloom`). Re-presented ids are
   * detected by the OR-folded id bloom — bloom-NEGATIVE drop rows
   * ingest with ZERO archive I/O, and only the positive tail
   * (re-presents + ~1e-5 FP) exact-verifies against the
   * bucket-pruned `ids` read (r12 verdict #1: the former anti-join
   * shuffled the full archive id column per drop). Re-presents
   * short-circuit before committing (the StateStore retry contract —
   * a re-presented drop is a pure query); the returned plan reads
   * back the dirs COMMITTED at call time, so later ingests never
   * change an earlier call's result. The per-QUERY archive cost is
   * one narrow columnar scan of the signature table — which IS the
   * retrieval scan itself (the product being paid for), not ledger
   * overhead; [[StateStore.compact]] folds a season of nightly dirs
   * when small files accrete (plain union semantics — no lastTables;
   * blooms OR-fold, the ids keep their bucket layout). Ledger sizing
   * is a per-state property persisted at first ingest — size
   * `ledgerBuckets`/`ledgerBloomBits` to the expected ARCHIVE id
   * count. Output matches [[binaryHammingTopK]]: `(query_id,
   * neighbor_id, hamming, rank)`.
   */
  def binaryHammingIncremental(queries: DataFrame, newVecs: DataFrame,
                               statePath: String,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               k: Int = 10,
                               ledgerBuckets: Int = IdLedger.Buckets,
                               ledgerBloomBits: Int = IdLedger.BloomBits)
      : DataFrame = {
    val spark = newVecs.sparkSession
    val prior = StateStore.committed(spark, statePath)
    val (bloomOpt, bk, bb) = IdLedger.sizing(spark, prior,
      ledgerBuckets, ledgerBloomBits)
    // eager ingest bookkeeping on the AQE-off maintenance session
    // (StateStore.maint rationale); rebasing the narrow signed INPUT
    // keeps the checkpoint off the parent's AQE plan-time jobs
    val ms = StateStore.maint(spark)
    // hashed drop checkpointed FIRST: the bloom split references it
    // three times (negative filter, positive filter, touched collect)
    val sigs = IdLedger.withHash(
        StateStore.rebase(
          newVecs.select(col(idCol).cast("long").as("vec_id"),
            signHalf(vecCol, 0).as("__ca"),
            signHalf(vecCol, 32).as("__cb")), ms),
        Seq("vec_id"), bk)
      .localCheckpoint(false)
    val split =
      IdLedger.splitFresh(sigs, Seq("vec_id"), prior, bloomOpt, bb)
    val incoming = (if (prior.isEmpty) sigs
      else split.fresh
        .localCheckpoint(false)) // isEmpty probe + writes: compute once
    val committedNow =
      if (incoming.isEmpty) {
        require(prior.nonEmpty,
          s"binaryHammingIncremental: empty first drop at $statePath")
        prior // re-presented drop: pure query, no new dir
      } else {
        val dir = StateStore.nextDir(spark, statePath)
        // sigs and the ledger tables all derive from the checkpointed
        // `incoming` (materialized by the isEmpty probe above, already
        // on the maintenance session) and write to disjoint paths:
        // overlap the write jobs (opt guide §2.6); commit still waits
        // for all of them
        StateStore.inParallel(Seq(
          () => incoming.select("vec_id", "__ca", "__cb")
            .write.mode("overwrite").parquet(s"$dir/sigs"),
          () => IdLedger.writeIds(incoming, Seq("vec_id"), dir),
          () => IdLedger.writeBloom(ms, dir, bk, bb, split.bloomBytes)))
        StateStore.commit(spark, dir)
        prior :+ dir
      }
    hammingScan(queries, idCol, vecCol,
      spark.read.parquet(committedNow.map(_ + "/sigs"): _*)
        .select(col("vec_id").as("neighbor_id"), col("__ca"),
          col("__cb")),
      k)
  }

  /**
   * Binary shortlist → exact rerank: [[binaryHammingTopK]]'s
   * `shortlist` cheapest-Hamming candidates per query re-scored by
   * true cosine and cut to `k` — the production deployment of binary
   * embeddings (scan 8-byte signatures, touch float vectors only for
   * a per-query CONSTANT candidate set; the [[pqRerank]] shape).
   * Output matches [[bruteForceTopK]].
   */
  def binaryRerank(queries: DataFrame, corpus: DataFrame,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   k: Int = 10, shortlist: Int = 100): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val cand = binaryHammingTopK(queries, corpus, idCol, vecCol,
        k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn"))
    val rescored = cand.join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(rescored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /**
   * Cross-encoder-style PAIRWISE rerank over an ANN shortlist — the
   * two-stage retrieval deployment where a cheap index scan proposes
   * `shortlist` candidates per query and an expensive PAIR scorer
   * (in production a cross-encoder forward pass over the concatenated
   * pair; here a deterministic integer surrogate) re-ranks them to
   * `k`. The stage shape is the product: the scorer runs on
   * |queries|·shortlist equi-joined candidate rows — a per-query
   * CONSTANT — never on the corpus, exactly like [[pqRerank]] /
   * [[maxSimRerank]]'s candidate joins.
   *
   * Surrogate scorer (stands in for the model, hash-checkable): both
   * vectors quantize to int8-ish lattice values `floor(8·x)` (×8 is a
   * pure exponent shift — float32→double→floor is engine-exact), and
   * the pair scores `Σ_i min(q8_i·c8_i, 64)` — the per-dimension CLIP
   * makes the score non-factorizable into per-side features (the
   * defining cross-encoder property: it must be computed at pair
   * time), and everything is int64, so the whole
   * shortlist→rerank→top-k chain hash-checks cross-engine. The HOF
   * scorer interprets per element, but it runs only on the
   * shortlist-bounded candidate set — the corpus-scale hot path is
   * [[binaryHammingTopK]]'s codegen'd xor+popcount scan.
   * Output: `(query_id, neighbor_id, pair_score, rank)`, rank by
   * score DESC, ties by id.
   */
  def crossEncoderRerank(queries: DataFrame, corpus: DataFrame,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         k: Int = 5, shortlist: Int = 50): DataFrame = {
    val cand = binaryHammingTopK(queries, corpus, idCol, vecCol,
        k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    def q8(c: String) = expr(
      s"transform($c, x -> cast(floor(cast(x as double) * 8) as bigint))")
    val q = queries.select(col(idCol).as("query_id"), q8(vecCol).as("__q8"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      q8(vecCol).as("__c8"))
    val scored = cand.join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .withColumn("pair_score", expr(
        "aggregate(zip_with(__q8, __c8, (a, b) -> least(a * b, 64L))," +
          " 0L, (s, x) -> s + x)"))
    boundedTopK(scored, "query_id", "neighbor_id", "pair_score", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        col("pair_score").cast("long").as("pair_score"), col("rank"))
  }

  /**
   * HARD-negative mining for contrastive training: for each anchor,
   * the `k` most-similar corpus vectors carrying a DIFFERENT label —
   * the highest-loss negatives that make contrastive batches
   * informative (the DPR/SimCSE practice), complementing
   * [[negativeSamples]]' uniform draws. The label-mismatch filter
   * runs BEFORE the bounded cut, so every anchor gets k true
   * negatives, not k neighbors minus the same-label ones.
   *
   * Exact face: the anchor set broadcasts (bounded, the
   * [[bruteForceTopK]] contract) against one codegen'd corpus scan;
   * the cut is the partial-aggregable [[boundedTopK]] — never a
   * per-anchor window. At corpus scale feed `corpus` as an ANN
   * candidate stage's output, exactly like [[maxSimRerank]].
   * Output: `(query_id, neighbor_id, cosine, rank)`.
   */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label",
                    k: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.register(anchors.sparkSession)
    val q = anchors.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"),
      col(labelCol).as("__ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn"),
      col(labelCol).as("__cl"))
    val scored = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("__ql") =!= col("__cl"))
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(scored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /**
   * Deterministic negative sampling for contrastive training: each
   * anchor id draws `k` pseudo-random OTHER ids from a dense id space
   * `[0, n)` — `cand = h(salt:anchor:j) mod n`, bumped by one
   * (mod n) on self-collision. The draw is seedless and
   * engine-reproducible (the md5-uint32 recipe), so a re-run of the
   * pipeline pairs every anchor with identical negatives — the
   * property that makes training jobs resumable. A pure narrow
   * projection (explode k per anchor, no join needed to SELECT the
   * ids; callers join the returned `neg_id` back to the vector table
   * to fetch payloads — one equi-join, never a cross join).
   * Requires dense ids 0..n-1 (the embeddings table's layout; for
   * sparse ids compose with `row_number`-free `zipWithIndex`-style
   * re-keying at ingest).
   * Output: `(idCol, j, neg_id)`, k rows per anchor.
   */
  def negativeSamples(df: DataFrame, k: Int = 4,
                      idCol: String = "vec_id",
                      salt: String = "neg"): DataFrame = {
    require(k >= 1, s"need k >= 1 negatives, got $k")
    val n = df.count()
    require(n >= 2, "need at least 2 rows to draw negatives")
    val h = conv(substring(md5(concat_ws(":", lit(salt),
      col(idCol).cast(StringType), col("j").cast(StringType))),
      1, 8), 16, 10).cast(LongType)
    df.select(col(idCol),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("__c", h % n)
      .withColumn("neg_id",
        when(col("__c") === col(idCol), (col("__c") + 1L) % n)
          .otherwise(col("__c")))
      .select(col(idCol), col("j"), col("neg_id"))
  }

  /**
   * Cross-corpus mutual-best-match join — the bitext-mining /
   * embedding-alignment primitive (Artetxe & Schwenk's mutual-kNN@1
   * criterion, margin-free): pair `(a, b)` survives iff `b` is `a`'s
   * single best cosine match in `right` AND `a` is `b`'s best in
   * `left`. Ties break to the smaller id on both sides, so the match
   * set is deterministic.
   *
   * Each side's argmax is `max(struct(cos, -otherId, otherId))` —
   * PARTIAL-aggregable, so a hub vector with 10⁹ candidate rows
   * combines map-side (never a per-key rank window). Exact face
   * (`nBits <= 0`): the right side broadcasts into one scan of the
   * left. LSH face: sign-bucket equi-join between the two sides'
   * bucketings (a mutual-best pair must collide in some table —
   * same recall story as [[knnGraph]]'s LSH face).
   * Output: `(src, dst, cosine)` — one row per mutual pair, cosine
   * rounded for display AFTER both argmaxes ran on the raw value.
   */
  def mutualBestMatch(left: DataFrame, right: DataFrame,
                      nBits: Int = 0, nTables: Int = 4, dim: Int = 64,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(left.sparkSession)
    val cand =
      if (nBits <= 0) {
        val a = widenSmall(left.select(col(idCol).as("src"),
          col(vecCol).as("__av"), l2norm(col(vecCol)).as("__an")))
        val b = right.select(col(idCol).as("dst"), col(vecCol).as("__bv"),
          l2norm(col(vecCol)).as("__bn"))
        a.crossJoin(broadcast(b))
      } else {
        val l = left.select(col(idCol).as("src"), col(vecCol).as("__av"),
          l2norm(col(vecCol)).as("__an"),
          explode(signBuckets(col(vecCol), dim, nBits, nTables))
            .as("__bucket"))
        val r = right.select(col(idCol).as("dst"), col(vecCol).as("__bv"),
          l2norm(col(vecCol)).as("__bn"),
          explode(signBuckets(col(vecCol), dim, nBits, nTables))
            .as("__bucket"))
        l.join(r, Seq("__bucket")).drop("__bucket")
          .dropDuplicates("src", "dst")
      }
    val scored = cand
      .withColumn("__cos",
        dot(col("__av"), col("__bv")) / (col("__an") * col("__bn")))
      .select(col("src"), col("dst"), col("__cos"))
      // both argmaxes consume the candidate set — one lineage
      .localCheckpoint(false)
    val bestL = scored.groupBy(col("src"))
      .agg(max(struct(col("__cos"), (-col("dst")).as("__nd"),
        col("dst"))).as("__b"))
      .select(col("src"), col("__b.dst").as("dst"),
        col("__b.__cos").as("__cl"))
    val bestR = scored.groupBy(col("dst"))
      .agg(max(struct(col("__cos"), (-col("src")).as("__ns"),
        col("src"))).as("__b"))
      .select(col("__b.src").as("src"), col("dst"))
    bestL.join(bestR, Seq("src", "dst"))
      .select(col("src"), col("dst"), round(col("__cl"), 4).as("cosine"))
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: k-means coarse quantizer + nprobe search.
  // The centroid model is tiny (k·dim doubles) and driver-held — but it
  // enters query plans as a BROADCAST TABLE, never as plan literals:
  // cell assignment is a broadcast cross-join + argmin aggregate, so k
  // can grow to the thousands a 100 TB corpus needs without blowing up
  // the analyzer (a k×dim literal tree chokes it around k≈10³).
  // ------------------------------------------------------------------

  /** The centroid model as a broadcastable 3-column table:
    * `(__cell, __cvec, __cnorm2)`. */
  private def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                          centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) }
      .toSeq.toDF("__cell", "__cvec", "__cnorm2")
  }

  /** Rank-by-distance column: ||v-c||² = ||v||² - 2·v·c + ||c||²;
    * ||v||² is constant per row so it drops out of the argmin. */
  private def cellDist: Column =
    col("__cnorm2") - lit(2.0) * dot(col("__v"), col("__cvec"))

  /** Attach `__cell` = argmin-distance centroid to every `(__id, __v)`
    * row, carrying `carry` columns through. The crossJoin rows are
    * consumed immediately by the map-side partial argmin aggregate —
    * one row per element survives to the shuffle. Grouping is on
    * (`__id`, `__v`) so dirty inputs with duplicate ids keep one row
    * per distinct vector, like the per-row assignment it replaced. */
  private def assignCells(df: DataFrame, cdf: DataFrame,
                          carry: Seq[String]): DataFrame = {
    val scored = df.crossJoin(broadcast(cdf)).withColumn("__d", cellDist)
    // min(struct) is lexicographic: nearest cell, ties to lowest id —
    // same semantics as the previous literal-array argmin
    val aggs = min(struct(col("__d"), col("__cell")))
      .getField("__cell").as("__cell") +:
      carry.filterNot(_ == "__v").map(c => first(col(c)).as(c))
    scored.groupBy(col("__id"), col("__v")).agg(aggs.head, aggs.tail: _*)
  }

  /** `(__id, __cell)` pairs for each element's `nprobe` nearest cells
    * (grouped on (`__id`, `__v`) — see [[assignCells]]). */
  private def probeCells(df: DataFrame, cdf: DataFrame, nprobe: Int,
                         carry: Seq[String]): DataFrame = {
    val scored = df.crossJoin(broadcast(cdf)).withColumn("__d", cellDist)
    val aggs = slice(array_sort(
      collect_list(struct(col("__d"), col("__cell")))), 1, nprobe)
      .as("__pc") +: carry.filterNot(_ == "__v").map(c => first(col(c)).as(c))
    scored.groupBy(col("__id"), col("__v")).agg(aggs.head, aggs.tail: _*)
      .withColumn("__cell",
        explode(transform(col("__pc"), s => s.getField("__cell"))))
      .drop("__pc")
  }

  /**
   * Public clustering surface over the IVF machinery: assign every
   * vector to its nearest fitted centroid — corpus analysis (topic-ish
   * grouping, per-cluster sampling) reuses the same broadcast-join
   * argmin as the ANN index. Deterministic given [[fitIvfCentroids]]'s
   * deterministic init.
   */
  def clusterEmbeddings(df: DataFrame, centroids: Array[Array[Double]],
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    assignCells(
      df.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      centroidsDf(df.sparkSession, centroids), carry = Nil)
      .select(col("__id").as(idCol), col("__cell").as("cluster"))
  }

  /**
   * Fit IVF centroids by Lloyd's k-means with deterministic
   * k-means++-style seeding: an md5-ordered pseudo-random sample of
   * 8·k vectors comes to the driver (bounded, like the k·dim model
   * itself), and greedy farthest-first traversal over that sample
   * picks the k seeds — id-order init clumped seeds when vector
   * content correlates with id. Seeding is fully deterministic (md5
   * order; ties broken by scan index), so fitted models are
   * reproducible across runs. Each Lloyd pass is ONE single-stage
   * job: a per-partition accumulator assigns cells with the
   * [[graft.functions.VectorExpressions.NearestCellBc]] arithmetic
   * and folds per-(cell, pos) sums/counts, and the k·dim partials
   * merge on the driver in partition-index order (deterministic).
   * Only the k·dim partials and the 8·k seed sample ever reach the
   * driver, and each iteration plans fresh from the cached vectors —
   * plan depth stays constant.
   */
  def fitIvfCentroids(corpus: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding", dim: Int = 64,
                      k: Int = 16, iters: Int = 5): Array[Array[Double]] = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    // the Lloyd loop runs on the AQE-off maintenance session: the
    // sample cut and the cache fill are static 1-2-stage jobs, so
    // AQE's per-stage query jobs double the loop's driver-job count
    // for nothing (the StateStore.maint rationale; the loop is the
    // iterative-driver shape the SCC small-mode invariant covers).
    // The rebase costs one row conversion into the one-time cache
    // fill; callers pass scans or checkpointed frames so `.rdd` runs
    // no new work.
    val spark = StateStore.maint(corpus.sparkSession)
    // distinct (id, vector) ONCE, then cache: the per-iteration
    // assignment used to re-group by (__id, __v) every Lloyd pass —
    // k-scaled candidate rows through a broadcast join plus a full
    // shuffle of the vector column, five times per fit. Deduping once
    // up front keeps the exact same row multiset every pass saw.
    val vecs = StateStore.rebase(corpus, spark)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .dropDuplicates("__id", "__v").cache()
    var centroids: Array[Array[Double]] = {
      val sample = vecs
        .orderBy(md5(concat(lit("ivf:"), col("__id").cast("string"))))
        .limit(math.max(8 * k, 64)).collect()
        .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      farthestFirst(sample, k)
    }
    val isFloat = vecs.schema("__v").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType
    for (_ <- 1 to iters) {
      // One pass per iteration as a SINGLE-stage per-partition
      // accumulator (the mllib k-means shape): each task scans its
      // cached partition once, assigns the nearest cell with the
      // NearestCellBc arithmetic verbatim (||c||² − 2·v·c accumulated
      // sequentially, Double.compare ties to the lowest cell), and
      // accumulates per-(cell, pos) sums/counts; the k·dim partials
      // merge on the driver in PARTITION-INDEX order (deterministic —
      // an unordered reduce would merge doubles in arrival order).
      // The former formulation (argmin projection → posexplode →
      // groupBy(cell, pos) avg → collect) computed the identical
      // means but paid an exchange plus dim× exploded rows per pass —
      // at gate scale each pass was job-floor-bound, at archive scale
      // the explode shuffled dim× the corpus row count (§2.3/§2.4).
      val bc = spark.sparkContext.broadcast(
        centroids.map(c => (c, c.map(x => x * x).sum)))
      val kk = centroids.length
      val dd = dim
      val fl = isFloat
      val partials = vecs.rdd.mapPartitionsWithIndex { (pi, it) =>
        val model = bc.value
        val sums = Array.ofDim[Double](kk, dd)
        val cnts = Array.ofDim[Long](kk, dd)
        it.foreach { row =>
          val v: Array[Double] =
            if (fl) row.getSeq[Float](1).iterator.map(_.toDouble).toArray
            else row.getSeq[Double](1).toArray
          var best = 0
          var bestD = Double.NaN
          var c = 0
          while (c < model.length) {
            val (cv, cn2) = model(c)
            val n = math.min(v.length, cv.length)
            var s = 0.0
            var i = 0
            while (i < n) { s += v(i) * cv(i); i += 1 }
            val d = cn2 - 2.0 * s
            if (c == 0 || java.lang.Double.compare(d, bestD) < 0) {
              bestD = d; best = c
            }
            c += 1
          }
          val srow = sums(best)
          val crow = cnts(best)
          val m = math.min(v.length, dd)
          var i = 0
          while (i < m) { srow(i) += v(i); crow(i) += 1; i += 1 }
        }
        Iterator((pi, sums, cnts))
      }.collect().sortBy(_._1)
      val next = centroids.map(_.clone())
      val sumAll = Array.ofDim[Double](kk, dd)
      val cntAll = Array.ofDim[Long](kk, dd)
      partials.foreach { case (_, s, n) =>
        var c = 0
        while (c < kk) {
          var i = 0
          while (i < dd) {
            sumAll(c)(i) += s(c)(i); cntAll(c)(i) += n(c)(i); i += 1
          }
          c += 1
        }
      }
      var c = 0
      while (c < kk) {
        var i = 0
        while (i < dd) {
          // cells/positions with no assigned rows keep their centroid,
          // as the grouped-avg formulation did (absent groups)
          if (cntAll(c)(i) > 0) next(c)(i) = sumAll(c)(i) / cntAll(c)(i)
          i += 1
        }
        c += 1
      }
      centroids = next
      bc.unpersist()
    }
    vecs.unpersist()
    centroids
  }

  /** Greedy farthest-first traversal (the deterministic face of
    * k-means++): start from the sample's md5-first vector, then
    * repeatedly take the point farthest from its nearest chosen seed.
    * O(|sample|·k·dim) driver flops on a bounded sample. */
  private[operators] def farthestFirst(sample: Array[Array[Double]],
                                       k: Int): Array[Array[Double]] = {
    if (sample.isEmpty) return Array.empty
    val chosen = scala.collection.mutable.ArrayBuffer(sample.head)
    val d2 = Array.fill(sample.length)(Double.MaxValue)
    while (chosen.size < math.min(k, sample.length)) {
      val last = chosen.last
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < sample.length) {
        val v = sample(i)
        var s = 0.0
        var j = 0
        while (j < v.length) { val t = v(j) - last(j); s += t * t; j += 1 }
        if (s < d2(i)) d2(i) = s
        if (d2(i) > bestD) { bestD = d2(i); best = i }
        i += 1
      }
      chosen += sample(best)
    }
    chosen.toArray
  }

  /**
   * IVF approximate top-k: corpus bucketed by nearest centroid, each
   * query probes its `nprobe` closest cells. Complements [[lshTopK]]:
   * IVF adapts to the data distribution (learned cells), LSH is
   * data-independent (fixed hyperplanes). Ids are assumed unique per
   * element (as in [[bruteForceTopK]]): rows sharing an id survive cell
   * assignment per distinct vector but the final
   * `dropDuplicates(query, neighbor)` keeps an arbitrary one.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              centroids: Array[Array[Double]],
              idCol: String = "vec_id", vecCol: String = "embedding",
              nprobe: Int = 4, k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val VE = graft.functions.VectorExpressions
    val cdf = centroidsDf(queries.sparkSession, centroids)
    // corpus cell assignment as a NARROW projection (NearestCellBc —
    // argmin-identical to the broadcast-join + min(struct) path, spec
    // NearestCellBcSpec): the join formulation's (__id, __v) group-by
    // shuffled the full corpus vector column per query run. Output
    // identity holds even for duplicate-id inputs: the old group-by
    // collapsed exact (id, vector) copies, and the scored rows of such
    // copies are themselves exact copies, which the
    // dropDuplicates(query_id, neighbor_id) below collapses the same
    // way — the multiset reaching the top-k cut is unchanged.
    val bcm = queries.sparkSession.sparkContext.broadcast(
      centroids.map(cv => (cv, cv.map(x => x * x).sum)))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn"),
      VE.nearestCellBc(col(vecCol), bcm).as("__cell"))
    val q = probeCells(
      queries.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        l2norm(col(vecCol)).as("__qn")),
      cdf, nprobe, carry = Seq("__v", "__qn"))
      .select(col("__id").as("query_id"), col("__v").as("__qv"),
        col("__qn"), col("__cell"))
    val scored = q.join(c, "__cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(scored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /**
   * INCREMENTAL IVF ingest over a [[graft.operators.StateStore]] —
   * the train-once / add-forever pattern (FAISS `train` + `add`),
   * closing the nightly-embeddings gap for the cell-probed face the
   * way [[binaryHammingIncremental]] closes it for signatures: the
   * FIRST drop fits the coarse quantizer (the deterministic
   * [[fitIvfCentroids]]) and FREEZES it as a `centroids` table in
   * state; every drop assigns its own rows to the frozen cells
   * (broadcast model join + partial-agg argmin — the model-as-data
   * invariant) and appends `postings` hive-partitioned by cell, so
   * queries partition-prune to their probed cells. Assignment is a
   * pure per-row function of the frozen model, so committed postings
   * equal the one-shot assignment of the union corpus —
   * [[ivfIncrementalTopK]] is frame-identical to [[ivfTopK]] over the
   * union with the stored centroids (spec-pinned). Re-presented ids
   * are detected by the [[IdLedger]] (per-increment id blooms
   * OR-folded at ingest; only the bloom-positive tail exact-verifies
   * against the bucket-pruned narrow `ids` read — r12 verdict #1: the
   * former anti-join shuffled the full archive posting ids per drop,
   * making the INGEST the one term that grew with history while the
   * query stayed cell-pruned) and short-circuit without committing
   * (the StateStore retry contract); the returned frame is this
   * drop's committed postings read-back (empty for a pure
   * re-present). [[StateStore.compact]] folds dirs with plain union
   * semantics (postings union keeps the cell layout, id blooms
   * OR-fold, the single centroids table rides along).
   */
  def ivfIncremental(newVecs: DataFrame, statePath: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     kCells: Int = 16, iters: Int = 5,
                     ledgerBuckets: Int = IdLedger.Buckets,
                     ledgerBloomBits: Int = IdLedger.BloomBits)
      : DataFrame = {
    val spark = newVecs.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val prior = StateStore.committed(spark, statePath)
    val (bloomOpt, bk, bb) = IdLedger.sizing(spark, prior,
      ledgerBuckets, ledgerBloomBits)
    // the whole eager ingest (hash/dedup checkpoint, bloom split,
    // state-table writes, the first drop's model fit) runs on the
    // AQE-off maintenance session — every piece is a static
    // 1-3-stage job (StateStore.maint rationale). Rebasing the INPUT
    // keeps the dedup exchange inside the first maintenance action
    // instead of parent-side AQE plan-time stage jobs (the documented
    // lazy-checkpoint gotcha); gate drops are scans, so `.rdd` is free.
    val ms = StateStore.maint(spark)
    // hashed drop checkpointed FIRST: the bloom split references it
    // three times (negative filter, positive filter, touched collect)
    val fresh0 = IdLedger.withHash(
        StateStore.rebase(
            newVecs.select(col(idCol).cast("long").as("vec_id"),
              col(vecCol).as("__v")), ms)
          .dropDuplicates("vec_id"),
        Seq("vec_id"), bk)
      .localCheckpoint(false)
    val split =
      IdLedger.splitFresh(fresh0, Seq("vec_id"), prior, bloomOpt, bb)
    val incoming = (if (prior.isEmpty) fresh0
      else split.fresh
        .localCheckpoint(false)) // isEmpty + assignment: compute once
    if (incoming.isEmpty) {
      require(prior.nonEmpty,
        s"ivfIncremental: empty first drop at $statePath")
      return readIvfPostings(spark, prior).limit(0)
    }
    val dir = StateStore.nextDir(spark, statePath)
    val incomingM = incoming // already on the maintenance session
    // the frozen model as a driver array: the first drop has it in
    // hand from the fit; later drops collect the stored k-row table
    // (bounded by the model size — it was broadcast-joined before
    // anyway). Assignment is then a NARROW projection via the
    // broadcast-handle argmin (NearestCellBc) — the broadcast-join +
    // (__id, __v) group-by it replaces re-shuffled the drop's full
    // vector column per ingest for a dedup `incoming` already had
    // (ids are distinct by the dropDuplicates above; opt guide §2.4)
    val model: Array[(Array[Double], Double)] = if (prior.isEmpty) {
      val fit = fitIvfCentroids(incoming, vecCol = "__v", k = kCells,
        iters = iters)
      centroidsDf(ms, fit).repartition(1)
        .write.mode("overwrite").parquet(s"$dir/centroids")
      fit.map(c => (c, c.map(x => x * x).sum))
    } else readCentroidModel(spark, prior.head + "/centroids")
    val VE = graft.functions.VectorExpressions
    val bcm = spark.sparkContext.broadcast(model)
    // postings and the ledger tables all derive from the checkpointed
    // `incoming` (materialized by the isEmpty probe above) and write
    // to disjoint paths: overlap the write jobs (opt guide §2.6);
    // commit still waits for all of them
    StateStore.inParallel(Seq(
      // explicit width (the IdLedger.writeIds lesson): a width-less
      // repartition lets AQE coalesce the tiny shuffle to one partition
      // and one task then writes every cell file serially
      () => incomingM
        .select(col("vec_id"), col("__v"),
          l2norm(col("__v")).as("__cn"),
          VE.nearestCellBc(col("__v"), bcm).as("__cell"))
        .repartition(ms.sessionState.conf.numShufflePartitions,
          col("__cell"))
        .write.partitionBy("__cell").mode("overwrite")
        .parquet(s"$dir/postings"),
      () => IdLedger.writeIds(incomingM, Seq("vec_id"), dir),
      () => IdLedger.writeBloom(ms, dir, bk, bb, split.bloomBytes)))
    // the ingest is eager — the model broadcast is consumed by the
    // write above and the returned frame is a pure read-back, so free
    // it now instead of waiting for a driver GC (advice r13: dead
    // model broadcasts accumulate across long sweeps)
    bcm.unpersist()
    StateStore.commit(spark, dir)
    spark.read.parquet(s"$dir/postings")
  }

  /** The stored coarse-quantizer model as a driver array indexed by
    * cell id, with the PERSISTED norms (bit-identical to what the
    * broadcast-join argmin read from the same table) — bounded by the
    * model size, one tiny collect. */
  private def readCentroidModel(spark: org.apache.spark.sql.SparkSession,
                                path: String)
      : Array[(Array[Double], Double)] = {
    val rows = spark.read.parquet(path).collect()
    val arr = new Array[(Array[Double], Double)](rows.length)
    rows.foreach { r =>
      arr(r.getAs[Int]("__cell")) =
        (r.getAs[Seq[Double]]("__cvec").toArray,
          r.getAs[Double]("__cnorm2"))
    }
    arr
  }

  /** Per-root postings union ([[IdLedger.archiveIds]]' lesson:
    * multi-root partition inference is unsupported). */
  private def readIvfPostings(spark: org.apache.spark.sql.SparkSession,
                              dirs: Seq[String]): DataFrame =
    dirs.map(d => spark.read.parquet(s"$d/postings"))
      .reduce(_.unionByName(_))

  /**
   * Query face of [[ivfIncremental]]: probe each query's `nprobe`
   * nearest frozen cells, rank the probed cells' stored postings by
   * true cosine, cut with the bounded top-k. The postings read is
   * PARTITION-PRUNED to the query set's probed cells (bounded by the
   * model size, so the touched-cell collect is a constant-size driver
   * hop) — a nightly corpus pays one narrow scan of the probed cells,
   * never the archive. Output matches [[ivfTopK]] exactly.
   */
  def ivfIncrementalTopK(queries: DataFrame, statePath: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         nprobe: Int = 4, k: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val prior = StateStore.committed(spark, statePath)
    require(prior.nonEmpty, s"no committed IVF state under $statePath")
    val cdf = spark.read.parquet(prior.head + "/centroids")
    val q = probeCells(
      queries.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        l2norm(col(vecCol)).as("__qn")),
      cdf, nprobe, carry = Seq("__v", "__qn"))
      .select(col("__id").as("query_id"), col("__v").as("__qv"),
        col("__qn"), col("__cell"))
    val touched = q.select(col("__cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val posts = readIvfPostings(spark, prior)
      .filter(col("__cell").isin(touched.map(Int.box): _*))
      .select(col("vec_id").as("neighbor_id"), col("__v").as("__cv"),
        col("__cn"), col("__cell"))
    val scored = q.join(posts, "__cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(scored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Compact a [[binaryHammingIncremental]] state with an
    * [[IdLedger]] REBUILD at the given sizing — the rescue for a
    * saturated first-ingest bloom and the one-time migration for
    * pre-ledger (r12-format) states: `ids` + `idbloom` are rebuilt
    * from the signature table the compaction is already rewriting.
    * Runs even on a single-dir state; plain [[StateStore.compact]]
    * suffices while the sizing is still right. */
  def binaryHammingLedgerRebuild(spark: org.apache.spark.sql.SparkSession,
                                 statePath: String,
                                 ledgerBuckets: Int = IdLedger.Buckets,
                                 ledgerBloomBits: Int = IdLedger.BloomBits)
      : Unit =
    StateStore.compactRewrite(spark, statePath)(m =>
      IdLedger.rebuilt(m, m("sigs")._1.select(col("vec_id")),
        ledgerBuckets, ledgerBloomBits))

  /** [[binaryHammingLedgerRebuild]]'s twin for [[ivfIncremental]]
    * states: the ledger rebuilds from the postings' id column; the
    * frozen centroids and the cell layout ride through untouched. */
  def ivfLedgerRebuild(spark: org.apache.spark.sql.SparkSession,
                       statePath: String,
                       ledgerBuckets: Int = IdLedger.Buckets,
                       ledgerBloomBits: Int = IdLedger.BloomBits): Unit =
    StateStore.compactRewrite(spark, statePath)(m =>
      IdLedger.rebuilt(m, m("postings")._1.select(col("vec_id")),
        ledgerBuckets, ledgerBloomBits))

  /**
   * REFIT face of [[ivfIncremental]] (FAISS retrain + re-add, riding
   * the crash-safe compact machinery): the coarse quantizer is frozen
   * at the first drop by design, but a corpus whose distribution
   * drifts from that first drop degrades to uneven cells — probes
   * touch ever-larger posting lists. `ivfRefit` retrains the
   * quantizer on the COMMITTED union (the deterministic
   * [[fitIvfCentroids]], whose driver-side Lloyd's runs on a bounded
   * sample), reassigns every posting to the new cells (broadcast
   * model join + partial-agg argmin — the same pure per-row function
   * as ingest), and swaps atomically via [[StateStore.compactRewrite]]
   * — so post-refit [[ivfIncrementalTopK]] is frame-identical to a
   * one-shot [[ivfTopK]] over the union corpus with the freshly fit
   * centroids (spec-pinned), and the id ledger + re-present/read-back
   * contracts ride through untouched. Later ingests assign to the NEW
   * frozen model (read from the compacted first dir).
   */
  def ivfRefit(spark: org.apache.spark.sql.SparkSession,
               statePath: String,
               kCells: Int = 16, iters: Int = 5): Unit = {
    graft.functions.VectorExpressions.register(spark)
    // freed after the compaction staged its writes (advice r13 — the
    // refit is eager, nothing lazy references the model broadcast)
    var bcmOut: org.apache.spark.broadcast.Broadcast[_] = null
    StateStore.compactRewrite(spark, statePath) { m =>
      val posts = m("postings")._1
        .select(col("vec_id").as("__id"), col("__v"))
      val fit = fitIvfCentroids(posts, idCol = "__id", vecCol = "__v",
        k = kCells, iters = iters)
      // staged tables build on the merged frames' (maintenance)
      // session, so their writes run AQE-off like the rest of the stage
      val cdf = centroidsDf(posts.sparkSession, fit)
      // committed postings carry distinct vec_ids by the id-ledger
      // contract (re-presents never commit), so the broadcast-handle
      // argmin projection assigns each posting directly — the
      // broadcast-join + (__id, __v) group-by it replaces re-shuffled
      // every stored vector for a dedup the ledger already guarantees
      val VE = graft.functions.VectorExpressions
      val bcm = spark.sparkContext.broadcast(
        fit.map(c => (c, c.map(x => x * x).sum)))
      bcmOut = bcm
      val re = posts
        .select(col("__id").as("vec_id"), col("__v"),
          l2norm(col("__v")).as("__cn"),
          VE.nearestCellBc(col("__v"), bcm).as("__cell"))
      // no repartition on postings: compactRewrite repartitions every
      // partitioned staged table by its partition columns at width
      m + ("centroids" -> (cdf.repartition(1), Seq.empty[String])) +
        ("postings" -> (re, Seq("__cell")))
    }
    if (bcmOut != null) bcmOut.unpersist()
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): split each vector into `m` subspaces,
  // k-means each subspace into `k` codes, store m small codes per
  // vector (m·log₂k bits instead of dim·32) and search by asymmetric
  // distance (ADC). This is the memory face of ANN — at 100 TB the
  // index must be ~50× smaller than the vectors, which neither IVF
  // (full vectors in cells) nor LSH (full vectors re-scored) gives.
  // Like the IVF model, codebooks are DATA (a broadcast table keyed by
  // subspace), never plan literals.
  // ------------------------------------------------------------------

  /** Codebook model as a broadcastable table:
    * `(__sub, __cell, __cvec, __cnorm2)` — [[centroidsDf]] with a
    * subspace key. */
  private def codebooksDf(spark: org.apache.spark.sql.SparkSession,
                          books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.map { case (c, i) =>
        (s, i, c.toSeq, c.map(x => x * x).sum) }
    }.toSeq.toDF("__sub", "__cell", "__cvec", "__cnorm2")
  }

  /** `(__id, __sub, __v)` rows: each vector exploded into its `m`
    * `dim/m`-element subvectors. Narrow map — the explode multiplies
    * rows by m but shrinks them by the same factor. */
  private def subVectors(df: DataFrame, dim: Int, m: Int): DataFrame = {
    val sd = dim / m
    df.select(col("__id"), explode(expr(
        s"transform(sequence(0, ${m - 1}), s -> " +
        s"struct(s AS sub, slice(__v, s * $sd + 1, $sd) AS sv))")).as("__p"))
      .select(col("__id"), col("__p.sub").as("__sub"),
        col("__p.sv").as("__v"))
  }

  /**
   * Fit PQ codebooks: Lloyd's k-means in every subspace SIMULTANEOUSLY
   * over one exploded-subvector table (m separate fits would scan the
   * corpus m times). Each pass is ONE single-stage job — the
   * [[fitIvfCentroids]] per-partition accumulator over the
   * triple-distinct `(id, sub, subvector)` cache, assigning codes with
   * the [[graft.functions.VectorExpressions.PqCodesBc]] arithmetic and
   * folding per-(sub, code, pos) sums/counts; partials merge on the
   * driver in partition-index order. The distinct matches the old
   * broadcast-join formulation exactly: its `groupBy(__id, __sub,
   * __v)` argmin collapsed duplicate triples before the mean, so
   * deduping ONCE up front feeds every pass the identical multiset
   * (the r13 fitIvfCentroids lesson) — without paying the join's ×k
   * candidate rows and the two grouped shuffles per pass. Seeding is
   * the deterministic farthest-first of [[fitIvfCentroids]], run per
   * subspace over one md5-ordered driver sample. Only the 8·k sample
   * and the k·dim partials reach the driver.
   */
  def fitPq(corpus: DataFrame, idCol: String = "vec_id",
            vecCol: String = "embedding", dim: Int = 64, m: Int = 8,
            k: Int = 16, iters: Int = 4): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    // the Lloyd loop runs on the AQE-off maintenance session (the
    // fitIvfCentroids rationale)
    val spark = StateStore.maint(corpus.sparkSession)
    val sd = dim / m
    val vecs = StateStore.rebase(
        corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")),
        spark)
      .cache()
    val sample = vecs
      .orderBy(md5(concat(lit("pq:"), col("__id").cast("string"))))
      .limit(math.max(8 * k, 64)).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      farthestFirst(sample.map(_.slice(s * sd, (s + 1) * sd)), k))
    val sub = subVectors(vecs, dim, m)
      .dropDuplicates("__id", "__sub", "__v").cache()
    val isFloat = sub.schema("__v").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(
        books.map(_.map(c => (c, c.map(x => x * x).sum))))
      val mm = m
      val kk = k
      val sdd = sd
      val fl = isFloat
      val partials = sub.rdd.mapPartitionsWithIndex { (pi, it) =>
        val model = bc.value
        val sums = Array.ofDim[Double](mm, kk, sdd)
        val cnts = Array.ofDim[Long](mm, kk, sdd)
        it.foreach { row =>
          val s = row.getInt(1)
          val v: Array[Double] =
            if (fl) row.getSeq[Float](2).iterator.map(_.toDouble).toArray
            else row.getSeq[Double](2).toArray
          val book = model(s)
          var best = 0
          var bestD = Double.NaN
          var c = 0
          while (c < book.length) {
            val (cv, cn2) = book(c)
            val n = math.min(v.length, cv.length)
            var acc = 0.0
            var i = 0
            while (i < n) { acc += v(i) * cv(i); i += 1 }
            val d = cn2 - 2.0 * acc
            if (c == 0 || java.lang.Double.compare(d, bestD) < 0) {
              bestD = d; best = c
            }
            c += 1
          }
          val srow = sums(s)(best)
          val crow = cnts(s)(best)
          val lim = math.min(v.length, sdd)
          var i = 0
          while (i < lim) { srow(i) += v(i); crow(i) += 1; i += 1 }
        }
        Iterator((pi, sums, cnts))
      }.collect().sortBy(_._1)
      val next = books.map(_.map(_.clone()))
      val sumAll = Array.ofDim[Double](mm, kk, sdd)
      val cntAll = Array.ofDim[Long](mm, kk, sdd)
      partials.foreach { case (_, su, cn) =>
        var s = 0
        while (s < mm) {
          var c = 0
          while (c < kk) {
            var i = 0
            while (i < sdd) {
              sumAll(s)(c)(i) += su(s)(c)(i)
              cntAll(s)(c)(i) += cn(s)(c)(i)
              i += 1
            }
            c += 1
          }
          s += 1
        }
      }
      var s = 0
      while (s < mm) {
        var c = 0
        while (c < kk) {
          var i = 0
          while (i < sdd) {
            // absent (sub, code, pos) groups keep their entry, as the
            // grouped-avg formulation did
            if (cntAll(s)(c)(i) > 0)
              next(s)(c)(i) = sumAll(s)(c)(i) / cntAll(s)(c)(i)
            i += 1
          }
          c += 1
        }
        s += 1
      }
      books = next
      bc.unpersist()
    }
    sub.unpersist()
    vecs.unpersist()
    books
  }

  /**
   * Encode vectors to PQ codes: `(idCol, codes)` with `codes(s)` = the
   * nearest codebook entry of subspace `s`. The compressed corpus
   * representation [[pqTopK]] searches — m·log₂k bits of payload per
   * vector. One narrow projection, no shuffle at all.
   *
   * Precondition (the corpus contract shared with [[bruteForceTopK]]):
   * ids are distinct — the encode emits ONE row PER INPUT ROW, so a
   * duplicated id yields duplicated code rows (the pre-r13 group-by
   * emitted one malformed 2m-code row per duplicated id instead;
   * neither is meaningful — dedup dirty inputs first).
   */
  def pqEncode(df: DataFrame, books: Array[Array[Array[Double]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val VE = graft.functions.VectorExpressions
    // all m codes in ONE narrow pass (PqCodesBc, argmin-identical to
    // the explode + broadcast-join + min(struct) chain it replaces —
    // parity spec): the old encode exploded ×m sub-vector rows and
    // paid two grouped shuffles of them per pass (opt guide §2.4).
    // One row per input row — callers feed distinct ids (the corpus
    // contract shared with bruteForceTopK).
    val bc = df.sparkSession.sparkContext.broadcast(
      books.map(_.map(c => (c, c.map(x => x * x).sum))))
    df.select(col(idCol), VE.pqCodesBc(col(vecCol), bc).as("codes"))
  }

  /**
   * PQ asymmetric-distance top-k: queries keep their exact vectors,
   * the corpus is its PQ codes. Per query, a lookup table of
   * ‖q_s − c‖² surrogates (the per-rank constant ‖q_s‖² dropped, as
   * in [[cellDist]]) over all m·k codebook entries is computed by one
   * broadcast join — q·m·k rows, tiny — then corpus codes fold the
   * LUT: explode to (neighbor, sub, code), equi-join the LUT on
   * (sub, code), sum per (query, neighbor). The per-neighbor work is
   * m LUT lookups + one partial-aggregable sum — never a dim-wide dot
   * product — which is the whole point of PQ at scale. Top-k by
   * (distance asc, neighbor_id) through the standard window.
   *
   * The LUT is q·m·k rows, so the `broadcastLut` hint (default on) is
   * right only for bounded query batches — it grows linearly in the
   * query count and a huge batch would blow the broadcast/driver
   * limits. Rule of thumb: keep q·m·k under ~10⁷ rows (q ≲ 10⁵ at the
   * default m=8,k=16); above that pass `broadcastLut = false` so AQE
   * picks the join side/strategy from runtime stats instead.
   */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             books: Array[Array[Array[Double]]],
             idCol: String = "vec_id", vecCol: String = "embedding",
             k: Int = 10, broadcastLut: Boolean = true): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val spark = queries.sparkSession
    val m = books.length
    val dim = m * books.head.head.length
    val bdf = codebooksDf(spark, books)
    val lut = subVectors(
        queries.select(col(idCol).as("__id"), col(vecCol).as("__v")),
        dim, m)
      .join(broadcast(bdf), "__sub").withColumn("__d", cellDist)
      .select(col("__id").as("query_id"), col("__sub"),
        col("__cell").as("__code"), col("__d"))
    val codes = pqEncode(corpus, books, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("__sub", "__code")))
    val scored = codes.join(if (broadcastLut) broadcast(lut) else lut,
        Seq("__sub", "__code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d")).as("__dist"))
    boundedTopK(scored, "query_id", "neighbor_id", "__dist", k,
        descending = false)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__dist"), 4).as("pq_dist"), col("rank"))
  }

  /**
   * Deterministic OPQ-style rotation (the parametric "PCA +
   * eigenvalue allocation" variant of Ge et al.'s Optimized Product
   * Quantization): rotate onto the corpus principal axes, then deal
   * the components to the `m` subspaces greedily balancing the summed
   * log-eigenvalues — subspaces end up with near-equal variance
   * PRODUCTS, which is the OPQ objective for Gaussian-ish data, so
   * the per-subspace k-means codebooks spend their bits evenly
   * instead of starving low-variance subspaces. The result is a
   * `dim×dim` orthonormal matrix (rows = permuted principal axes);
   * permutation+rotation preserve dots and norms exactly, so exact
   * rankings are unchanged and only the quantization improves. PCA
   * rides mllib's RowMatrix (one corpus pass for the covariance; the
   * dim×dim eigenproblem is driver-side, model-as-data like the
   * centroids). Apply with [[applyOpqRotation]] to BOTH corpus and
   * queries before [[fitPq]]/[[pqTopK]].
   */
  def fitOpqRotation(corpus: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding", dim: Int = 64,
                     m: Int = 8): Array[Array[Double]] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = corpus.select(col(vecCol)).rdd
      .map(r => MlVectors.dense(
        r.getSeq[Float](0).map(_.toDouble).toArray))
    val (pc, varFrac) = new RowMatrix(rows)
      .computePrincipalComponentsAndExplainedVariance(dim)
    val sd = dim / m
    val sums = Array.fill(m)(0.0)
    val slots = Array.fill(m)(0)
    val assign = Array.fill(m)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    // components arrive in descending-eigenvalue order; give the next
    // (largest remaining) one to the free subspace whose log-variance
    // sum is currently LARGEST — log fractions are negative, so that
    // is the least-loaded bucket (ties to the lowest index). The
    // greedy eigenvalue-allocation heuristic of the OPQ paper.
    for (c <- 0 until dim) {
      val s = (0 until m).filter(slots(_) < sd)
        .maxBy(j => (sums(j), -j))
      assign(s) += c
      slots(s) += 1
      sums(s) += math.log(math.max(varFrac(c), 1e-12))
    }
    val rot = Array.ofDim[Double](dim, dim)
    for (s <- 0 until m; p <- 0 until sd) {
      val cIdx = assign(s)(p)
      val t = s * sd + p
      var i = 0
      while (i < dim) { rot(t)(i) = pc(i, cIdx); i += 1 }
    }
    rot
  }

  /** Apply a [[fitOpqRotation]] matrix: `y = R·x` per row, emitted in
    * the same `(idCol, vecCol)` float-array shape so every downstream
    * operator is unchanged. Narrow map, no shuffle; the 32 KB matrix
    * travels in the task closure (model-as-data — never a dim² literal
    * expression tree). */
  def applyOpqRotation(df: DataFrame, rot: Array[Array[Double]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = rot.length
    df.select(col(idCol).cast(LongType), col(vecCol))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          val y = new Array[Float](dim)
          var t = 0
          while (t < dim) {
            val r = rot(t)
            var acc = 0.0
            var i = 0
            while (i < dim) { acc += r(i) * v(i); i += 1 }
            y(t) = acc.toFloat
            t += 1
          }
          (id, y.toSeq)
        }
      }.toDF(idCol, vecCol)
  }

  /**
   * PQ search with exact re-ranking — the production PQ shape: an ADC
   * shortlist of `shortlist` candidates per query ([[pqTopK]]'s
   * LUT-folded scan, never a dim-wide dot product corpus-wide), then
   * the TRUE cosine on only those q·shortlist pairs, top-`k`. Recall
   * approaches exact as `shortlist`/`k` grows while full vectors are
   * touched for a per-query CONSTANT number of rows — at 100 TB the
   * corpus is scanned as m-byte codes and the expensive kernel runs on
   * a bounded candidate set (the standard IVF-ADC+rerank deployment).
   * Output matches [[bruteForceTopK]]: `(query_id, neighbor_id,
   * cosine, rank)`.
   */
  def pqRerank(queries: DataFrame, corpus: DataFrame,
               books: Array[Array[Array[Double]]],
               idCol: String = "vec_id", vecCol: String = "embedding",
               k: Int = 10, shortlist: Int = 100): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val cand = pqTopK(queries, corpus, books, idCol, vecCol,
        k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn"))
    val rescored = cand.join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(rescored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /** Residual vectors w.r.t. each element's nearest coarse centroid:
    * `(__id, __cell, __rv)` with `__rv = v − c(cell)` re-emitted as
    * float (the corpus vector convention, so the PQ machinery applies
    * unchanged). One broadcast argmin + one narrow zip_with — the
    * per-element HOF runs once at encode time, never in the search
    * path. */
  private def ivfResiduals(df: DataFrame, cdf: DataFrame): DataFrame =
    assignCells(df, cdf, carry = Seq("__v"))
      .join(broadcast(cdf.select(col("__cell"), col("__cvec"))), "__cell")
      .select(col("__id"), col("__cell"),
        expr("transform(zip_with(__v, __cvec, (x, y) -> x - y), " +
          "z -> cast(z as float))").as("__rv"))

  /**
   * Fit PQ codebooks on IVF RESIDUALS — the IVFADC composition
   * (Jégou et al., PAMI 2011) every production-scale FAISS deployment
   * runs: the coarse quantizer removes the vector's cell mean, so the
   * per-subspace codebooks spend their bits on the residual
   * distribution (much tighter than raw vectors) and search can be
   * restricted to probed cells. Deterministic given deterministic
   * `centroids` ([[fitIvfCentroids]]) — seedless md5 sample + Lloyd's.
   */
  def fitIvfPq(corpus: DataFrame, centroids: Array[Array[Double]],
               idCol: String = "vec_id", vecCol: String = "embedding",
               dim: Int = 64, m: Int = 8, k: Int = 16,
               iters: Int = 4): Array[Array[Array[Double]]] = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    val res = ivfResiduals(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      centroidsDf(corpus.sparkSession, centroids))
    fitPq(res.select(col("__id").as(idCol), col("__rv").as(vecCol)),
      idCol, vecCol, dim, m, k, iters)
  }

  /**
   * IVF-PQ search with exact re-ranking (IVFADC + rerank — the full
   * production ANN stack): the corpus lives as (cell, m residual
   * codes); each query probes its `nprobe` nearest cells, builds one
   * ADC lookup table PER PROBED CELL from its residual there
   * (`q − c(cell)`), folds the LUT over only that cell's codes, and
   * the `shortlist` best candidates get the TRUE cosine on original
   * vectors. Per-neighbor search work is m LUT lookups + a
   * partial-aggregable sum; full vectors are touched for a per-query
   * CONSTANT candidate set — at 100 TB the corpus scans as m-byte
   * codes within probed cells only, which is what neither plain PQ
   * (whole-corpus code scan) nor plain IVF (full vectors in cells)
   * gives. The (cell, sub, code) LUT join hits each (query, neighbor)
   * pair exactly m times because a neighbor sits in exactly one cell.
   * Output matches [[bruteForceTopK]]: `(query_id, neighbor_id,
   * cosine, rank)`.
   */
  def ivfPqRerank(queries: DataFrame, corpus: DataFrame,
                  centroids: Array[Array[Double]],
                  books: Array[Array[Array[Double]]],
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  nprobe: Int = 4, k: Int = 10,
                  shortlist: Int = 100): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val spark = queries.sparkSession
    val m = books.length
    val dim = m * books.head.head.length
    val cdf = centroidsDf(spark, centroids)
    val bdf = codebooksDf(spark, books)
    // corpus face: cell + residual codes (built once at index time)
    val res = ivfResiduals(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")), cdf)
    val codes = pqEncode(
        res.select(col("__id").as(idCol), col("__rv").as(vecCol)),
        books, idCol, vecCol)
      .join(res.select(col("__id").as(idCol), col("__cell")), idCol)
      .select(col(idCol).as("neighbor_id"), col("__cell"),
        posexplode(col("codes")).as(Seq("__sub", "__code")))
    // query face: per probed cell, the residual's ADC lookup table
    val qres = probeCells(
        queries.select(col(idCol).as("__id"), col(vecCol).as("__v")),
        cdf, nprobe, carry = Seq("__v"))
      .join(broadcast(cdf.select(col("__cell"), col("__cvec"))), "__cell")
      .select(col("__id"), col("__cell"),
        expr("transform(zip_with(__v, __cvec, (x, y) -> x - y), " +
          "z -> cast(z as float))").as("__rv"))
    // bdf's code id column is also named __cell — rename the probed
    // IVF cell to __ivf around the codebook join, then emit the join
    // shape (__cell = IVF cell, __code = codebook entry)
    val lutTbl = qres
      .select(col("__id").as("query_id"), col("__cell").as("__ivf"),
        explode(expr(
          s"transform(sequence(0, ${m - 1}), s -> struct(s AS sub, " +
          s"slice(__rv, s * ${dim / m} + 1, ${dim / m}) AS sv))"))
          .as("__p"))
      .select(col("query_id"), col("__ivf"), col("__p.sub").as("__sub"),
        col("__p.sv").as("__v"))
      .join(broadcast(bdf), "__sub").withColumn("__d", cellDist)
      .select(col("query_id"), col("__ivf").as("__cell"), col("__sub"),
        col("__cell").as("__code"), col("__d"))
    val adc = codes.join(broadcast(lutTbl), Seq("__cell", "__sub", "__code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d")).as("__dist"))
    val cand = boundedTopK(adc, "query_id", "neighbor_id", "__dist",
        shortlist, descending = false)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn"))
    val rescored = cand.join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(rescored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /**
   * Plain PCA rotation: rows = principal axes in DESCENDING variance
   * order (no subspace permutation — [[fitOpqRotation]]'s allocation
   * is right for PQ codebooks, wrong for truncation, where the top
   * axes must come first). One corpus pass for the covariance; the
   * dim×dim eigenproblem is driver-side, model-as-data.
   */
  def fitPcaRotation(corpus: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     dim: Int = 64): Array[Array[Double]] = {
    import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = corpus.select(col(vecCol)).rdd
      .map(r => MlVectors.dense(
        r.getSeq[Float](0).map(_.toDouble).toArray))
    val pc = new RowMatrix(rows).computePrincipalComponents(dim)
    Array.tabulate(dim, dim)((t, i) => pc(i, t))
  }

  /**
   * Dimensionality-reduction retrieval (the Matryoshka/PCA-truncation
   * deployment): coarse-search in the first `dims` PCA components —
   * where most of the variance, hence most of the cosine, lives —
   * then exact-rerank the `shortlist` best on ORIGINAL vectors. The
   * coarse pass streams `dims`-wide slices (at `dims = dim/4` the
   * scan reads 4× fewer bytes and the dot kernel does 4× fewer
   * multiplies); full-width vectors are touched only for a per-query
   * CONSTANT candidate set. With `dims = dim` the rotation is
   * orthonormal so reduced cosine == exact cosine and the result IS
   * brute force (the spec's equality face). Output matches
   * [[bruteForceTopK]]: `(query_id, neighbor_id, cosine, rank)`.
   */
  def pcaRerank(queries: DataFrame, corpus: DataFrame,
                rot: Array[Array[Double]], dims: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                k: Int = 10, shortlist: Int = 100): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    def reduce(df: DataFrame): DataFrame =
      applyOpqRotation(df, rot, idCol, vecCol)
        .select(col(idCol),
          expr(s"slice($vecCol, 1, $dims)").as(vecCol))
    val cand = bruteForceTopK(reduce(queries), reduce(corpus), idCol,
        vecCol, k = shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn"))
    val rescored = cand.join(broadcast(q), "query_id")
      .join(c, "neighbor_id")
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(rescored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /**
   * Recall-floor gate face: per query, whether an approximate top-k
   * (`approx`) retrieved at least `floor` of the exact top-k
   * (`exact`) — both in the `(query_id, neighbor_id, …)` shape. Emits
   * one row PER QUERY of the exact side (a query the approximate
   * method dropped entirely — empty bucket, unprobed cell — surfaces
   * as `meets_floor = 0`, it cannot vanish), so the driver's
   * rows+hash comparison against the constant all-ones oracle turns
   * "every query meets the recall floor" into a CORRECTNESS row even
   * though the approximate methods themselves are not
   * SQL-expressible. Floors are set with margin below the measured
   * per-query minimum: hit counts are deterministic per
   * (data, seedless fit), and the margin absorbs the ±1 a float
   * partial-aggregation ulp could flip near a rank boundary.
   * Output: `(query_id, k, floor, meets_floor)`.
   */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int,
                floor: Int): DataFrame = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("__hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k).cast("long").as("k"),
        lit(floor).cast("long").as("floor"),
        (coalesce(col("__hits"), lit(0L)) >= floor).cast("long")
          .as("meets_floor"))
  }

  /** Sign-bit LSH bucket id from `nBits` fixed hyperplanes; `table`
    * selects an independent plane family. Single-table convenience
    * around the fused [[signBuckets]] kernel (bit-identical planes from
    * `VectorExpressions.planeComponent`). */
  def lshBuckets(vec: Column, dim: Int, nBits: Int,
                 table: Int = 0): Column =
    element_at(signBuckets(vec, dim, nBits, table + 1), table + 1)

  /** All `nTables` bucket ids in one native pass — see
    * `VectorExpressions.SignBuckets` for why this is not a Column
    * formulation (JIT limits on the generated projection). */
  def signBuckets(vec: Column, dim: Int, nBits: Int,
                  nTables: Int): Column =
    graft.functions.VectorExpressions.signBuckets(vec, dim, nBits, nTables)

  /**
   * LSH-bucketed approximate top-k. The corpus is hashed into
   * `nTables` independent 2^nBits bucket families; each query probes
   * its own bucket and every 1-bit flip (multi-probe) in every table.
   * The n×m product becomes an equi-join on bucket id with fan-out
   * nTables·(nBits+1) buckets per query — the 100 TB scale path.
   * Recall rises with more tables / fewer bits; exactness is
   * [[bruteForceTopK]]'s job.
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String = "vec_id", vecCol: String = "embedding",
              dim: Int = 64, nBits: Int = 6, nTables: Int = 8,
              k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(queries.sparkSession)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), l2norm(col(vecCol)).as("__cn"),
      explode(signBuckets(col(vecCol), dim, nBits, nTables)).as("__bucket"))
    val qBase = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), l2norm(col(vecCol)).as("__qn"),
      signBuckets(col(vecCol), dim, nBits, nTables).as("__bs"))
    // multi-probe: per table, own bucket + all single-bit flips
    // (native probe-expansion kernel — no per-element HOF lambda)
    val probes = qBase.withColumn("__bucket", explode(
      graft.functions.VectorExpressions.lshProbes(col("__bs"), nBits, 1)))
    val scored = probes.join(c, "__bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    boundedTopK(scored, "query_id", "neighbor_id", "cosine", k,
        descending = true)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"), col("rank"))
  }

  /**
   * Symmetric int8 quantization per vector — the storage/serving
   * compression step of an embedding pipeline (4× smaller than float32
   * before dot-product acceleration). Per row: `scale = 127 / max|xᵢ|`
   * and `qᵢ = ⌊xᵢ · scale⌋`, so every component lands in [-128, 127].
   * All math is per-element double products + floor — no accumulation
   * order, bit-identical in any engine (the single division is the
   * sanctioned cross-engine float form). Emits summary columns
   * (`q_sum`/`q_min`/`q_max`, rounded scale) so the gate output stays
   * narrow; the quantized array itself is the same `transform`
   * expression, exposed via [[quantizedVector]]. Zero vectors get
   * scale 0 (all-zero codes). A narrow map: no shuffle at any scale.
   */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val q = quantizedVector(col(vecCol))
    df.select(col(idCol),
      aggregate(q, lit(0L), (acc, v) => acc + v).as("q_sum"),
      array_min(q).as("q_min"), array_max(q).as("q_max"),
      round(quantScale(col(vecCol)), 4).as("scale"))
  }

  /**
   * Per-dimension corpus statistics over an embedding column — the
   * normalization model (mean-centering, scaling, whitening prep) a
   * pipeline fits before indexing. posexplode → one grouped
   * aggregation whose reduce side is `dim`-bounded regardless of
   * corpus size (map-side partial aggregation carries dim·4 doubles
   * per task). Elements cast to DOUBLE before accumulating (float32
   * summation would drift); mean/std rounded to 4 for the
   * cross-engine gate, min/max exact (float→double is exact).
   */
  def embedStats(df: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col("dim"), col("__x").cast(DoubleType).as("__x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__x")), 4).as("mean"),
        round(stddev_samp(col("__x")), 4).as("std"),
        min(col("__x")).as("min"), max(col("__x")).as("max"))

  /**
   * Integer-exact per-label centroids: each component is quantized to
   * micro-units (`⌊x·10⁶⌋` on the DOUBLE rendering — float32→double is
   * exact, so the quantization is bit-identical in any engine) and
   * summed as int64, making the per-(label, dim) sums immune to
   * accumulation order; the mean divides ONCE at the end
   * (single-division rule). This is the class-prototype computation
   * under nearest-centroid classification, semantic dedup seeding, and
   * per-class drift monitoring.
   *
   * Scale shape: posexplode (narrow) → one grouped aggregation whose
   * reduce side is labels·dim-bounded regardless of corpus size;
   * map-side partials carry (count, sum) per cell. Output:
   * `(label, dim, n, sum_q, mean_r)` with `dim` 1-based.
   */
  def labelCentroids(df: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .select(col("label"), (col("__d") + 1).as("dim"),
        floor(col("__x").cast(DoubleType) * 1000000d)
          .cast(LongType).as("__q"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("__q")).as("sum_q"))
      .select(col("label"), col("dim"), col("n"), col("sum_q"),
        round(col("sum_q").cast(DoubleType) / col("n"), 6).as("mean_r"))

  /**
   * Prototype-distance outlier detection — the embedding-space quality
   * filter (SSL-prototype / nearest-class-mean pruning): flag every
   * vector whose cosine to its own label's centroid falls below
   * `tauPm/1000`, evaluated in EXACT integer arithmetic so the
   * boundary is engine-identical. Vectors quantize to micro-units
   * (`⌊x·10⁶⌋`, bit-exact in any engine); the prototype is the
   * FLOOR-mean in micro-units (`Σ⌊x·10⁶⌋ div n` per dim — bounded by
   * 10⁶ regardless of n, so products never overflow); and
   * `cos < τ` becomes `dot < 0 OR dot²·10⁶ < τ²·|x|²·|m|²` with the
   * squares carried as DECIMAL(38,0) (== DuckDB HUGEINT, both exact —
   * the [[graft.streaming.EventStreamOps.anomalies]] pattern). No
   * float, no sqrt, no accumulation-order sensitivity.
   *
   * Scale shape: centroids ride [[labelCentroids]]' labels·dim-bounded
   * partial aggregation, collect into a labels-sized broadcast model
   * table, and the verdict is a narrow map over one broadcast
   * equi-join — no window, no shuffle on the corpus side. Output:
   * the flagged rows `(idCol, label, dot_q)` (`dot_q` = the exact
   * integer dot in micro-unit² scale).
   */
  def prototypeOutliers(df: DataFrame, tauPm: Int = 100,
                        labelCol: String = "label",
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val dArr = org.apache.spark.sql.types.ArrayType(DoubleType)
    // micro-unit components as DOUBLES: every value the chain produces
    // (components ≤ 2²⁰, products ≤ 2⁴⁰, 64-term sums ≤ 2⁴⁶) is an
    // integer below 2⁵³, so the codegen'd double dot kernel is EXACT —
    // the int64 semantics at native-scan speed (the HOF fold
    // formulation interprets its lambda per element, ~5× slower)
    val qx = transform(col(vecCol),
      x => floor(x.cast(DoubleType) * 1000000d)).cast(dArr)
    val cents = labelCentroids(df, labelCol, vecCol)
      .select(col("label"), col("dim"), expr("sum_q div n").as("m"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("m"))))
        .as("__s"))
      .select(col("label"), expr("transform(__s, p -> p.m)")
        .cast(dArr).as("__mv"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    def d(c: Column): Column = c.cast(dec)
    df.select(col(idCol), col(labelCol).as("label"), qx.as("__qx"))
      .join(broadcast(cents), "label")
      .withColumn("dot_q", dot(col("__qx"), col("__mv")).cast("long"))
      .withColumn("__nx", dot(col("__qx"), col("__qx")).cast("long"))
      .withColumn("__nm", dot(col("__mv"), col("__mv")).cast("long"))
      .filter(col("dot_q") < 0 ||
        d(col("dot_q")) * col("dot_q") * lit(1000000L) <
          lit(tauPm.toLong * tauPm) * d(col("__nx")) * col("__nm"))
      .select(col(idCol), col("label"), col("dot_q"))
  }

  /**
   * Semantic clustering over the mutual-kNN graph — [[knnGraph]]'s
   * edges filtered to mutual pairs with RAW cosine ≥ `tau` (the float
   * invariant: the threshold never sees the display rounding), closed
   * into connected components; every input vector gets its cluster's
   * canonical (minimum) member id, singletons themselves. This is the
   * kNN-graph community step semantic-dedup and topic-discovery
   * pipelines run after [[knnGraph]]; `nBits > 0` swaps in the
   * LSH-bucketed candidate face at corpus scale.
   * Output: `(idCol, cluster)` for EVERY input row.
   */
  def knnClusters(df: DataFrame, k: Int = 3, tau: Double = 0.35,
                  nBits: Int = 0, nTables: Int = 4, dim: Int = 64,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val e = knnEdges(df, k, nBits, nTables, dim, idCol, vecCol)
      .filter(col("mutual") === 1 && col("__cos") >= tau &&
        col("src") < col("dst"))
      .select(col("src"), col("dst"))
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct()
      .withColumn("label", lit("vec"))
    val edges = e.withColumn("label", lit("knn"))
    val cc = GraphAlgos.connectedComponents(
      graft.sources.GraphStore(verts, edges))
      .withColumnRenamed("id", "__ccid")
    df.select(col(idCol))
      .join(cc, col(idCol) === col("__ccid"), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"))
  }

  /** `127 / max|xᵢ|` (0 for the zero vector), accumulated exactly. */
  def quantScale(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast(DoubleType))))
    when(mx > 0.0, lit(127.0) / mx).otherwise(lit(0.0))
  }

  /** The int8 code array `⌊xᵢ · scale⌋` as longs (summable without
    * overflow casts downstream). */
  def quantizedVector(vec: Column): Column = {
    val sc = quantScale(vec)
    transform(vec, x => floor(x.cast(DoubleType) * sc).cast(LongType))
  }
}
