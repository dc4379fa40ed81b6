package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gremlin.Graft
import graft.sources.GraphStore

/**
 * Driver contract (see SURVEY.md §7): one `queries` entry per operator
 * from SURVEY.md §2, each with a DuckDB-equivalent `oracleSql` over the
 * same parquet tables.
 *
 * The Gremlin queries run over the TPC-H-derived property graph
 * (customer -[placed]-> order -[contains]-> part, `GraphStore.tpch`);
 * the oracle SQL re-expresses each traversal as the equivalent
 * relational join. Vertex id arithmetic (order = key + 1e9,
 * part = key + 2e9) matches `GraphStore.{OrderIdOffset,PartIdOffset}`.
 */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    g(spark, "/root/testdata/sf0.001").df(
      "g.V().hasLabel('customer').out('placed').out('contains').dedup().count()")

  // One cached graph per (session, sf): the reference is an in-memory
  // engine (graph loaded at boot, served from RAM) — the comparable
  // serving mode here is a cached GraphStore, not a per-query parquet
  // re-scan. At sf0.1 that is ~185k vertices / ~750k edges; on a real
  // cluster the same cache spreads across executor storage memory.
  private val graphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Graft]

  /** Forget the memoized per-session graphs so a full storage reset
    * (`spark.catalog.clearCache()`) can rebuild the shared graph /
    * index caches fresh: after clearCache the old Graft's DataFrames
    * are no longer registered with the CacheManager, so keeping the
    * memo would silently serve UNCACHED re-scans forever. Driver-side
    * model memos (ivf/pq/opq/pca) hold plain arrays, not Spark
    * storage — they survive a reset unchanged. */
  def dropGraphCache(spark: SparkSession): Unit = {
    graphCache.keys.filter(_._1 eq spark).foreach(graphCache.remove)
    // the shared BFS/co-occurrence substrates are cache()-backed the
    // same way — a reset must forget them too or they'd serve
    // permanently uncached re-scans
    operators.GraphAlgos.dropSubstrateCache(spark)
  }

  private def g(spark: SparkSession, sfDir: String): Graft =
    graphCache.getOrElseUpdate((spark, sfDir), {
      val gr = Graft(GraphStore.tpch(spark, sfDir).cached())
      // Serve with the reference's indexes pre-built (IndexExpert at
      // boot): selective leading filters seed from posting lists, the
      // rest falls back to the (cached, pushed-down) scan via the 20%
      // selectivity gate — both paths are oracle-checked. Built by DDL,
      // as a served graph is, so the light lane's adjacency store is
      // built too.
      Seq("label", "mktsegment", "nationkey", "name", "brand", "size")
        .foreach(k => gr.ddl(s"BuildIndex(V, '$k')"))
      gr.ddl("BuildIndex(E, 'quantity')")
      gr
    })

  /** Gremlin-query entry: compile + run over the derived graph. */
  private def q(query: String): (SparkSession, String) => DataFrame =
    (spark, sfDir) => g(spark, sfDir).df(query)

  /** Same, but with 2-decimal rounding on the `value` column so
    * double-sum accumulation order can't flip the driver's hash. */
  private def qr(query: String): (SparkSession, String) => DataFrame =
    (spark, sfDir) => g(spark, sfDir).df(query)
      .withColumn("value", round(col("value"), 2))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 sources / scans ----
    "init_v_count" -> q("g.V().count()"),
    "init_e_count" -> q("g.E().count()"),

    // ---- §2.2 filters / predicates ----
    "has_pred_sum"   -> qr("g.V().hasLabel('part').has('size', gt(25)).values('retailprice').sum()"),
    "has_between"    -> q("g.V().hasLabel('order').has('totalprice', between(100000.0, 200000.0)).count()"),
    "has_inside"     -> q("g.V().hasLabel('part').has('size', inside(10, 20)).count()"),
    "has_within"     -> q("g.V().hasLabel('customer').has('mktsegment', within('BUILDING', 'MACHINERY')).count()"),
    "hasnot_key"     -> q("g.V().hasNot('mktsegment').count()"),
    "haskey_all"     -> q("g.V().hasKey('name', 'acctbal').count()"),
    "hasvalue_any"   -> q("g.V().hasValue('BUILDING').count()"),
    // numeric hasValue coerces int<->double like the reference's value_t
    // compare (base/predicate.cpp:28-44); both spell the same predicate
    "hasvalue_num"    -> q("g.V().hasValue(15).count()"),
    "hasvalue_coerce" -> q("g.V().hasValue(15.0).count()"),
    "haslabel_multi" -> q("g.V().hasLabel('customer', 'part').count()"),
    "is_scalar"      -> q("g.V().hasLabel('order').values('totalprice').is(gt(100000.0)).count()"),

    // ---- §2.3 traversals ----
    "traverse_out"      -> q("g.V().hasLabel('customer').has('mktsegment', 'BUILDING').out('placed').count()"),
    "traverse_in"       -> q("g.V().hasLabel('part').has('brand', 'Brand#13').in('contains').count()"),
    "traverse_both"     -> q("g.V().hasLabel('order').both().count()"),
    "traverse_2hop"     -> q("g.V().hasLabel('customer').out('placed').out('contains').dedup().count()"),
    "traverse_oute_inv" -> q("g.V().hasLabel('customer').outE('placed').inV().values('totalprice').max()"),
    "edge_has_count"    -> q("g.E().hasLabel('contains').has('quantity', gt(40.0)).count()"),
    "edge_outv_dedup"   -> q("g.E().hasLabel('placed').outV().dedup().count()"),

    // ---- §2.4 projections ----
    "values_mean"   -> qr("g.V().hasLabel('customer').values('acctbal').mean()"),
    "properties_kv" -> q("g.V().has('name', 'Customer#000000001').properties('mktsegment', 'nationkey').order()"),
    "label_groupcount" -> q("g.V().groupCount('label')"),
    "select_history"   -> q("g.V().hasLabel('customer').has('nationkey', eq(5)).as('c').out('placed').select('c').dedup().count()"),

    // ---- §2.5 aggregations ----
    "math_min"      -> q("g.E().hasLabel('contains').values('extendedprice').min()"),
    "dedup_history" -> q("g.V().hasLabel('customer').as('a').out('placed').dedup('a').count()"),
    "group_count_key" -> q("g.V().hasLabel('customer').groupCount('mktsegment')"),
    "group_collect" -> ((spark: SparkSession, sfDir: String) =>
      g(spark, sfDir)
        .df("g.V().hasLabel('customer').has('nationkey', lt(3)).group('nationkey', 'name')")
        .withColumn("values", concat_ws(",", col("values")))),
    "aggregate_cap" -> q("g.V().hasLabel('order').has('totalprice', gt(300000.0)).aggregate('big').cap('big')"),

    // ---- §2.6 order / range ----
    "order_limit" -> q("g.V().hasLabel('part').order('retailprice', decr).limit(5).values('name')"),
    "range_slice" -> q("g.V().hasLabel('order').values('totalprice').order().range(10, 20)"),

    // ---- §2.7 branches ----
    "union_branches" -> q("g.V().hasLabel('customer').has('nationkey', eq(1)).union(out('placed'), out('placed').out('contains')).count()"),
    // order/limit inside union branches: branch-global slice (reference
    // BranchExpert sends unlabelled data — core/message.cpp:149-172)
    "union_order_limit" -> q("g.V().hasLabel('customer').has('nationkey', eq(1)).union(out('placed').order('totalprice', decr).limit(3), out('placed').order('totalprice', incr).limit(2)).values('totalprice')"),
    // order/limit inside and(): per-input-traverser slice (labelled
    // branch + RangeExpert counter_map, barrier_expert.hpp:860-958) —
    // "customers whose LARGEST order is below 200k"
    "branch_top1_filter" -> q("g.V().hasLabel('customer').and(out('placed').order('totalprice', decr).limit(1).has('totalprice', lt(200000.0))).count()"),
    "and_filter" -> q("g.V().hasLabel('customer').and(out('placed').has('totalprice', gt(150000.0)), out('placed').has('totalprice', lt(50000.0))).count()"),
    "or_filter"  -> q("g.V().hasLabel('customer').or(out('placed').has('totalprice', gt(250000.0)), out('placed').has('totalprice', lt(20000.0))).count()"),
    "not_filter" -> q("g.V().hasLabel('customer').not(out('placed')).count()"),
    "where_store_q8" -> q("g.V().hasLabel('order').has('totalprice', lt(20000.0)).in('placed').dedup().aggregate('small').out('placed').out('contains').in('contains').in('placed').dedup().where(without('small')).count()"),
    "repeat_hop" -> q("g.V().hasLabel('customer').has('nationkey', eq(7)).repeat(out()).count()"),
    // bounded reachability (until extension): nation-1 customers walk
    // out() until they stand on a part — traversers exit per-path as
    // the condition hits (orders continue, parts stop), the frontier
    // drains at depth 2 and the eager loop certifies the drain
    "repeat_until" -> q("g.V().hasLabel('customer').has('nationkey', eq(1)).repeat(out()).until(hasLabel('part')).count()"),
    // depth-emitting repeat: every traverser at every depth ≤ 2 —
    // nation-2 customers' orders (depth 1) plus their parts (depth 2);
    // times(2) hard-stops (TinkerPop parity)
    "repeat_emit" -> q("g.V().hasLabel('customer').has('nationkey', eq(2)).repeat(out()).emit().times(2).count()"),
    // PRE-position until (TinkerPop while-do): the small parts in the
    // seed match at depth 0 and exit WITHOUT entering the body (the
    // post-form would drop them — parts have no out edges); the
    // customers walk out() until they reach parts
    "repeat_until_pre" -> q("g.V().union(hasLabel('customer').has('nationkey', eq(1)), hasLabel('part').has('size', lt(10))).until(hasLabel('part')).repeat(out()).count()"),
    // PRE-position emit: depth 0 (the seed customers) is emitted too,
    // unlike repeat_emit's post-form
    "repeat_emit_pre" -> q("g.V().hasLabel('customer').has('nationkey', eq(2)).emit().repeat(out()).times(2).count()"),
    // labeled-history path: [customer, order, part] vertex-id triples
    // rendered in as()-application order
    "path_labeled" -> q("g.V().hasLabel('customer').has('nationkey', eq(4)).as('c').out('placed').as('o').out('contains').path().order().limit(50)"),
    "where_history_neq" -> q("g.V().hasLabel('part').as('a').in('contains').out('contains').where(neq('a')).count()"),
    "range_skip" -> q("g.V().hasLabel('order').values('totalprice').order().skip(5).count()"),
    "traverse_ine" -> q("g.V().hasLabel('order').inE('placed').outV().dedup().count()"),
    "edge_bothv" -> q("g.E().hasLabel('contains').bothV().dedup().count()"),
    "key_proj" -> q("g.V().has('name', 'Customer#000000001').key().order()"),
    "select_multi" -> q("g.V().hasLabel('customer').has('nationkey', eq(3)).as('c').out('placed').has('totalprice', gt(200000.0)).as('o').select('c', 'o').order()"),
    "coin_sample" -> q("g.V().hasLabel('order').coin(0.5).count()"), // no oracle: engine-specific rand stream

    // ---- SoCC'19 Table 4 paper templates (Q1/Q3/Q4/Q8 are gated above
    // as properties_kv / traverse_in / edge_outv_dedup / where_store_q8;
    // these close the remaining four shapes) ----
    "paper_q2" -> q("g.V().hasKey('name').hasLabel('part').has('size', gt(40))"),
    "paper_q5" -> q("g.E().hasLabel('contains').has('quantity', gt(30.0)).not(outV().has('orderstatus', eq('F'))).groupCount('quantity')"),
    "paper_q6" -> q("g.V().hasLabel('customer').has('mktsegment', eq('BUILDING')).and(out('placed').values('totalprice').min().is(lt(50000.0)), out('placed').count().is(gt(3))).values('name')"),
    "paper_q7" -> q("g.V().hasLabel('customer').has('nationkey', eq(2)).as('a').union(out('placed'), out('placed').out('contains')).in('contains').where(neq('a')).has('totalprice', gt(100000.0)).order('totalprice', decr).limit(10)"),
    // LDBC IC1-shaped deep traversal (paper Table 5 workload class):
    // 3 hops + filters at both ends + dedup + order(k).limit(20) +
    // select — the limit cut is deterministic because dedup() runs
    // before order, so ties fall back to the unique element-id tiebreak
    "ic1_3hop" -> q("g.V().hasLabel('customer').has('mktsegment', eq('AUTOMOBILE')).as('c').out('placed').out('contains').in('contains').has('orderpriority', eq('1-URGENT')).dedup().as('o').order('totalprice', decr).limit(20).select('o')"),
    // IC5-like cohort aggregation: 2-hop fan-out then a
    // high-cardinality groupCount with BAG multiplicities (count =
    // number of cohort paths reaching each part)
    "ic5_group_2hop" -> q("g.V().hasLabel('customer').has('nationkey', within(1, 2, 3)).out('placed').out('contains').groupCount('name')"),

    // ---- LLM-data-pipeline operators (graft.operators.*) ----
    "text_stats" -> ((spark, sfDir) => {
      val t = col("text")
      docs(spark, sfDir).select(col("doc_id"),
        operators.TextOps.tokenCount(t).as("token_count"),
        operators.TextOps.bpeishCount(t).as("bpeish_count"))
    }),
    "text_lang_id" -> ((spark, sfDir) =>
      docs(spark, sfDir).select(col("doc_id"),
        operators.TextOps.langId(col("text")).as("lang_pred"))),
    "text_quality" -> ((spark, sfDir) =>
      docs(spark, sfDir).select(col("doc_id"),
        operators.TextOps.qualityScore(col("text")).as("quality"))),
    "text_fingerprint" -> ((spark, sfDir) =>
      docs(spark, sfDir).select(col("doc_id"),
        operators.TextOps.docFingerprint(col("text")).as("fingerprint"),
        operators.TextOps.winnowFingerprint(col("text")).as("winnow_fp"))),
    // FIM pretraining transform: deterministic md5-derived cut points,
    // PSM rearrangement, pure narrow projection
    "text_fim" -> ((spark, sfDir) =>
      operators.TextOps.fimSplit(docs(spark, sfDir))),
    "dedup_exact" -> ((spark, sfDir) =>
      operators.DedupOps.exact(docs(spark, sfDir))),
    "dedup_minhash" -> ((spark, sfDir) =>
      operators.DedupOps.minhashLsh(docs(spark, sfDir), tau = 0.8)),
    // cross-snapshot exact dedup: per-increment (text, min id, count)
    // partials persisted and merged — min/sum associativity makes the
    // merged answer equal one exact() over the union, which is
    // precisely dedup_exact's oracle
    "dedup_exact_incremental" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val state = freshStateDir("graft_exstate")
      operators.DedupOps.exactIncremental(
        d.filter(col("doc_id") % 2 === 0), state)
      operators.DedupOps.exactIncremental(
        d.filter(col("doc_id") % 2 === 1), state)
    }),
    // cross-snapshot incremental dedup: the corpus arrives as TWO
    // increments against persisted band-posting state, and the union
    // of the two runs' outputs must equal one full recompute — the
    // same exact-Jaccard oracle as dedup_minhash certifies exactly
    // that (evens pair only within evens in run 1; run 2 emits every
    // pair touching an odd id; old-old pairs never re-emit)
    "dedup_minhash_incremental" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val state = freshStateDir("graft_mhstate")
      operators.DedupOps.minhashLshIncremental(
        d.filter(col("doc_id") % 2 === 0), state, tau = 0.8)
        .unionByName(operators.DedupOps.minhashLshIncremental(
          d.filter(col("doc_id") % 2 === 1), state, tau = 0.8))
    }),
    "dedup_token_jaccard" -> ((spark, sfDir) =>
      operators.DedupOps.tokenJaccard(docs(spark, sfDir), tau = 0.95)),
    // asymmetric containment join (|A∩B|/|A| >= τ) over trigram
    // shingle sets: the quote/subset detector Jaccard is blind to;
    // integer-exact threshold, the fraction is one final division
    "dedup_containment" -> ((spark, sfDir) =>
      operators.DedupOps.containmentPairs(docs(spark, sfDir), tau = 0.9,
        shingleN = 3)),
    "dedup_simhash" -> ((spark, sfDir) => // no SQL oracle: xxhash64 seeds differ across engines
      operators.DedupOps.simhash(docs(spark, sfDir), maxDist = 3)),
    "neardup_embedding" -> ((spark, sfDir) =>
      operators.DedupOps.embeddingNearDupExact(embs(spark, sfDir), tau = 0.45)),
    // the LSH-bucketed path must reproduce the exact answer — same
    // DuckDB all-pairs oracle, same τ. nBits=6 because the fixture's
    // planted pairs sit at cosine ≈0.45 (see embeddingNearDup scaladoc:
    // low τ forces coarse buckets; default 16 bits suits real τ≥0.9)
    "neardup_embedding_lsh" -> ((spark, sfDir) =>
      operators.DedupOps.embeddingNearDup(embs(spark, sfDir), tau = 0.45,
        nBits = 6)),
    "dedup_exact_vectors" -> ((spark, sfDir) =>
      operators.DedupOps.exactVectors(embs(spark, sfDir))),
    // pair generation -> transitive closure -> canonical per cluster;
    // the oracle recomputes the exact-jaccard pair graph and closes it
    // with a recursive CTE
    "dedup_cluster" -> ((spark, sfDir) =>
      operators.DedupOps.nearDupClusters(docs(spark, sfDir), tau = 0.8)),
    // the APPLIED dedup: one survivor per near-dup cluster, full rows
    "dedup_survivors" -> ((spark, sfDir) =>
      operators.DedupOps.dedupNearDups(docs(spark, sfDir), tau = 0.8)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    // multi-signal entity resolution: normalized-text OR shared-URL
    // equality closes transitively; star edges per (key, value) group
    "dedup_entity_resolution" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir).withColumn("url",
        concat(lit("http://s.com/u"), (col("doc_id") % 97).cast("string")))
      operators.DedupOps.multiKeyResolve(d, Seq(
        "k1" -> operators.DedupOps.normalizeText(col("text")),
        "k2" -> col("url")))
    }),
    // quality-aware survivors: keep each cluster's LONGEST doc
    // (ties to smallest id) via partial-aggregable min(struct)
    "dedup_best_survivors" -> ((spark, sfDir) =>
      operators.DedupOps.dedupBestOf(docs(spark, sfDir),
        quality = col("n_chars"), tau = 0.8)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    "ann_cluster" -> ((spark, sfDir) => { // no SQL oracle: k-means fixpoint
      val e = embs(spark, sfDir)
      operators.SimilarityOps.clusterEmbeddings(e, ivfModel(spark, sfDir))
    }),
    // SemDeDup: cluster-scoped semantic dedup (within-cell cosine
    // pairs -> CC -> min-id canonical); k-means cells are
    // engine-seeded -> rows-only gate, driver-model-equality specs
    "dedup_semantic" -> ((spark, sfDir) =>
      operators.DedupOps.semanticDedup(embs(spark, sfDir),
        ivfModel(spark, sfDir), tau = 0.45)),
    // the same chain with FIXED centroids (the first 8 corpus vectors,
    // a bounded 8-row collect) — every stage (argmin assign -> salted
    // within-cluster pairs -> connected components -> min-id
    // canonical) is then SQL-expressible, so the full SemDeDup
    // pipeline gets a hash-checked oracle; the k-means-seeded variant
    // above stays rows-only by nature
    "dedup_semantic_fixed" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      operators.DedupOps.semanticDedup(e, cents, tau = 0.45)
    }),
    "ann_topk" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      operators.SimilarityOps.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),
    "ann_lsh" -> ((spark, sfDir) => { // no SQL oracle: approximate by design
      val e = embs(spark, sfDir)
      operators.SimilarityOps.lshTopK(e.filter(col("vec_id") < 10), e, k = 5)
    }),
    "ann_ivf" -> ((spark, sfDir) => { // no SQL oracle: approximate by design
      val e = embs(spark, sfDir)
      operators.SimilarityOps.ivfTopK(
        e.filter(col("vec_id") < 10), e, ivfModel(spark, sfDir),
        nprobe = 4, k = 5)
    }),
    "ann_pq" -> ((spark, sfDir) => { // no SQL oracle: k-means codebooks
      val e = embs(spark, sfDir)
      operators.SimilarityOps.pqTopK(
        e.filter(col("vec_id") < 10), e, pqModel(spark, sfDir), k = 5)
    }),
    // recall-floor gates: per query, the approximate method must
    // retrieve >= floor of the exact top-5 — an oracle-checkable
    // CORRECTNESS face for quality (the methods themselves stay
    // rows-only by nature). Floors sit with margin below the measured
    // per-query minimum at the verified sf (lsh min 3, ivf@nprobe8
    // min 2, pq+rerank50 min 2).
    "ann_recall_lsh" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.lshTopK(q, e, k = 5),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 2)
    }),
    "ann_recall_ivf" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.ivfTopK(q, e, ivfModel(spark, sfDir),
          nprobe = 8, k = 5),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 1)
    }),
    "ann_recall_pq" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.pqRerank(q, e, pqModel(spark, sfDir),
          k = 5, shortlist = 50),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 1)
    }),
    // the full OPQ chain (rotate corpus+queries -> PQ in the rotated
    // space -> ADC shortlist -> exact rerank) behind the same
    // recall-floor face: rotation preserves cosine exactly, so the
    // UNROTATED brute force stays the ground truth (probed min hits 2
    // at sf0.01; floor 1 = the plain-PQ floor, with the same margin)
    // the full IVFADC+rerank stack (probed cells -> residual-code ADC
    // shortlist -> exact rerank): recall floor hash-checked per query
    "ann_recall_ivfpq" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.ivfPqRerank(q, e,
          ivfModel(spark, sfDir), ivfPqBooks(spark, sfDir),
          nprobe = 12, k = 5, shortlist = 100),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 1)
    }),
    // PCA-truncation retrieval (coarse search in the top 16 of 64
    // variance-ordered components, exact rerank): recall floor
    // hash-checked per query (probed min hits 2 at sf0.01; floor 1)
    "ann_recall_pca" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.pcaRerank(q, e, pcaModel(spark, sfDir),
          dims = 16, k = 5, shortlist = 100),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 1)
    }),
    "ann_recall_opq" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val (rot, books) = opqModel(spark, sfDir)
      val er = operators.SimilarityOps.applyOpqRotation(e, rot)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.pqRerank(
          er.filter(col("vec_id") < 10), er, books, k = 5,
          shortlist = 50),
        operators.SimilarityOps.bruteForceTopK(
          e.filter(col("vec_id") < 10), e, k = 5),
        k = 5, floor = 1)
    }),
    // synthesize REAL PNG bytes per doc, then PARSE their headers back
    // (pure-JVM IHDR decode in mapPartitions batches); the oracle
    // recomputes what the parser must extract from the synthesis math
    "multimodal_meta" -> ((spark, sfDir) =>
      operators.MultimodalOps.decodeMeta(
        operators.MultimodalOps.withPngPayload(docs(spark, sfDir))).toDF()),
    "multimodal_frames" -> ((spark, sfDir) =>
      operators.MultimodalOps.sampleFrames(
        operators.MultimodalOps.withPayload(docs(spark, sfDir)))),

    // ---- corpus-curation operators (graft.operators.CurationOps) ----
    "curation_redact" -> ((spark, sfDir) =>
      operators.CurationOps.redact(docs(spark, sfDir), "table|spark", "<X>")),
    "curation_scrub" -> ((spark, sfDir) =>
      operators.CurationOps.scrubPii(docs(spark, sfDir))),
    "curation_repetition" -> ((spark, sfDir) =>
      operators.CurationOps.repetitionStats(docs(spark, sfDir), n = 3)),
    "curation_filters" -> ((spark, sfDir) =>
      operators.CurationOps.qualityFilters(docs(spark, sfDir))),
    "curation_decontaminate" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      operators.CurationOps.decontaminate(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0))
    }),
    "curation_lang_eval" -> ((spark, sfDir) =>
      operators.CurationOps.langIdEval(docs(spark, sfDir))),
    // crawl stage 0: synthesize a full HTML page around each doc
    // (head/script/style, link-only nav, escaped <p> body, link-heavy
    // footer), then rule-based extraction must recover EXACTLY the
    // whitespace-normalized text — boilerplate dropped by link density
    "curation_html_extract" -> ((spark, sfDir) =>
      operators.ExtractOps.htmlExtract(
        operators.ExtractOps.withHtmlPayload(docs(spark, sfDir)))
        .select("doc_id", "extracted")),
    "curation_quota_sample" -> ((spark, sfDir) =>
      operators.CurationOps.quotaSample(docs(spark, sfDir), n = 20)),
    "curation_pack" -> ((spark, sfDir) =>
      operators.CurationOps.packSequences(docs(spark, sfDir), budget = 512)),
    // token-exact fixed blocks with docs spilling across boundaries
    // (the GPT-style layout); block content pinned by in-order md5.
    // Gated in the documented 100 TB shape: shardShuffle assigns the
    // grouping unit (8 hash shards here; thousands at scale), so the
    // per-group ranking window never sees more than corpus/nShards
    "curation_pack_tokens" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      operators.CurationOps.packTokenBlocks(
        d.join(operators.CurationOps.shardShuffle(d, nShards = 8)
          .select("doc_id", "shard"), Seq("doc_id")),
        blockSize = 256, groupCol = "shard")
    }),
    "curation_source_stats" -> ((spark, sfDir) =>
      operators.CurationOps.sourceStats(docs(spark, sfDir))),
    "curation_top_ngram" -> ((spark, sfDir) =>
      operators.CurationOps.topNgramFraction(docs(spark, sfDir), n = 3)),
    "curation_token_quantiles" -> ((spark, sfDir) =>
      operators.CurationOps.sourceTokenQuantiles(docs(spark, sfDir))),
    // synthetic documents carry no URLs, so the gate plants
    // deterministic ones (doc_id-derived hosts) in BOTH engines — the
    // extraction and aggregation are exercised on real link structure
    "curation_domain_stats" -> ((spark, sfDir) =>
      operators.CurationOps.domainStats(
        docs(spark, sfDir).withColumn("text",
          concat(col("text"), lit(" http://site"), col("doc_id") % 50,
            lit(".com/p"), col("doc_id"), lit(" see https://mirror"),
            col("doc_id") % 7, lit(".org/x"))))),
    // URL canonicalization over planted messy URLs (mixed-case
    // authority, www., default ports, fragments, utm/gclid params,
    // trailing slashes — four deterministic doc_id-derived shapes);
    // the rule chain is mirrored step-for-step in the oracle SQL
    "curation_url_canonical" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val k = col("doc_id") % 50
      val q = col("doc_id") % 9
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTP://WWW.Site"), k, lit(".COM:80/Path"),
            col("doc_id"), lit("/?utm_source=x&q="), q, lit("#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://site"), k, lit(".com:443/path"),
            col("doc_id"), lit("?q="), q, lit("&utm_campaign=c")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("http://site"), k, lit(".com/path"),
            col("doc_id"), lit("/")))
        .otherwise(concat(lit("https://www.site"), k, lit(".com/path"),
          col("doc_id"), lit("?gclid=g")))
      operators.CurationOps.canonicalizeUrls(
        d.select(col("doc_id"), url.as("url")))
    }),
    // per-domain quota enforcement over the same planted link
    // structure: site7.com is blocklisted, every other domain keeps
    // its 40 smallest-md5 docs (the C4 blocklist/cap step)
    "curation_domain_quota" -> ((spark, sfDir) =>
      operators.CurationOps.domainQuota(
        docs(spark, sfDir).withColumn("text",
          concat(lit("http://site"), col("doc_id") % 50,
            lit(".com/p"), col("doc_id"), lit(" "), col("text"))),
        cap = 40, blocklist = Seq("site7.com"))),
    "text_tfidf_top" -> ((spark, sfDir) =>
      operators.TextOps.tfidfTop(docs(spark, sfDir), k = 1)),

    // ---- iterative graph algorithms (GraphX/Pregel) ----
    "graph_hops" -> ((spark, sfDir) =>
      operators.GraphAlgos.shortestHops(
        sources.GraphStore.tpch(spark, sfDir), source = 1L)),
    // CC is oracle-checkable after all: on a high-quantity subgraph the
    // components stay small (max ~26 nodes at sf0.01), so DuckDB's
    // recursive-CTE transitive closure is tractable; emitting
    // per-component (root, size) keeps the output scale-free. The
    // full-graph run stays covered by the GraphAlgosSpec brute-force
    // equality test.
    "graph_components" -> ((spark, sfDir) => {
      val g0 = sources.GraphStore.tpch(spark, sfDir)
      val sub = sources.GraphStore(g0.vertices,
        g0.edges.filter(col("label") === "placed" || col("quantity") >= 52.0))
      operators.GraphAlgos.connectedComponents(sub)
        .groupBy(col("component").as("root"))
        .agg(count(lit(1)).as("size"))
    }),
    // weighted SSSP on the same bounded subgraph as graph_components:
    // integer weights (1 per placed hop, ⌊quantity⌋ per contains hop)
    // keep path sums exact in both engines; the oracle enumerates
    // ≤32-hop walks and takes the min. maxIters=33 + requireConverged
    // pins the Spark side to the SAME hop cap as the oracle walk:
    // convergence needs one EXTRA empty-frontier round beyond the
    // longest shortest path's hop count, so 33 rounds certify every
    // shortest path has ≤32 hops; a >32-hop path at a larger sf makes
    // the entry throw instead of silently diverging from the oracle
    "graph_sssp" -> ((spark, sfDir) => {
      val g0 = sources.GraphStore.tpch(spark, sfDir)
      val sub = sources.GraphStore(g0.vertices,
        g0.edges.filter(col("label") === "placed" || col("quantity") >= 52.0))
      operators.GraphAlgos.weightedShortestPaths(sub, source = 1L,
        weight = when(col("label") === "placed", lit(1L))
          .otherwise(floor(col("quantity"))),
        maxIters = 33, requireConverged = true)
    }),
    // unnormalized integer HITS: 2 rounds of pure int64 sums (ranking
    // == normalized HITS; the normalizer is one positive scalar per
    // round) -> bit-exact unrolled CTE oracle, top-50 authorities
    "graph_hits" -> ((spark, sfDir) =>
      operators.GraphAlgos.hits(
        sources.GraphStore.tpch(spark, sfDir), rounds = 2, k = 50)),
    // fixed-iteration power method IS oracle-checkable: 3 rounds are 3
    // chained SQL CTEs; round(4) absorbs summation-order ulps (per-dst
    // contribution sums are the only float accumulation)
    "graph_pagerank_power" -> ((spark, sfDir) =>
      operators.GraphAlgos.pageRankPower(
        sources.GraphStore.tpch(spark, sfDir), iters = 3)
        .select(col("id"), round(col("rank"), 4).as("rank"))),
    "graph_pagerank" -> ((spark, sfDir) => { // no SQL oracle: iterative fixpoint
      import org.apache.spark.sql.expressions.Window
      // top-k FIRST (TakeOrderedAndProject — no global sort), then
      // number the 20 survivors; emit positions, not float ranks
      operators.GraphAlgos.pageRank(sources.GraphStore.tpch(spark, sfDir))
        .orderBy(col("rank").desc, col("id")).limit(20)
        .withColumn("rank_pos", row_number().over(
          Window.orderBy(col("rank").desc, col("id"))))
        .select(col("id"), col("rank_pos"))
    }),

    // ---- events-table analytics (window functions / sessionization) ----
    // a REAL incremental stream (file source → watermarkless tumbling
    // windows → memory sink, drained to completion) whose answer must
    // equal the batch/SQL computation of the same windows
    "events_stream_window" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedWindowCounts(
        spark, s"$sfDir/events.parquet")),
    // incremental stateful dedup: distinct keys out of a running stream
    "events_stream_dedup" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedDedup(
        spark, s"$sfDir/events.parquet")),
    "events_topn_per_type" -> ((spark, sfDir) => {
      // event_type is a HOT key (a handful of values over the whole
      // log) — the bounded partial-aggregable cut, never a per-type
      // window sort (same move as the ANN top-k rewiring)
      operators.SimilarityOps.boundedTopK(events(spark, sfDir),
          "event_type", "event_id", "value", 3, descending = true)
        .select(col("event_type"), col("event_id"),
          round(col("value"), 2).as("value"), col("rank").as("rn"))
    }),
    // hot-user-proof sessionization: per-(user, hour-bucket) local
    // sessions + boundary merge over bucket summaries — identical ids
    // to the single-window formulation the oracle runs
    "events_sessions" -> ((spark, sfDir) =>
      streaming.EventStreamOps.gapSessions(events(spark, sfDir),
        gapSeconds = 1800)
        .withColumn("session_id", col("__session"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("events"))),
    // point-in-time feature join: each click annotated with the same
    // user's latest purchase at-or-before it (union + keyed window,
    // not a per-row range join — see EventStreamOps.asofJoin)
    "events_asof_join" -> ((spark, sfDir) => {
      val ev = events(spark, sfDir)
      streaming.EventStreamOps.asofJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        keyCol = "user_id", tsCol = "ts", ordCol = "event_id",
        leftCols = Seq("event_id"), payload = Seq("event_id", "value"),
        prefix = "purchase_")
        .select(col("event_id"), col("user_id"),
          col("purchase_event_id"),
          round(col("purchase_value"), 2).as("purchase_value"))
    }),
    // forward as-of: each click annotated with the NEXT purchase
    // at-or-after it (conversion-lag / time-to-event view)
    "events_asof_forward" -> ((spark, sfDir) => {
      val ev = events(spark, sfDir)
      streaming.EventStreamOps.asofJoinForward(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        keyCol = "user_id", tsCol = "ts", ordCol = "event_id",
        leftCols = Seq("event_id"), payload = Seq("event_id", "value"),
        prefix = "next_")
        .select(col("event_id"), col("user_id"),
          col("next_event_id"),
          round(col("next_value"), 2).as("next_value"))
    }),
    // ordered view->click->purchase funnel: earliest strict-after
    // traversal per user; stage timestamps as epoch-micros int64
    "events_funnel" -> ((spark, sfDir) =>
      streaming.EventStreamOps.funnel(events(spark, sfDir),
        Seq("view", "click", "purchase"))),
    // conversion-delay report per stage pair: exact int64 min/max/
    // sum + type-1 median in epoch-micros
    "events_funnel_conversion" -> ((spark, sfDir) =>
      streaming.EventStreamOps.funnelConversion(events(spark, sfDir),
        Seq("view", "click", "purchase"))),
    // trailing 30-minute per-user range window; integer-cent sum keeps
    // the aggregate engine-exact (no float accumulation order)
    "events_trailing_30m" -> ((spark, sfDir) =>
      streaming.EventStreamOps.trailingWindow(
        events(spark, sfDir), seconds = 1800)),
    // REAL incremental stream-stream interval join (watermarked both
    // sides), drained and compared to the batch join
    "events_stream_join" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedIntervalJoin(
        spark, s"$sfDir/events.parquet")),
    // JSON property extraction: typed pull out of the props column,
    // grouped aggregate over the extracted value
    "events_props_agg" -> ((spark, sfDir) =>
      events(spark, sfDir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_cnt"))),
    "events_running_total" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(spark, sfDir)
        .withColumn("running", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), col("running"))
    }),
    // REAL incremental session_window stream drained to completion;
    // the oracle recomputes gap-based sessions with exact microsecond
    // arithmetic (no exact-gap ties exist in the fixture, so the
    // strict/inclusive boundary conventions agree)
    "events_stream_sessions" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedSessions(
        spark, s"$sfDir/events.parquet")),
    // REAL incremental mapGroupsWithState stream (custom keyed state,
    // Update mode) drained to completion; final state per user must
    // equal the batch aggregate on the integer-cents rendering
    "events_stream_state" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedUserState(
        spark, s"$sfDir/events.parquet")),
    // REAL parquet-sink stream (AvailableNow + checkpoint, the
    // production egress); aggregates are computed on the RE-READ
    // committed files
    "events_stream_sink" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedToParquet(
        spark, s"$sfDir/events.parquet",
        s"${System.getProperty("java.io.tmpdir")}/graft_streamsink_" +
          java.lang.Integer.toHexString(sfDir.hashCode))),

    // ---- round-5 pipeline operators ----
    // sliding-window token chunking with overlap (RAG / pretraining
    // document splitter)
    "curation_chunk" -> ((spark, sfDir) =>
      operators.CurationOps.chunkTokens(docs(spark, sfDir),
        chunkSize = 32, overlap = 8)),
    // deterministic salted-md5 train/val/test assignment
    "curation_split" -> ((spark, sfDir) =>
      operators.CurationOps.assignSplits(docs(spark, sfDir))),
    // link-prediction wedge counts: part pairs sharing the most orders
    "graph_common_neighbors" -> ((spark, sfDir) =>
      operators.GraphAlgos.commonNeighbors(
        sources.GraphStore.tpch(spark, sfDir), label = "contains", k = 20)),
    // symmetric int8 embedding quantization (summary columns)
    "embed_quantize" -> ((spark, sfDir) =>
      operators.SimilarityOps.quantizeInt8(embs(spark, sfDir))),
    // sketch-based per-source monitoring (HLL distinct + GK quantiles);
    // sketches are engine-specific -> rows-only gate, tolerance specs
    "curation_profile" -> ((spark, sfDir) =>
      operators.CurationOps.approxSourceProfile(docs(spark, sfDir))),
    // boilerplate-token pruning (drop tokens in > half the corpus),
    // order-preserving re-assembly
    "curation_prune" -> ((spark, sfDir) =>
      operators.CurationOps.pruneFrequentTokens(docs(spark, sfDir),
        maxDfRatio = 0.5)),
    // JSONL sink → source fidelity: per-source aggregates computed on
    // the RE-READ data must equal the oracle computed on the parquet
    "source_jsonl" -> ((spark, sfDir) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_" +
        java.lang.Integer.toHexString(sfDir.hashCode)
      sources.TextTables.jsonlRoundTrip(docs(spark, sfDir), dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
    }),
    // CSV (RFC-4180) sink → source fidelity: quoted/escaped text with
    // embedded newlines must survive byte-for-byte — the md5-prefix
    // checksum over the RE-READ text equals the oracle's over parquet
    "source_csv" -> ((spark, sfDir) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_csv_" +
        java.lang.Integer.toHexString(sfDir.hashCode)
      sources.TextTables.csvRoundTrip(docs(spark, sfDir), dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"),
          sum(expr(
            "cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
            .as("text_h"))
    }),

    // ---- round-6 pipeline operators ----
    // sub-document exact dedup at 4-token-block granularity: the
    // corpus-wide first occurrence of each block survives, docs are
    // re-assembled order-preserving (paragraph dedup for corpora
    // without blank-line structure; dedupParagraphs is the regex-split
    // production face of the same core)
    "dedup_paragraphs" -> ((spark, sfDir) =>
      operators.DedupOps.dedupTokenBlocks(docs(spark, sfDir),
        blockSize = 4)),
    // image content op: gradient dHash over the synthesized PNGs —
    // REAL chunk walk + REAL hash math on the stubbed pixel buffer;
    // integer-exact (byte sampling + comparisons), so the oracle
    // recomputes the full 64-bit hash from the same text bytes.
    // pHash (float DCT) is the spec-verified sibling.
    "multimodal_dhash" -> ((spark, sfDir) =>
      operators.MultimodalOps.dHash(
        operators.MultimodalOps.withPngPayload(docs(spark, sfDir)))
        .toDF()),
    // integer-exact perplexity-proxy: per-doc total/mean corpus bigram
    // frequency (low mean = transitions the corpus rarely sees)
    "text_bigram_fit" -> ((spark, sfDir) =>
      operators.TextOps.bigramFit(docs(spark, sfDir))),
    // seedless deterministic shard-shuffle (salted-md5 shard + in-shard
    // pseudo-random position) for training-data export
    "curation_shard_shuffle" -> ((spark, sfDir) =>
      operators.CurationOps.shardShuffle(docs(spark, sfDir), nShards = 8)),
    // broadcast-bloom decontamination pre-pass (same corpus/heldout cut
    // as curation_decontaminate); engine-specific hashing -> rows-only
    // gate, superset-of-exact + FP-count specs
    "curation_bloom_decontaminate" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      operators.CurationOps.bloomDecontaminate(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0))
    }),
    // cross-snapshot bloom state: two held-out drops merged into
    // persisted filter bytes must flag EXACTLY what one build over
    // their union flags (bit_or is associative — bit-identical bytes).
    // The equality is hash-checked: the gate emits the comparison
    // (docs_compared, mismatches) and the oracle pins mismatches = 0
    "curation_bloom_incremental" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      val state = freshStateDir("graft_bloomstate")
      operators.CurationOps.bloomStateAdd(
        d.filter(col("doc_id") % 20 === 0), state)
      operators.CurationOps.bloomStateAdd(
        d.filter(col("doc_id") % 20 === 10), state)
      val inc = operators.CurationOps
        .bloomDecontaminateStateful(corpus, state)
        .withColumnRenamed("flagged_ngrams", "inc_flagged")
      val full = operators.CurationOps.bloomDecontaminate(
        corpus, d.filter(col("doc_id") % 10 === 0))
        .withColumnRenamed("flagged_ngrams", "full_flagged")
      inc.join(full, Seq("doc_id"))
        .agg(count(lit(1)).as("docs_compared"),
          sum(when(col("inc_flagged") =!= col("full_flagged"), 1L)
            .otherwise(0L)).as("mismatches"))
    }),
    // deflate-compressibility signal; zlib output is implementation-
    // defined -> rows-only gate, ordering/determinism specs
    "text_compression_ratio" -> ((spark, sfDir) =>
      operators.TextOps.compressionRatio(docs(spark, sfDir))),
    // rolling-window exact substring dedup: tokens covered by any
    // later duplicate 8-token window drop, first occurrence survives;
    // md5 window keys group identically in both engines
    "dedup_substrings" -> ((spark, sfDir) =>
      operators.DedupOps.dedupSubstrings(docs(spark, sfDir),
        windowTokens = 8)),
    // suffix-array-grade report: every maximal token run covered by a
    // ≥8-token substring occurring twice anywhere in the corpus, at
    // arbitrary alignment; spans sliced from the original text
    "dedup_suffix_spans" -> ((spark, sfDir) =>
      operators.DedupOps.repeatedSpans(docs(spark, sfDir),
        minTokens = 8)),
    // ExactSubstr strip-ALL-occurrences dedup over the same spans (no
    // first-occurrence exemption — dedup_substrings is the keep-first
    // face)
    "dedup_suffix" -> ((spark, sfDir) =>
      operators.DedupOps.dedupSuffix(docs(spark, sfDir),
        minTokens = 8)),
    // per-dimension embedding normalization stats (dim-bounded reduce)
    "embed_stats" -> ((spark, sfDir) =>
      operators.SimilarityOps.embedStats(embs(spark, sfDir))),
    // vocabulary for tokenizer training: top-50 tokens by
    // (occurrences desc, token) with doc frequencies and ranks
    "text_vocabulary" -> ((spark, sfDir) =>
      operators.TextOps.vocabulary(docs(spark, sfDir), maxSize = 50)),
    // corpus-global deterministic sample (salted-md5 top-n,
    // TakeOrderedAndProject — no global sort)
    "curation_global_sample" -> ((spark, sfDir) =>
      operators.CurationOps.globalSample(docs(spark, sfDir), n = 100)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("chars"))),
    // audio content op: frame energies over synthesized WAV payloads —
    // REAL RIFF chunk walk + integer math, fully oracle-recomputable
    "multimodal_audio" -> ((spark, sfDir) =>
      operators.MultimodalOps.audioProfile(
        operators.MultimodalOps.withWavPayload(docs(spark, sfDir)))
        .toDF()),
    // sharded parquet export: write partitionBy(shard), RE-READ the
    // files, per-shard aggregates must equal SQL from the source table
    "source_sharded_export" -> ((spark, sfDir) => {
      // pid-keyed like streamedToParquet: two processes on one sfDir
      // must not overwrite-delete each other's files mid-read (within
      // one process the sequential re-runs reuse the dir via overwrite)
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
        java.lang.Integer.toHexString(sfDir.hashCode) +
        s"_p${ProcessHandle.current().pid()}"
      sources.TextTables
        .shardedParquetRoundTrip(docs(spark, sfDir), dir, nShards = 8)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("chars"),
          max(col("pos")).cast("long").as("max_pos"))
    }),

    // ---- round-7 operators ----
    // market-basket projection (parts co-purchased in ≥2 orders) →
    // degree-oriented per-vertex triangle counts; orientation bounds
    // wedge work at O(m^1.5), the wedge join is chunk-salted
    "graph_triangles" -> ((spark, sfDir) =>
      operators.GraphAlgos.triangleCounts(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2))),
    // 2-core of the same projection by iterative peeling; maxRounds=12
    // matches the oracle's unrolled peel chain exactly, and
    // requireConverged throws past it rather than silently diverging
    "graph_kcore" -> ((spark, sfDir) =>
      operators.GraphAlgos.kCore(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2), k = 2, maxRounds = 12)),
    // personalized PageRank from customer 1: fixed 3-iteration power
    // method -> chained-CTE oracle. FIXED-POINT int64 face: every
    // contribution is an integral division and every rank a pure
    // int64 sum, so the compared values are bit-identical across
    // engines and summation orders — no float boundary can flip a
    // floor/round (the float variant's floor(rank*1e4) was 1-ulp
    // fragile once a vertex accumulates multiple contribution paths)
    "graph_ppr" -> ((spark, sfDir) =>
      operators.GraphAlgos.personalizedPageRankFixedPoint(
        sources.GraphStore.tpch(spark, sfDir), source = 1L, iters = 3)),
    // label-propagation communities over the co-purchase projection;
    // engine-seeded labels -> rows-only gate, structural specs
    "graph_communities" -> ((spark, sfDir) =>
      operators.GraphAlgos.labelCommunities(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2))
        .groupBy(col("community")).agg(count(lit(1)).as("size"))),
    // deterministic synchronous LPA (count desc, label asc adoption,
    // 4 fixed rounds) -> fully unrollable integer oracle
    "graph_lpa_sync" -> ((spark, sfDir) =>
      operators.GraphAlgos.labelPropagationSync(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2), rounds = 4)),
    // weighted variant: votes carry the co-purchase count (tie
    // strength) — still pure int64, same unrolled-oracle shape
    "graph_lpa_weighted" -> ((spark, sfDir) =>
      operators.GraphAlgos.labelPropagationSync(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2), rounds = 4, weightCol = Some("shared"))),
    // local clustering coefficient over the same projection: integer
    // wedge/triangle counts up to one final rounded division
    "graph_clustering" -> ((spark, sfDir) =>
      operators.GraphAlgos.clusteringCoefficients(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2))),
    // weighted source mixing: per-mille integer keep test over a
    // broadcast weight table; epochs 0..⌈w⌉-1 with independent
    // deterministic fractional cuts
    "curation_mix" -> ((spark, sfDir) =>
      operators.CurationOps.mixSources(docs(spark, sfDir),
        weights = Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 1.25))),
    // token-span decontamination: per-doc clean fraction after
    // dilating every heldout-matching 8-gram ±4 tokens (same
    // corpus/heldout cut as curation_decontaminate)
    "curation_contamination" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      operators.CurationOps.contaminationSpans(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0))
    }),
    // quality classifier: fit integer odds-ratio token weights from a
    // deterministic seed labeling (long docs positive), score every
    // doc — the fastText/C4 quality-filter stage, float-free so the
    // whole fit+score chain is oracle-exact
    "curation_quality_classifier" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val weights = operators.CurationOps.fitQualityWeights(
        d.withColumn("pos", length(col("text")) >= 500), "pos")
      operators.CurationOps.scoreQuality(d, weights)
    }),
    // stream-static dimension enrichment: the events stream broadcast-
    // joins the customer dim INSIDE the streaming plan (stateless),
    // then aggregates per market segment; drained to completion, so
    // the answer must equal the batch join the oracle runs
    "events_stream_enrich" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedEnrich(spark,
        s"$sfDir/events.parquet",
        spark.read.parquet(s"$sfDir/customer.parquet")
          .select(col("c_custkey").cast("long").as("user_id"),
            col("c_mktsegment").as("mktsegment")))),
    // rate-limited backlog drain: events sharded into 4 files,
    // maxFilesPerTrigger=1 -> >= 4 data micro-batches (the operator
    // THROWS below 3); the drained aggregate must equal the batch SQL
    "events_stream_throttled" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedThrottled(spark,
        s"$sfDir/events.parquet",
        s"${System.getProperty("java.io.tmpdir")}/graft_evshards_" +
          java.lang.Integer.toHexString(sfDir.hashCode) +
          s"_p${ProcessHandle.current().pid()}")),
    // first-iteration BPE pair table over the word-frequency table
    "text_bpe_pairs" -> ((spark, sfDir) =>
      operators.TextOps.bpePairStats(docs(spark, sfDir), k = 50)),
    // id-ification against the trained top-50 vocabulary: per-doc
    // token/OOV counts + integer id-stream checksum
    "text_tokenize_ids" -> ((spark, sfDir) =>
      operators.TextOps.tokenizeWithVocab(docs(spark, sfDir),
        vocabSize = 50)),
    // train 16 merges on the corpus, encode it, report per-doc
    // fertility; training is an engine-side iterative fixpoint ->
    // rows-only gate (specs pin the merge sequence + roundtrip)
    "text_bpe_encode" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      operators.TextOps.bpeEncode(d,
        operators.TextOps.bpeTrain(d, numMerges = 16))
    }),

    // ---- round-9 continuation ----
    // 3-truss of the co-purchase projection: iterative edge peeling by
    // per-edge triangle support (each round = one oriented+salted
    // triangle pass); maxRounds=4 matches the oracle's unrolled peel
    // chain, requireConverged certifies-or-throws past it
    "graph_ktruss" -> ((spark, sfDir) =>
      operators.GraphAlgos.kTruss(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2), k = 3, maxRounds = 4)),
    // bipartite butterfly (4-cycle) counts per part: C(shared, 2)
    // summed over co-occurrence partners — pure int64 on the salted
    // wedge projection
    "graph_butterflies" -> ((spark, sfDir) =>
      operators.GraphAlgos.butterflyCounts(
        sources.GraphStore.tpch(spark, sfDir), label = "contains",
        minShared = 2)),
    // Luby maximal independent set with DETERMINISTIC md5 priorities
    // over the part co-occurrence projection: each round's winners are
    // strict local priority minima, so the fixed draw makes the whole
    // run — and the 8-round unrolled oracle — exact, no seeds anywhere
    "graph_mis" -> ((spark, sfDir) =>
      operators.GraphAlgos.maximalIndependentSet(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2), maxRounds = 8)),
    // CCNet-style perplexity bucketing: per-doc bigram-fit score in
    // per-mille of the corpus mean, cut into head/middle/tail at fixed
    // relative thresholds — all int64 divisions, oracle-exact
    "text_perplexity_buckets" -> ((spark, sfDir) =>
      operators.TextOps.perplexityBuckets(docs(spark, sfDir))),
    // integer-exact BM25 ranked retrieval: rational idf surrogate ×
    // exact integer saturation ratio, int64 per-term contributions
    // (summation-order-free), bounded per-query top-k aggregate
    "text_bm25" -> ((spark, sfDir) =>
      operators.TextOps.bm25TopK(docs(spark, sfDir), Bm25Queries, k = 5)),
    // deterministic count-min sketch (md5 rows, int64 counters): the
    // engine-portable monitoring sketch — top-20 tokens with their
    // admissible sketch estimates, the WHOLE chain oracle-exact
    "curation_countmin" -> ((spark, sfDir) =>
      operators.CurationOps.countMinHeavyHitters(docs(spark, sfDir))),
    // truncated multi-source BFS from 4 fixed landmark customers —
    // the pivot closeness proxy (exact all-pairs closeness is O(n·m));
    // 3-hop truncation IS the semantics, so the unrolled oracle is
    // exact with no convergence clause
    "graph_closeness" -> ((spark, sfDir) =>
      operators.GraphAlgos.landmarkDistances(
        sources.GraphStore.tpch(spark, sfDir),
        landmarks = Seq(1L, 5L, 9L, 13L), maxHops = 3)),
    // harmonic centrality in exact twelfths over the same BFS
    "graph_harmonic" -> ((spark, sfDir) =>
      operators.GraphAlgos.harmonicCentrality(
        sources.GraphStore.tpch(spark, sfDir),
        landmarks = Seq(1L, 5L, 9L, 13L), maxHops = 3)),
    // state compaction mid-sequence: two ingested thirds compact into
    // one dir (read-equivalent by the union contract), the third
    // ingests against the compacted state, and the three runs' pairs
    // must STILL union to one full recompute — dedup_minhash's oracle.
    // Pre-compact results are pinned eagerly (compaction replaces the
    // files their lazy plans read)
    "dedup_minhash_compacted" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val state = freshStateDir("graft_mhcstate")
      val p1 = operators.DedupOps.minhashLshIncremental(
        d.filter(col("doc_id") % 3 === 0), state, tau = 0.8)
        .localCheckpoint()
      val p2 = operators.DedupOps.minhashLshIncremental(
        d.filter(col("doc_id") % 3 === 1), state, tau = 0.8)
        .localCheckpoint()
      operators.StateStore.compact(spark, state)
      val p3 = operators.DedupOps.minhashLshIncremental(
        d.filter(col("doc_id") % 3 === 2), state, tau = 0.8)
      p1.unionByName(p2).unionByName(p3)
    }),
    // cohort retention triangle: users keyed to their first-event
    // period, distinct-active counts per (cohort, offset) — pure int64
    // epoch-micro division, no windows over user history
    "events_retention" -> ((spark, sfDir) =>
      streaming.EventStreamOps.retentionCohorts(events(spark, sfDir))),
    // REAL incremental funnel: time-range shards replayed in event
    // order, bounded per-user state (K pairs), must equal the batch
    // funnel — the same oracle SQL as events_funnel
    "events_stream_funnel" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedFunnel(spark,
        s"$sfDir/events.parquet",
        s"${System.getProperty("java.io.tmpdir")}/graft_fnshards_" +
          java.lang.Integer.toHexString(sfDir.hashCode) +
          s"_p${ProcessHandle.current().pid()}",
        Seq("view", "click", "purchase"))),
    // PMI collocation mining: top-50 adjacent-pair associations by the
    // exp(PMI) ratio — exact int64 counts, one final division
    "text_collocations" -> ((spark, sfDir) =>
      operators.TextOps.collocations(docs(spark, sfDir),
        minCount = 5, topK = 50)),
    // TextRank keywords: int64 fixed-point damped walk over the word
    // adjacency graph (2 unrolled iterations -> exact CTE oracle)
    "text_textrank" -> ((spark, sfDir) =>
      operators.TextOps.textRank(docs(spark, sfDir),
        minCount = 5, iters = 2, topK = 30)),
    // C4 line-level cleaning over synthesized noisy pages: the filter
    // must recover EXACTLY the two clean lines each page plants
    "curation_line_filters" -> ((spark, sfDir) =>
      operators.CurationOps.lineFilters(
        operators.CurationOps.withNoisyLines(docs(spark, sfDir)))),
    // integer-exact per-label centroids: micro-unit quantized int64
    // sums (order-free), one final division
    "embed_centroids" -> ((spark, sfDir) =>
      operators.SimilarityOps.labelCentroids(embs(spark, sfDir))),
    // statistical outlier detection: z² > k² evaluated in EXACT
    // integer arithmetic (DECIMAL(38) == HUGEINT) — no float, no sqrt
    "events_anomaly" -> ((spark, sfDir) =>
      streaming.EventStreamOps.anomalies(events(spark, sfDir), k = 3)),
    // REAL incremental anomalies: three int64 scalars of per-type
    // streaming state; drained moments == batch moments exactly, so
    // the report equals the batch face verbatim (shared oracle)
    "events_stream_anomaly" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedAnomalies(spark,
        s"$sfDir/events.parquet", k = 3)),
    // exact cosine radius search: raw-similarity filter, rounded
    // display (the float invariant), no rank window
    "ann_radius" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      operators.SimilarityOps.radiusSearch(
        e.filter(col("vec_id") < 10), e, tau = 0.2)
    }),
    // REAL incremental count-min: sketch counters fold across
    // micro-batches in constant depth×width state; the drained sketch
    // is bit-identical to the batch build — same oracle
    "curation_countmin_stream" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedCountMin(spark,
        s"$sfDir/documents.parquet",
        s"${System.getProperty("java.io.tmpdir")}/graft_cmshards_" +
          java.lang.Integer.toHexString(sfDir.hashCode) +
          s"_p${ProcessHandle.current().pid()}")),
    // degree histogram over edge-incident vertices (total degree)
    "graph_degree_hist" -> ((spark, sfDir) =>
      operators.GraphAlgos.degreeHistogram(
        sources.GraphStore.tpch(spark, sfDir))),
    // exact int64 assortativity sufficient statistics (the Pearson
    // coefficient is one driver formula away; moments stay integer)
    "graph_assortativity" -> ((spark, sfDir) =>
      operators.GraphAlgos.assortativityMoments(
        sources.GraphStore.tpch(spark, sfDir))),
    // Markov transition counts over each user's ordered event stream
    "events_transitions" -> ((spark, sfDir) =>
      streaming.EventStreamOps.typeTransitions(events(spark, sfDir))),
    // near-exact dedup on the normalized key: planted formatting-noise
    // twins (upper/double-space/punct) must collapse onto originals
    "dedup_normalized" -> ((spark, sfDir) =>
      operators.DedupOps.dedupNormalized(
        operators.DedupOps.withFormattingNoise(docs(spark, sfDir)),
        idCol = "id")),
    // exact edit-distance similarity join (PassJoin pigeonhole
    // segments -> shifted-window candidates -> levenshtein verify)
    // over planted typo twins; the oracle brute-forces all pairs
    "dedup_edit_distance" -> ((spark, sfDir) =>
      operators.DedupOps.editDistancePairs(
        operators.DedupOps.withTypoPayload(docs(spark, sfDir)),
        maxDist = 1)),
    // ORC ingest/egress fidelity: per-source aggregates + md5-derived
    // content checksums of the ORC-round-tripped corpus vs the oracle's
    // aggregates over the SOURCE parquet (the source_csv pattern)
    // two parquet generations (gen-1 written without lang/n_chars),
    // re-read as ONE table via mergeSchema: the union schema resolves
    // from footers and gen-1 rows surface the added columns as nulls
    "source_schema_evolution" -> ((spark, sfDir) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sev_" +
        java.lang.Integer.toHexString(sfDir.hashCode)
      sources.Layout.schemaEvolutionRoundTrip(docs(spark, sfDir), dir,
        col("doc_id") % 2 === 0, Seq("lang", "n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          count(col("lang")).as("lang_present"),
          sum(coalesce(col("n_chars"), lit(0L))).as("chars"),
          sum(col("doc_id")).as("id_sum"))
    }),
    "source_orc" -> ((spark, sfDir) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
        java.lang.Integer.toHexString(sfDir.hashCode)
      sources.TextTables.orcRoundTrip(docs(spark, sfDir), dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"),
          sum(expr(
            "cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
            .as("text_h"))
    }),
    // CDC MERGE apply: a changelog with multi-version updates,
    // tombstone deletes (winning over same-key updates) and inserts
    // folds into the base via latest-per-key partial agg + ONE
    // full-outer join; the final state is directly SQL-expressible
    "source_merge_upsert" -> ((spark, sfDir) => {
      val base = docs(spark, sfDir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val upd1 = base.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit("stale-draft").as("text"),
          col("lang"), col("source"), lit(1L).as("version"),
          lit(false).as("deleted"))
      val upd2 = base.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" [v2]")).as("text"), col("lang"),
          col("source"), lit(2L).as("version"), lit(false).as("deleted"))
      val dels = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(null).cast("string").as("text"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("source"),
          lit(3L).as("version"), lit(true).as("deleted"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          concat(lit("new-"), col("doc_id").cast("string")).as("text"),
          lit("xx").as("lang"), lit("cdc").as("source"),
          lit(1L).as("version"), lit(false).as("deleted"))
      sources.Layout.mergeUpsert(base,
          upd1.unionByName(upd2).unionByName(dels).unionByName(ins),
          Seq("doc_id"))
        .select(col("doc_id"),
          expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)")
            .as("text_h"),
          col("lang"), col("source"))
    }),
    // snapshot-as-of read over the committed increment log: three
    // committed ingests plus one crashed (uncommitted) leftover;
    // "as of 2" sees exactly the first two — commit markers totally
    // order the log, uncommitted dirs are invisible
    "source_time_travel" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val state = freshStateDir("graft_ttstate")
      (0 to 2).foreach { r =>
        val inc = operators.StateStore.nextDir(spark, state)
        d.filter(col("doc_id") % 3 === r).write.mode("overwrite")
          .parquet(s"$inc/docs")
        operators.StateStore.commit(spark, inc)
      }
      d.filter(col("doc_id") % 5 === 0).write.mode("overwrite")
        .parquet(s"${operators.StateStore.nextDir(spark, state)}/docs")
      operators.StateStore.readAsOf(spark, state, "docs", 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("chars"))
    }),

    // ---- round-9 second continuation ----
    // Apriori level-2 association rules: integer per-mille confidence
    // and lift over the salted co-occurrence projection
    "graph_assoc_rules" -> ((spark, sfDir) =>
      operators.GraphAlgos.associationRules(
        sources.GraphStore.tpch(spark, sfDir), label = "contains",
        minShared = 2, k = 50)),
    // link-prediction neighborhood Jaccard (per-mille, int64-exact)
    "graph_jaccard" -> ((spark, sfDir) =>
      operators.GraphAlgos.neighborhoodJaccard(
        sources.GraphStore.tpch(spark, sfDir), label = "contains",
        minShared = 2, k = 50)),
    // hourly grid + LOCF gap fill per user (feature-store resampling);
    // observed bucket value = partial-aggregable max(struct), the LOCF
    // window runs over GRID rows only
    "events_gapfill" -> ((spark, sfDir) =>
      streaming.EventStreamOps.gapFill(events(spark, sfDir),
        periodSeconds = 86400)),
    // exact per-type quantiles by value compression: the cumulative
    // scan runs over distinct integer-cent values, never raw events
    "events_quantiles" -> ((spark, sfDir) =>
      streaming.EventStreamOps.exactQuantiles(events(spark, sfDir))),
    // ROLLUP grouping sets: (type, hour) / type / grand total in one
    // expand + partial-aggregable pass; sentinel-rendered levels
    "events_rollup" -> ((spark, sfDir) =>
      streaming.EventStreamOps.typeHourRollup(events(spark, sfDir))),
    // CUBE grouping sets: all four (type, dow) levels in one pass
    "events_cube" -> ((spark, sfDir) =>
      streaming.EventStreamOps.typeDowCube(events(spark, sfDir))),
    // integer-exact OLS slope of daily volume per type: (num, den)
    // exact rationals + sign-split floor milli-slope
    "events_trend" -> ((spark, sfDir) =>
      streaming.EventStreamOps.dailyTrend(events(spark, sfDir))),
    // CUSUM-peak changepoint day per type, exact int64 deviations
    "events_changepoint" -> ((spark, sfDir) =>
      streaming.EventStreamOps.changePoint(events(spark, sfDir))),
    // hashing-trick featurizer: vocabulary-free fixed-width counts
    "text_hashed_features" -> ((spark, sfDir) =>
      operators.TextOps.hashedFeatures(docs(spark, sfDir), dim = 16)),
    // explicit-value pivot: one conditional hash aggregate, no
    // plan-time distinct-collect, fixed schema, 0-rendered cells
    "events_pivot" -> ((spark, sfDir) =>
      streaming.EventStreamOps.dailyTypePivot(events(spark, sfDir))),
    // decile buckets without a global sort: distinct-value histogram
    // cutpoints + broadcast theta-join assignment, ties share buckets
    "curation_score_buckets" -> ((spark, sfDir) =>
      operators.CurationOps.quantileBuckets(docs(spark, sfDir))),
    // Efraimidis-Spirakis weighted sampling, transcendental-free:
    // max-of-w md5 tickets == the u^(1/w) A-ES key for integer weights
    "curation_weighted_sample" -> ((spark, sfDir) =>
      operators.CurationOps.weightedSample(docs(spark, sfDir), n = 50,
        weight = expr("1 + least(n_chars div 400, 7)"))),
    // inverted-index summary: df/cf + BoundedMinIds posting head
    "text_inverted_index" -> ((spark, sfDir) =>
      operators.TextOps.invertedIndex(docs(spark, sfDir),
        maxPostings = 5)
        .filter(col("df") >= 3)),
    // SCD type-2 build: per-user daily state intervals via day-grid
    // LOCF + island collapse — every window over calendar-bounded grid
    // rows, day ids integer epoch divisions
    "events_scd2" -> ((spark, sfDir) =>
      streaming.EventStreamOps.scd2States(events(spark, sfDir))),
    // session-scoped sequential patterns: ordered type-pair support
    // over the per-(session, type) min/max projection
    "events_seq_patterns" -> ((spark, sfDir) =>
      streaming.EventStreamOps.sessionPatterns(events(spark, sfDir))),
    // exact mutual-kNN graph over the embedding corpus (the semantic-
    // clustering substrate); LSH-bucketed candidates are the scale face
    "embed_knn_graph" -> ((spark, sfDir) =>
      operators.SimilarityOps.knnGraph(embs(spark, sfDir), k = 3)),
    // seedless contrastive negative sampling over the dense id space
    "embed_negative_samples" -> ((spark, sfDir) =>
      operators.SimilarityOps.negativeSamples(embs(spark, sfDir), k = 4)),
    // mutual-best-match bitext shape: even ids vs odd ids, exact face
    "embed_bitext_pairs" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      operators.SimilarityOps.mutualBestMatch(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1))
    }),
    // landmark Brandes betweenness: exact int64 sigma forward pass,
    // double delta accumulation (sigma ratios are rationals — float
    // by nature like pagerank, so rows-only; driver-replica spec)
    "graph_betweenness" -> ((spark, sfDir) =>
      operators.GraphAlgos.betweenness(
        sources.GraphStore.tpch(spark, sfDir), nLandmarks = 4,
        maxDepth = 3)),
    // deterministic DeepWalk-style walks: salted-md5 argmin neighbor
    // choice (partial-aggregable — no per-vertex rank window), walks
    // from every nation-1 customer, 4 undirected steps
    "graph_walks" -> ((spark, sfDir) => {
      val g = sources.GraphStore.tpch(spark, sfDir)
      val starts = g.vertices
        .filter(col("label") === "customer" && col("nationkey") === 1)
        .select(col("id"))
      operators.GraphAlgos.randomWalks(g, starts, length = 4)
    }),
    // bucketized interval join: events x synthesized daily promo
    // periods (every 3rd day) — equi-join on bucket, never a theta join
    "events_interval_join" -> ((spark, sfDir) => {
      val spark2 = spark
      import spark2.implicits._
      val periods = (0L until 10L).map(i =>
        (i, 1704067200L + i * 259200L, 1704067200L + i * 259200L + 86400L))
        .toDF("period_id", "s", "e")
        .select(col("period_id"),
          timestamp_seconds(col("s")).as("start_ts"),
          timestamp_seconds(col("e")).as("end_ts"))
      streaming.EventStreamOps.intervalJoin(events(spark, sfDir), periods)
        .groupBy(col("period_id"))
        .agg(count(lit(1)).as("events"),
          sum(floor(col("value") * 100).cast("long")).as("cents_sum"))
    }),
    // corpus snapshot diff: digest-only full-outer audit of two
    // deterministic corpus versions
    "curation_corpus_diff" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val before = d.filter(col("doc_id") % 7 =!= 0)
      val after = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      operators.CurationOps.corpusDiff(before, after)
    }),
    // top-20 session paths: gap sessions, BoundedMinIds path head
    // (first 5 types), TakeOrderedAndProject cut
    "events_session_paths" -> ((spark, sfDir) =>
      streaming.EventStreamOps.sessionPaths(events(spark, sfDir),
        gapSeconds = 1800, maxLen = 5, k = 20)),
    // prototype-distance outliers: integer-exact cos<τ test against
    // the floor-mean micro-unit centroid (DECIMAL38 == HUGEINT)
    "embed_prototype_outliers" -> ((spark, sfDir) =>
      operators.SimilarityOps.prototypeOutliers(embs(spark, sfDir),
        tauPm = 100)),
    // mutual-kNN-graph clustering: raw-cosine-filtered mutual edges
    // closed into components, min-id canonical per cluster
    "embed_knn_clusters" -> ((spark, sfDir) =>
      operators.SimilarityOps.knnClusters(embs(spark, sfDir),
        k = 3, tau = 0.35)),
    // bloom-prefiltered equi-join: the big side is cut by the small
    // side's key fingerprint BEFORE the shuffle; no false negatives,
    // so the result is row-identical to the plain join the oracle runs
    "join_bloom_prefilter" -> ((spark, sfDir) => {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val hi = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_totalprice") > 350000.0)
        .select(col("o_orderkey"))
      operators.JoinOps.bloomFilteredJoin(li, hi,
        "l_orderkey", "o_orderkey")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("items"),
          sum(col("l_quantity").cast("long")).as("qty"))
    }),
    // rolling 7-day distinct actives (WAU): dedup'd (user, day) pairs
    // fanned to their window-end days — shuffle bounded by 7x distinct
    // pairs, never raw events; no sliding window
    "events_active_users" -> ((spark, sfDir) =>
      streaming.EventStreamOps.activeUsers(events(spark, sfDir),
        windowDays = 7)),
    // per-user inter-arrival gap stats (bot signal): bucketed partials
    // + calendar-bounded boundary chain — never a user-history window;
    // all int64 micros, mean is one floor division
    "events_interarrival" -> ((spark, sfDir) =>
      streaming.EventStreamOps.interArrival(events(spark, sfDir))),
    // deterministic KMV bottom-k distinct sketch per source: the
    // engine-portable approx_count_distinct — md5 bottom-k hashes,
    // (k-1)*2^32 div h_k, the ESTIMATE itself oracle-exact
    "curation_kmv_distinct" -> ((spark, sfDir) =>
      operators.CurationOps.kmvDistinct(docs(spark, sfDir), k = 64,
        withExact = true)),
    // z-order clustered write + zone-map-pruned range scan: the rows
    // the pruned read returns must be EXACTLY the z-band a full scan
    // computes (zone maps are admissible) — the whole Morton chain is
    // int64 bit math the oracle mirrors; the spec pins that the scan
    // actually skipped files
    "source_zorder_prune" -> ((spark, sfDir) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_" +
        java.lang.Integer.toHexString(sfDir.hashCode)
      sources.Layout.zorderWrite(docs(spark, sfDir), dir,
        xCol = length(col("text")), yCol = col("doc_id") % 65536,
        nFiles = 8)
      val stats = sources.Layout.fileStats(spark, dir).localCheckpoint()
      val b = stats.agg(min(col("zmin")), max(col("zmax"))).collect().head
      val (zmin, zmax) = (b.getLong(0), b.getLong(1))
      // the first eighth of the z range — integer hi, oracle-mirrored
      sources.Layout.prunedRead(spark, dir, stats,
        zmin, zmin + (zmax - zmin) / 8)
        .select(col("doc_id"), col("zval"))
    }),
    // small-file compaction: 24 over-parallel parts bin-packed into
    // <=4 shards; the checksum aggregates must survive row-identically
    // (the source_orc oracle verbatim)
    "source_compact" -> ((spark, sfDir) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_" +
        java.lang.Integer.toHexString(sfDir.hashCode)
      docs(spark, sfDir).repartition(24)
        .write.mode("overwrite").parquet(s"$base/in")
      sources.Layout.compactShards(spark, s"$base/in", s"$base/out",
        targetBytes = 512L * 1024, maxBins = 4)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text"))).as("chars"),
          sum(col("doc_id")).as("id_sum"),
          sum(expr(
            "cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
            .as("text_h"))
    }),
    // hive-style daily partitions: a day-scoped read prunes at the
    // DIRECTORY level (PartitionFilters, plan-guarded) and must equal
    // the oracle's day filter over the raw table
    "source_date_partitioned" -> ((spark, sfDir) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_daypart_" +
        java.lang.Integer.toHexString(sfDir.hashCode)
      sources.Layout.datePartitionedWrite(events(spark, sfDir), dir)
      sources.Layout.readDay(spark, dir, "2024-01-02")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("events"),
          sum(floor(col("value") * 100).cast("long")).as("cents_sum"))
    }),
    // bucketed co-located join: shuffle paid once at write time, the
    // join itself plans with zero exchanges (plan-guarded)
    "source_bucketed_join" -> ((spark, sfDir) => {
      val ev = events(spark, sfDir).select(col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      val users = events(spark, sfDir).select(col("user_id")).distinct()
        .withColumn("tier", (col("user_id") % 5).cast("int"))
      sources.Layout.bucketedJoin(ev, users, "user_id", buckets = 16,
        prefix = s"gbk${ProcessHandle.current().pid()}")
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("events"), sum(col("cents")).as("cents_sum"))
    }),

    // ---- round-10 operators ----
    // strongly connected components over a planted directed graph:
    // successor rings (every 40th part's 4 earliest orders chained
    // into a cycle — each weak component is a union of vertex-sharing
    // cycles, hence strongly connected and WCC-oracle-checkable) plus
    // a literal 3-cycle chain X→Y→Z with DESCENDING max ids, which
    // forces exactly 3 peel passes (one color class per pass holds two
    // SCCs) — the multi-pass face a pure ring fixture never exercises.
    // maxFlood bounds the color/mark floods at the merged-ring
    // diameter with slack; requireConverged certifies-or-throws
    "graph_scc" -> ((spark, sfDir) => {
      val g0 = sources.GraphStore.tpch(spark, sfDir)
      val rings = operators.GraphAlgos.successorRings(
        sources.GraphStore(g0.vertices,
          g0.edges.filter(col("dst") % 40 === 0)),
        label = "contains", ringLen = 4)
      // seqThreshold=64: big enough to absorb the gadget remainder
      // after pass 1, small enough that the sf0.01 correctness sweep
      // exercises the DISTRIBUTED floods (the ring graph is ~200
      // vertices there — the default 256 would swallow it whole)
      operators.GraphAlgos.stronglyConnectedComponents(
        rings.union(sccGadget(spark)), maxOuter = 4, maxFlood = 128,
        seqThreshold = 64)
    }),
    // REAL incremental sequential patterns: bounded per-(user, open
    // session, type) min/max state over the time-ordered replay,
    // drained to completion — must equal the batch report verbatim
    // (shares the events_seq_patterns oracle)
    "events_stream_patterns" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedPatterns(spark,
        s"$sfDir/events.parquet",
        s"${System.getProperty("java.io.tmpdir")}/graft_evpat_" +
          java.lang.Integer.toHexString(sfDir.hashCode) +
          s"_p${ProcessHandle.current().pid()}")),
    // REAL incremental gap sessionization: three bounded scalars of
    // per-user state over the time-ordered replay; shares the
    // events_sessions oracle verbatim (r10 verdict #8 — the last
    // flagship batch report whose streaming twin used a different
    // definition)
    "events_stream_gap_sessions" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedGapSessions(spark,
        s"$sfDir/events.parquet",
        s"${System.getProperty("java.io.tmpdir")}/graft_evgap_" +
          java.lang.Integer.toHexString(sfDir.hashCode) +
          s"_p${ProcessHandle.current().pid()}",
        gapSeconds = 1800)),
    // retrieval eval harness: the bm25 run scored against
    // term-containment qrels — per-query hits / first rank / RR(ppm)
    // / recall(pm), all integer-exact
    "text_retrieval_metrics" -> ((spark, sfDir) => {
      import spark.implicits._
      val d = docs(spark, sfDir)
      val run = operators.TextOps.bm25TopK(d, Bm25Queries, k = 5)
      val terms = Bm25Queries.map { case (q, str) =>
        (q, str.trim.split("\\s+").head) }.toDF("query_id", "__term")
      val qrels = d.join(broadcast(terms),
        array_contains(split(trim(col("text")), " "), col("__term")))
        .select(col("query_id"), col("doc_id"))
      operators.TextOps.retrievalMetrics(run, qrels, k = 5)
    }),
    // temperature-scaled mixing (T=2) over a planted skewed source
    // split (bucket j holds ~(2j+1)% of docs): low-resource sources
    // replicate via epochs, high-resource ones downsample
    "curation_temperature_mix" -> ((spark, sfDir) =>
      operators.CurationOps.temperatureMix(
        docs(spark, sfDir).withColumn("source",
          concat(lit("s"), floor(sqrt(col("doc_id") % 100))
            .cast("long").cast("string"))),
        budget = 400)),
    // per-source preference pairs (chosen = longest doc, rejected =
    // shortest, id tiebreaks, margin >= 1)
    "curation_preference_pairs" -> ((spark, sfDir) =>
      operators.CurationOps.preferencePairs(docs(spark, sfDir),
        group = col("source"), quality = length(col("text")))),
    // cross-source contamination matrix over planted shared
    // boilerplate (every 10th doc becomes one of 5 templates)
    "curation_source_overlap" -> ((spark, sfDir) =>
      operators.CurationOps.sourceOverlap(
        docs(spark, sfDir).withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(lit("boilerplate notice number "),
              expr("(doc_id div 10) % 5").cast("string")))
            .otherwise(col("text"))))),
    // per-source bigram diversity (distinct ratio in exact per-mille)
    "text_ngram_diversity" -> ((spark, sfDir) =>
      operators.TextOps.ngramDiversity(docs(spark, sfDir))),
    // robust scaling: clip per-type values at the exact [1%, 99%]
    // type-1 quantiles, report clipped integer-cent moments
    "events_winsorize" -> ((spark, sfDir) =>
      streaming.EventStreamOps.winsorizedStats(events(spark, sfDir))),
    // double-sweep diameter lower bound: BFS from the min vertex, BFS
    // again from the farthest — maxHops matches the oracle's unroll
    // depth, certify-or-throw (the kCore contract)
    "graph_diameter" -> ((spark, sfDir) =>
      operators.GraphAlgos.doubleSweepDiameter(
        sources.GraphStore.tpch(spark, sfDir), maxHops = 12)),
    // Luby-on-the-line-graph maximal matching over the co-purchase
    // projection: strict deterministic edge priorities (md5 +
    // endpoint-sum tiebreak) make each round's local-minimum winners
    // — and the 8-round unrolled oracle — exact
    "graph_matching" -> ((spark, sfDir) =>
      operators.GraphAlgos.maximalMatching(
        operators.GraphAlgos.coOccurrencePairs(
          sources.GraphStore.tpch(spark, sfDir), label = "contains",
          minShared = 2), maxRounds = 8)),
    // ColBERT-style MaxSim late interaction: 4 token sub-vectors per
    // embedding, per-query-token max cosine against any doc token,
    // left-folded exact double sum — ranked on the raw score
    "embed_maxsim" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      operators.SimilarityOps.maxSimTopK(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),
    // contrastive hard-negative mining: per anchor, the top-5
    // most-similar vectors with a DIFFERENT label (exact face;
    // label-mismatch filter before the bounded cut)
    "embed_hard_negatives" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      operators.SimilarityOps.hardNegatives(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),
    // ROUGE-2 overlap eval between adjacent-doc pairs (candidate =
    // doc i, reference = doc i+1): clipped bigram overlap + exact
    // per-mille precision/recall/F1
    "text_rouge" -> ((spark, sfDir) => {
      val d = docs(spark, sfDir)
      val cand = d.select(col("doc_id"), col("text").as("__cand"))
      val ref = d.select((col("doc_id") - 1).as("doc_id"),
        col("text").as("__ref"))
      operators.TextOps.rougeN(cand.join(ref, "doc_id"),
        "__cand", "__ref", Seq("doc_id"), n = 2)
    }),
    // fixed-width value histogram per type ($5 bins on the integer
    // cents rendering) — the drift-monitoring report
    "events_value_histogram" -> ((spark, sfDir) =>
      streaming.EventStreamOps.valueHistogram(events(spark, sfDir),
        widthCents = 500)),
    // word-level vocabulary profile: tokens/types/hapax + exact
    // per-mille TTR and hapax ratios per source
    "text_vocab_profile" -> ((spark, sfDir) =>
      operators.TextOps.vocabularyProfile(docs(spark, sfDir))),
    // directed reciprocity of the successor-ring fixture (2-rings
    // contribute mutual pairs; longer rings do not)
    "graph_reciprocity" -> ((spark, sfDir) => {
      val g0 = sources.GraphStore.tpch(spark, sfDir)
      operators.GraphAlgos.reciprocity(
        operators.GraphAlgos.successorRings(
          sources.GraphStore(g0.vertices,
            g0.edges.filter(col("dst") % 40 === 0)),
          label = "contains", ringLen = 4))
    }),
    // INCREMENTAL connected components: two edge drops ingested
    // against a fresh state; each ingest contracts the previous
    // labels to star edges (label-sized, never the edge history) —
    // the union must equal the one-shot CC over all edges
    "graph_cc_incremental" -> ((spark, sfDir) => {
      val g0 = sources.GraphStore.tpch(spark, sfDir)
      // drops are DATA by the time an ingest sees them: materialize the
      // derived edge subset once (eager checkpoint; Sweep frees it) so
      // the gate times the ingests, not 2x the lineitem aggregation
      val sub = g0.edges
        .filter(col("label") === "placed" || col("quantity") >= 52.0)
        .select(col("src"), col("dst")).localCheckpoint()
      val state = freshStateDir("graft_ccstate")
      operators.GraphAlgos.ccIncremental(
        sub.filter(pmod(col("src") + col("dst"), lit(2)) === 0), state)
      operators.GraphAlgos.ccIncremental(
          sub.filter(pmod(col("src") + col("dst"), lit(2)) === 1), state)
        .groupBy(col("component").as("root"))
        .agg(count(lit(1)).as("size"))
    }),
    // cc state compaction mid-sequence: two ingested thirds fold into
    // one dir (ledger ids/idbloom union, labels LAST — the per-operator
    // reader contract), the third drop ingests against the compacted
    // state, and the final labeling must still equal the one-shot CC
    // — graph_cc_incremental's oracle verbatim
    "graph_cc_compacted" -> ((spark, sfDir) => {
      val g0 = sources.GraphStore.tpch(spark, sfDir)
      // see graph_cc_incremental: the drop source materializes once
      val sub = g0.edges
        .filter(col("label") === "placed" || col("quantity") >= 52.0)
        .select(col("src"), col("dst")).localCheckpoint()
      val state = freshStateDir("graft_cccstate")
      operators.GraphAlgos.ccIncremental(
        sub.filter(pmod(col("src") + col("dst"), lit(3)) === 0), state)
      operators.GraphAlgos.ccIncremental(
        sub.filter(pmod(col("src") + col("dst"), lit(3)) === 1), state)
      operators.GraphAlgos.ccCompact(spark, state)
      operators.GraphAlgos.ccIncremental(
          sub.filter(pmod(col("src") + col("dst"), lit(3)) === 2), state)
        .groupBy(col("component").as("root"))
        .agg(count(lit(1)).as("size"))
    }),
    // leakage-safe splits: hashed on the GROUP key so same-source
    // docs never straddle train/test
    "curation_group_splits" -> ((spark, sfDir) =>
      operators.CurationOps.groupSplits(docs(spark, sfDir))),
    // daily top-3 users by event count — bounded cut, never a
    // per-day window sort
    "events_daily_top_users" -> ((spark, sfDir) =>
      streaming.EventStreamOps.dailyTopUsers(events(spark, sfDir),
        k = 3)),
    // REAL incremental histogram: bounded (type, bin) streaming state,
    // drained == batch (shares the events_value_histogram oracle)
    "events_stream_value_histogram" -> ((spark, sfDir) =>
      streaming.EventStreamOps.streamedValueHistogram(spark,
        s"$sfDir/events.parquet", widthCents = 500)),
    // binary-quantized retrieval: 64 sign bits per vector, Hamming
    // top-k — integer-exact, so the approximate face itself is
    // hash-checked, not just a recall floor
    "embed_binary_hamming" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      operators.SimilarityOps.binaryHammingTopK(
        e.filter(col("vec_id") < 10), e, k = 5)
    }),
    // INCREMENTAL binary retrieval: two embedding drops ingested into
    // the persistent signature table; the post-ingest query must equal
    // the one-shot Hamming top-k over the union corpus —
    // embed_binary_hamming's oracle verbatim (integer-exact)
    "embed_binary_incremental" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      val state = freshStateDir("graft_bhstate")
      operators.SimilarityOps.binaryHammingIncremental(q,
        e.filter(col("vec_id") % 2 === 0), state, k = 5).count()
      operators.SimilarityOps.binaryHammingIncremental(q,
        e.filter(col("vec_id") % 2 === 1), state, k = 5)
    }),
    // signature-state compaction mid-sequence: two ingested halves
    // compact into one dir (plain union semantics) and the post-compact
    // query must still equal the one-shot — embed_binary_hamming's
    // oracle verbatim
    "embed_binary_compacted" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      val state = freshStateDir("graft_bhcstate")
      operators.SimilarityOps.binaryHammingIncremental(q,
        e.filter(col("vec_id") % 2 === 0), state, k = 5).count()
      operators.SimilarityOps.binaryHammingIncremental(q,
        e.filter(col("vec_id") % 2 === 1), state, k = 5).count()
      operators.StateStore.compact(spark, state)
      // a pure re-present after compaction: no new dir, same answer
      operators.SimilarityOps.binaryHammingIncremental(q,
        e.filter(col("vec_id") % 2 === 0), state, k = 5)
    }),
    // INCREMENTAL IVF (train-once/add-forever): first drop fits+freezes
    // the coarse quantizer, second appends cell-partitioned postings;
    // the cell-probed query over state meets the recall floor vs brute
    // force (the ann_recall_ivf pattern)
    "ann_recall_ivf_inc" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      val state = freshStateDir("graft_ivfstate")
      operators.SimilarityOps.ivfIncremental(
        e.filter(col("vec_id") % 2 === 0), state).count()
      operators.SimilarityOps.ivfIncremental(
        e.filter(col("vec_id") % 2 === 1), state).count()
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.ivfIncrementalTopK(q, state,
          nprobe = 8, k = 5),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 1)
    }),
    // IVF REFIT (FAISS retrain+re-add): model frozen on an
    // unrepresentative first drop, full corpus arrives, ivfRefit
    // retrains the quantizer on the committed union and reassigns
    // postings via the crash-safe compact swap; the post-refit
    // cell-probed query meets the recall floor vs brute force
    "ann_recall_ivf_refit" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      val state = freshStateDir("graft_ivfrefit")
      operators.SimilarityOps.ivfIncremental(
        e.filter(col("vec_id") < 300), state, kCells = 8).count()
      operators.SimilarityOps.ivfIncremental(
        e.filter(col("vec_id") >= 300), state).count()
      operators.SimilarityOps.ivfRefit(spark, state, kCells = 16)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.ivfIncrementalTopK(q, state,
          nprobe = 8, k = 5),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 1)
    }),
    // cross-encoder-style pairwise rerank: binary-Hamming shortlist ->
    // clipped-interaction integer pair scorer -> top-k; the whole
    // two-stage chain is int64-exact, so the gate hash-checks the
    // rerank itself (not just a recall floor)
    "embed_cross_rerank" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      operators.SimilarityOps.crossEncoderRerank(
        e.filter(col("vec_id") < 10), e, k = 5, shortlist = 50)
    }),
    // binary shortlist -> exact cosine rerank, recall floor vs brute
    // force (the pqRerank deployment shape at 32x compression)
    "ann_recall_binary" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.binaryRerank(q, e, k = 5,
          shortlist = 100),
        operators.SimilarityOps.bruteForceTopK(q, e, k = 5),
        k = 5, floor = 2)
    }),
    // the production late-interaction composition (r10 verdict #5):
    // pooled-vector LSH shortlist → MaxSim rerank of candidates only,
    // recall-floor hash-checked against the exact MaxSim face (the
    // ann_recall_* pattern — floor sits below the measured per-query
    // minimum at sf0.01, re-printable via RecallProbe)
    "embed_maxsim_rerank" -> ((spark, sfDir) => {
      val e = embs(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      operators.SimilarityOps.recallAtK(
        operators.SimilarityOps.maxSimRerank(q, e, k = 5),
        operators.SimilarityOps.maxSimTopK(q, e, k = 5),
        k = 5, floor = 2)
    }),
  )

  /** The planted multi-pass SCC gadget: three 3-cycles X > Y > Z (by
    * max id) chained by DAG edges X→Y→Z. Forward coloring paints all
    * nine vertices with X's max, so pass 1 can only mark X (nothing
    * downstream reaches the root), pass 2 only Y, pass 3 Z — pinning
    * the peel loop's multi-pass behavior deterministically. Ids sit at
    * 3·10⁹+, disjoint from every TPC-H vertex id (< 2.1·10⁹). */
  private def sccGadget(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (3000000031L, 3000000032L), (3000000032L, 3000000033L),
      (3000000033L, 3000000031L),
      (3000000021L, 3000000022L), (3000000022L, 3000000023L),
      (3000000023L, 3000000021L),
      (3000000011L, 3000000012L), (3000000012L, 3000000013L),
      (3000000013L, 3000000011L),
      (3000000033L, 3000000021L), (3000000023L, 3000000011L))
      .toDF("src", "dst")
  }

  /** Count-min heavy-hitter oracle, shared by the batch gate
    * (`curation_countmin`) and the REAL incremental run
    * (`curation_countmin_stream`) — counter addition is associative,
    * so the drained sketch must equal the batch build exactly. */
  private val CountMinOracleSql: String =
  """WITH toks AS (SELECT unnest(string_split(trim(text), ' '))
        |  AS term FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |cells AS (SELECT j, term, cnt,
        |  CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term),
        |    1, 8) AS BIGINT) % 1024 AS cell
        |  FROM c CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
        |sk AS (SELECT j, cell, CAST(sum(cnt) AS BIGINT) AS scnt
        |  FROM cells GROUP BY 1, 2),
        |top AS (SELECT term, cnt FROM c
        |  ORDER BY cnt DESC, term LIMIT 20)
        |SELECT t.term, CAST(max(t.cnt) AS BIGINT) AS exact_cnt,
        |  CAST(min(sk.scnt) AS BIGINT) AS est_cnt
        |FROM top t JOIN cells ce ON ce.term = t.term
        |JOIN sk ON sk.j = ce.j AND sk.cell = ce.cell
        |GROUP BY t.term""".stripMargin

  /** Greedy earliest-first funnel oracle, shared verbatim by the
    * batch gate (`events_funnel`) and the REAL incremental run
    * (`events_stream_funnel`) — the stream must reproduce the batch
    * table exactly. */
  /** The funnel oracle's WITH chain (ends at CTE s3) — shared with
    * the conversion-time oracle. */
  private val FunnelOracleBody: String =
    """WITH s1 AS (SELECT user_id, us AS s1_us, ord AS s1_ord FROM (
      |  SELECT user_id, epoch_us(ts) AS us, event_id AS ord,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE event_type = 'view') WHERE rn = 1),
      |s2 AS (SELECT user_id, us AS s2_us, ord AS s2_ord FROM (
      |  SELECT e.user_id, epoch_us(e.ts) AS us, e.event_id AS ord,
      |    row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND (epoch_us(e.ts) > s1.s1_us OR
      |    (epoch_us(e.ts) = s1.s1_us AND e.event_id > s1.s1_ord))) WHERE rn = 1),
      |s3 AS (SELECT user_id, us AS s3_us, ord AS s3_ord FROM (
      |  SELECT e.user_id, epoch_us(e.ts) AS us, e.event_id AS ord,
      |    row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND (epoch_us(e.ts) > s2.s2_us OR
      |    (epoch_us(e.ts) = s2.s2_us AND e.event_id > s2.s2_ord))) WHERE rn = 1)"""
      .stripMargin

  /** Integer-exact BM25 chain through CTE `r` (per-query ranked
    * scores) — shared by the `text_bm25` gate and the
    * `text_retrieval_metrics` eval harness built on the same run.
    * Query terms mirror [[Bm25Queries]], pre-deduplicated. */
  private val Bm25CtePrefix: String =
    """WITH q(query_id, term) AS (VALUES
      |  (1, 'spark'), (1, 'join'),
      |  (2, 'hash'), (2, 'table'), (2, 'scan'),
      |  (3, 'customer'), (3, 'query'),
      |  (4, 'slow'), (4, 'batch'), (4, 'window')),
      |t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |  FROM documents),
      |e AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM t),
      |c AS (SELECT doc_id, dl, term, count(*) AS tf FROM e
      |  GROUP BY 1, 2, 3),
      |d AS (SELECT term, count(*) AS df FROM c GROUP BY term),
      |s AS (SELECT count(*) AS n,
      |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
      |    // count(*) AS a FROM documents),
      |sc AS (SELECT q.query_id, c.doc_id, CAST(sum(
      |    (1000 * (s.n - d.df + 1) // (d.df + 1)) * (44 * s.a * c.tf)
      |      // (20 * s.a * c.tf + 6 * s.a + 18 * c.dl)
      |  ) AS BIGINT) AS score
      |  FROM c JOIN q USING (term) JOIN d USING (term) CROSS JOIN s
      |  GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score, row_number() OVER
      |  (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
      |  FROM sc)""".stripMargin

  /** Gap-session pair-support report — shared verbatim by the
    * batch gate (`events_seq_patterns`) and the REAL incremental
    * run (`events_stream_patterns`). */
  private val SeqPatternsOracleSql: String =
    """WITH g AS (SELECT user_id, event_id, event_type, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_ts FROM events),
        |s AS (SELECT user_id, event_type, ts,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR
        |    CAST(floor(epoch(ts)) AS BIGINT) -
        |    CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS BIGINT) AS sess FROM g),
        |t AS (SELECT user_id, sess, event_type AS ty,
        |  min(ts) AS t0, max(ts) AS t1
        |  FROM s GROUP BY 1, 2, 3)
        |SELECT a.ty AS from_type, b.ty AS to_type,
        |  count(*) AS support
        |FROM t a JOIN t b ON a.user_id = b.user_id AND a.sess = b.sess
        |WHERE a.ty <> b.ty AND a.t0 < b.t1
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY support DESC, from_type, to_type LIMIT 20""".stripMargin

  private val FunnelOracleSql: String =
    s"""$FunnelOracleBody
      |SELECT s1.user_id, s1_us, s2_us, s3_us,
      |  CAST(1 + CASE WHEN s2_us IS NULL THEN 0 ELSE 1 END
      |         + CASE WHEN s3_us IS NULL THEN 0 ELSE 1 END AS BIGINT)
      |    AS stages_completed
      |FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
      |LEFT JOIN s3 ON s3.user_id = s1.user_id""".stripMargin

  /** Conversion delays off the funnel CTEs: type-1 median via the
    * distinct-value cumulative trick, everything int64. */
  private val FunnelConversionOracleSql: String =
    s"""$FunnelOracleBody,
      |diffs AS (SELECT 1 AS stage, s2_us - s1_us AS d
      |    FROM s1 JOIN s2 USING (user_id)
      |  UNION ALL SELECT 2, s3_us - s2_us
      |    FROM s2 JOIN s3 USING (user_id)),
      |c AS (SELECT stage, d, count(*) AS c FROM diffs GROUP BY 1, 2),
      |t AS (SELECT stage, d,
      |  sum(c) OVER (PARTITION BY stage ORDER BY d
      |    ROWS UNBOUNDED PRECEDING) AS cum,
      |  sum(c) OVER (PARTITION BY stage) AS n FROM c),
      |m AS (SELECT stage, min(d) AS median_us FROM t
      |  WHERE cum * 2 >= n GROUP BY 1)
      |SELECT diffs.stage, count(*) AS converted,
      |  CAST(min(d) AS BIGINT) AS min_us,
      |  CAST(max(d) AS BIGINT) AS max_us,
      |  CAST(sum(d) AS BIGINT) AS sum_us,
      |  CAST(m.median_us AS BIGINT) AS median_us
      |FROM diffs JOIN m USING (stage)
      |GROUP BY diffs.stage, m.median_us""".stripMargin

  /** Fixed retrieval queries for the BM25 gate — drawn from the
    * synthetic documents vocabulary; mirrored as a VALUES list in the
    * oracle. */
  private val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark join",
    2 -> "hash table scan",
    3 -> "customer query",
    4 -> "slow batch window")

  private def events(spark: SparkSession, sfDir: String): DataFrame =
    streaming.EventStreamOps.readEvents(spark, s"$sfDir/events.parquet")

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
  private def embs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  // Fresh per-invocation local state root for the incremental
  // (cross-snapshot) gates. The returned dir must outlive the gate
  // lambda (the result DataFrame reads the state parquet lazily), so
  // cleanup is deferred: dirs are pid-keyed, earlier dirs of THIS pid
  // (materialized by prior sequential passes) and any DEAD pid's
  // leftovers are GC'd on the next call — the streamedToParquet sink
  // pattern. A live foreign pid's dirs are never touched.
  private val stateCounter = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def freshStateDir(tag: String): String = {
    val base = java.nio.file.Paths
      .get(System.getProperty("java.io.tmpdir"), tag).toString
    val pidPrefix = s"${base}_p${ProcessHandle.current().pid()}_"
    val dir = s"$pidPrefix${stateCounter.incrementAndGet()}"
    val deadPid = s"^${java.util.regex.Pattern.quote(base)}_p(\\d+)_".r
    val parent = java.nio.file.Paths.get(dir).getParent
    if (parent != null && java.nio.file.Files.isDirectory(parent)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(parent)) { s =>
        s.iterator().asScala.toList.filter { p =>
          val str = p.toString
          str != dir && (str.startsWith(pidPrefix) ||
            deadPid.findPrefixMatchOf(str).exists { m =>
              ProcessHandle.of(m.group(1).toLong)
                .map[Boolean](h => !h.isAlive).orElse(true)
            })
        }.foreach(p => operators.StateStore.delete(p.toString))
      }
    }
    dir
  }

  // IVF model fitted once per (session, dataset) — the serving pattern,
  // same as the pre-built gremlin indexes: a production deployment fits
  // its coarse quantizer at index-build time, not per query. The fit is
  // deterministic (seedless md5-ordered init), so caching does not
  // change any result.
  private val ivfCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Array[Double]]]
  private def ivfModel(spark: SparkSession,
                       sfDir: String): Array[Array[Double]] =
    ivfCache.getOrElseUpdate((spark, sfDir),
      operators.SimilarityOps.fitIvfCentroids(
        embs(spark, sfDir), k = 16, iters = 3))

  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Array[Array[Double]]]]
  private def pqModel(spark: SparkSession,
                      sfDir: String): Array[Array[Array[Double]]] =
    pqCache.getOrElseUpdate((spark, sfDir),
      operators.SimilarityOps.fitPq(
        embs(spark, sfDir), m = 8, k = 16, iters = 3))

  // IVF-PQ books = PQ fitted on coarse-quantizer residuals (IVFADC);
  // deterministic given the deterministic ivfModel
  private val ivfPqCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Array[Array[Double]]]]
  private def ivfPqBooks(spark: SparkSession,
                         sfDir: String): Array[Array[Array[Double]]] =
    ivfPqCache.getOrElseUpdate((spark, sfDir),
      operators.SimilarityOps.fitIvfPq(
        embs(spark, sfDir), ivfModel(spark, sfDir), m = 8, k = 16,
        iters = 3))

  // plain PCA rotation (descending-variance axes) for the truncation
  // retrieval face; deterministic like the other fitted models
  private val pcaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Array[Double]]]
  private def pcaModel(spark: SparkSession,
                       sfDir: String): Array[Array[Double]] =
    pcaCache.getOrElseUpdate((spark, sfDir),
      operators.SimilarityOps.fitPcaRotation(embs(spark, sfDir)))

  // OPQ model = (rotation, codebooks fitted in the rotated space);
  // both deterministic, cached like the other index-build-time models
  private val opqCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
      (Array[Array[Double]], Array[Array[Array[Double]]])]
  private def opqModel(spark: SparkSession, sfDir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    opqCache.getOrElseUpdate((spark, sfDir), {
      val rot = operators.SimilarityOps.fitOpqRotation(
        embs(spark, sfDir), dim = 64, m = 8)
      val books = operators.SimilarityOps.fitPq(
        operators.SimilarityOps.applyOpqRotation(embs(spark, sfDir), rot),
        m = 8, k = 16, iters = 3)
      (rot, books)
    })

  // Shared SQL fragments: the derived graph in relational form.
  private val EdgesContains =
    "(SELECT l_orderkey, l_partkey, sum(l_quantity) AS quantity, sum(l_extendedprice) AS extendedprice FROM lineitem GROUP BY l_orderkey, l_partkey)"

  // DuckDB mirrors of the TextOps/SimilarityOps formulas. Operation
  // order matters: it is kept identical to the Column expressions so
  // double arithmetic agrees bit-for-bit.
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")
  private def sqlHits(ws: Seq[String]): String =
    s"len(list_filter(string_split(trim(text), ' '), x -> list_contains(${sqlList(ws)}, x)))"
  /** Unrolled 3-hop multi-source BFS over the TPC-H graph from
    * landmarks (1,5,9,13) — ends at CTE `v3` = (lm, id, d). Shared by
    * the closeness and harmonic oracles. */
  private val SqlLandmarkBfs3 =
    """WITH e0 AS MATERIALIZED (
      |  SELECT CAST(o_custkey AS BIGINT) AS src,
      |    o_orderkey + 1000000000 AS dst FROM orders
      |  UNION ALL
      |  SELECT DISTINCT l_orderkey + 1000000000,
      |    l_partkey + 2000000000 FROM lineitem),
      |e AS MATERIALIZED (SELECT src, dst FROM e0
      |  UNION ALL SELECT dst, src FROM e0),
      |lm(lm) AS (VALUES (1::BIGINT), (5), (9), (13)),
      |v0 AS MATERIALIZED (SELECT lm, lm AS id, 0 AS d FROM lm),
      |f1 AS MATERIALIZED (SELECT DISTINCT f.lm, e.dst AS id
      |  FROM v0 f JOIN e ON e.src = f.id
      |  WHERE NOT EXISTS (SELECT 1 FROM v0 v
      |    WHERE v.lm = f.lm AND v.id = e.dst)),
      |v1 AS MATERIALIZED (SELECT * FROM v0
      |  UNION ALL SELECT lm, id, 1 FROM f1),
      |f2 AS MATERIALIZED (SELECT DISTINCT f.lm, e.dst AS id
      |  FROM f1 f JOIN e ON e.src = f.id
      |  WHERE NOT EXISTS (SELECT 1 FROM v1 v
      |    WHERE v.lm = f.lm AND v.id = e.dst)),
      |v2 AS MATERIALIZED (SELECT * FROM v1
      |  UNION ALL SELECT lm, id, 2 FROM f2),
      |f3 AS MATERIALIZED (SELECT DISTINCT f.lm, e.dst AS id
      |  FROM f2 f JOIN e ON e.src = f.id
      |  WHERE NOT EXISTS (SELECT 1 FROM v2 v
      |    WHERE v.lm = f.lm AND v.id = e.dst)),
      |v3 AS MATERIALIZED (SELECT * FROM v2
      |  UNION ALL SELECT lm, id, 3 FROM f3)""".stripMargin

  /** Double-accumulated dot product of two 64-dim float lists. */
  private def sqlDot(a: String, b: String): String =
    s"list_sum([CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) for i in range(1, 65)])"
  private val SqlCosPairs =
    s"""(SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${sqlDot("a", "a")} AS aa, ${sqlDot("b", "b")} AS bb,
       |  ${sqlDot("a", "b")} AS ab
       | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)""".stripMargin
  private val SqlTrigramSets =
    """(SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-2, 1)+1)]) AS sh
      | FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "init_v_count" ->
      "SELECT (SELECT count(*) FROM customer) + (SELECT count(*) FROM orders) + (SELECT count(*) FROM part) AS value",
    "init_e_count" ->
      s"SELECT (SELECT count(*) FROM orders) + (SELECT count(*) FROM $EdgesContains) AS value",

    "has_pred_sum" ->
      "SELECT round(sum(p_retailprice), 2) AS value FROM part WHERE p_size > 25",
    "has_between" ->
      "SELECT count(*) AS value FROM orders WHERE o_totalprice BETWEEN 100000.0 AND 200000.0",
    "has_inside" ->
      "SELECT count(*) AS value FROM part WHERE p_size > 10 AND p_size < 20",
    "has_within" ->
      "SELECT count(*) AS value FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')",
    "hasnot_key" ->
      "SELECT (SELECT count(*) FROM orders) + (SELECT count(*) FROM part) AS value",
    "haskey_all" ->
      "SELECT count(*) AS value FROM customer",
    "hasvalue_any" ->
      "SELECT count(*) AS value FROM customer WHERE c_name = 'BUILDING' OR c_mktsegment = 'BUILDING'",
    "hasvalue_num" ->
      "SELECT (SELECT count(*) FROM customer WHERE c_nationkey = 15 OR c_acctbal = 15.0) + (SELECT count(*) FROM orders WHERE o_totalprice = 15.0) + (SELECT count(*) FROM part WHERE p_size = 15 OR p_retailprice = 15.0) AS value",
    "hasvalue_coerce" ->
      "SELECT (SELECT count(*) FROM customer WHERE c_nationkey = 15 OR c_acctbal = 15.0) + (SELECT count(*) FROM orders WHERE o_totalprice = 15.0) + (SELECT count(*) FROM part WHERE p_size = 15 OR p_retailprice = 15.0) AS value",
    "haslabel_multi" ->
      "SELECT (SELECT count(*) FROM customer) + (SELECT count(*) FROM part) AS value",
    "is_scalar" ->
      "SELECT count(*) AS value FROM orders WHERE o_totalprice > 100000.0",

    "traverse_out" ->
      "SELECT count(*) AS value FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = 'BUILDING'",
    "traverse_in" ->
      s"SELECT count(*) AS value FROM $EdgesContains e JOIN part p ON p.p_partkey = e.l_partkey WHERE p.p_brand = 'Brand#13'",
    "traverse_both" ->
      s"SELECT (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) + (SELECT count(*) FROM $EdgesContains) AS value",
    "traverse_2hop" ->
      "SELECT count(DISTINCT l.l_partkey) AS value FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey",
    "traverse_oute_inv" ->
      "SELECT max(o.o_totalprice) AS value FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey",
    "edge_has_count" ->
      s"SELECT count(*) AS value FROM $EdgesContains WHERE quantity > 40.0",
    "edge_outv_dedup" ->
      "SELECT count(DISTINCT o_custkey) AS value FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey",

    "values_mean" ->
      "SELECT round(avg(c_acctbal), 2) AS value FROM customer",
    "properties_kv" ->
      "SELECT value FROM (SELECT 'mktsegment:' || c_mktsegment AS value FROM customer WHERE c_name = 'Customer#000000001' UNION ALL SELECT 'nationkey:' || c_nationkey FROM customer WHERE c_name = 'Customer#000000001') ORDER BY value",
    "label_groupcount" ->
      "SELECT * FROM (SELECT 'customer' AS key, count(*) AS count FROM customer UNION ALL SELECT 'order', count(*) FROM orders UNION ALL SELECT 'part', count(*) FROM part)",
    "select_history" ->
      "SELECT count(DISTINCT c.c_custkey) AS value FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 5",

    "math_min" ->
      s"SELECT min(extendedprice) AS value FROM $EdgesContains",
    "dedup_history" ->
      "SELECT count(DISTINCT c.c_custkey) AS value FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey",
    "group_count_key" ->
      "SELECT c_mktsegment AS key, count(*) AS count FROM customer GROUP BY c_mktsegment",
    "group_collect" ->
      "SELECT c_nationkey AS key, array_to_string(list_sort(list(c_name)), ',') AS \"values\" FROM customer WHERE c_nationkey < 3 GROUP BY c_nationkey",
    "aggregate_cap" ->
      "SELECT o_orderkey + 1000000000 AS id FROM orders WHERE o_totalprice > 300000.0",

    "order_limit" ->
      "SELECT p_name AS value FROM part ORDER BY p_retailprice DESC, CAST(p_partkey + 2000000000 AS VARCHAR) ASC LIMIT 5",
    "range_slice" ->
      "SELECT o_totalprice AS value FROM orders ORDER BY o_totalprice LIMIT 10 OFFSET 10",

    "union_branches" ->
      s"SELECT (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 1) + (SELECT count(*) FROM $EdgesContains e JOIN orders o ON e.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 1) AS value",
    "union_order_limit" ->
      """SELECT value FROM (SELECT o_totalprice AS value FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 1 ORDER BY o_totalprice DESC, CAST(o.o_orderkey + 1000000000 AS VARCHAR) LIMIT 3)
        |UNION ALL
        |SELECT value FROM (SELECT o_totalprice AS value FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 1 ORDER BY o_totalprice ASC, CAST(o.o_orderkey + 1000000000 AS VARCHAR) LIMIT 2)""".stripMargin,
    "branch_top1_filter" ->
      "SELECT count(*) AS value FROM (SELECT o_custkey FROM orders GROUP BY o_custkey HAVING max(o_totalprice) < 200000.0)",
    "and_filter" ->
      "SELECT count(*) AS value FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000.0) AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 50000.0)",
    "or_filter" ->
      "SELECT count(*) AS value FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000.0) OR EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice < 20000.0)",
    "not_filter" ->
      "SELECT count(*) AS value FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "where_store_q8" ->
      """WITH small AS (SELECT DISTINCT o_custkey AS ck FROM orders WHERE o_totalprice < 20000.0),
        | sp AS (SELECT DISTINCT l.l_partkey AS pk FROM small s JOIN orders o ON o.o_custkey = s.ck JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        | c2 AS (SELECT DISTINCT o2.o_custkey AS ck FROM sp JOIN lineitem l2 ON l2.l_partkey = sp.pk JOIN orders o2 ON o2.o_orderkey = l2.l_orderkey)
        |SELECT count(*) AS value FROM c2 WHERE ck NOT IN (SELECT ck FROM small)""".stripMargin,
    "paper_q2" ->
      "SELECT p_partkey + 2000000000 AS id FROM part WHERE p_name IS NOT NULL AND p_size > 40",
    // each contains edge has exactly one outV (its order), so
    // not(outV().has(status='F')) is simply status <> 'F'; quantity is a
    // sum of small-integer-valued doubles — exact in both engines
    "paper_q5" ->
      s"SELECT e.quantity AS key, count(*) AS count FROM $EdgesContains e JOIN orders o ON o.o_orderkey = e.l_orderkey WHERE e.quantity > 30.0 AND o.o_orderstatus <> 'F' GROUP BY e.quantity",
    "paper_q6" ->
      """SELECT c.c_name AS value FROM customer c
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND (SELECT min(o.o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) < 50000.0
        |  AND (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) > 3""".stripMargin,
    // bag semantics: the union's orders branch has no in('contains')
    // edges and drops out; the parts branch fans back to every order
    // containing the part — DISTINCT (orderkey, partkey) pairs mirror
    // the collapsed contains-edge identity. neq('a') compares order ids
    // against a customer id and is vacuously true (id offsets).
    "paper_q7" ->
      """SELECT id FROM (
        |  SELECT o2.o_orderkey + 1000000000 AS id
        |  FROM customer c
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l1 ON l1.l_orderkey = o.o_orderkey
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l2 ON l2.l_partkey = l1.l_partkey
        |  JOIN orders o2 ON o2.o_orderkey = l2.l_orderkey
        |  WHERE c.c_nationkey = 2 AND o2.o_totalprice > 100000.0
        |  ORDER BY o2.o_totalprice DESC, CAST(o2.o_orderkey + 1000000000 AS VARCHAR) ASC
        |  LIMIT 10)""".stripMargin,
    "ic5_group_2hop" ->
      """SELECT p.p_name AS key, count(*) AS count
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l ON l.l_orderkey = o.o_orderkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE c.c_nationkey IN (1, 2, 3)
        |GROUP BY p.p_name""".stripMargin,
    "ic1_3hop" ->
      """SELECT id FROM (
        |  SELECT DISTINCT o2.o_orderkey + 1000000000 AS id, o2.o_totalprice AS tp
        |  FROM customer c
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l1 ON l1.l_orderkey = o.o_orderkey
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l2 ON l2.l_partkey = l1.l_partkey
        |  JOIN orders o2 ON o2.o_orderkey = l2.l_orderkey
        |  WHERE c.c_mktsegment = 'AUTOMOBILE' AND o2.o_orderpriority = '1-URGENT'
        |  ORDER BY tp DESC, CAST(o2.o_orderkey + 1000000000 AS VARCHAR) ASC
        |  LIMIT 20)""".stripMargin,
    "repeat_hop" ->
      "SELECT count(*) AS value FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 7",
    // until exits on parts: one path per (nation-1 customer's order,
    // distinct contained part)
    "repeat_until" ->
      s"SELECT count(*) AS value FROM $EdgesContains l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 1",
    // emit at both depths: orders + their distinct contained parts
    "repeat_emit" ->
      s"""SELECT (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 2)
        | + (SELECT count(*) FROM $EdgesContains l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 2)
        | AS value""".stripMargin,
    // while-do: depth-0 part matches exit unprocessed + the customers'
    // (order, part) arrival paths
    "repeat_until_pre" ->
      s"""SELECT (SELECT count(*) FROM part WHERE p_size < 10)
        | + (SELECT count(*) FROM $EdgesContains l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 1)
        | AS value""".stripMargin,
    // emit-pre: depth 0 (customers) + depth 1 (orders) + depth 2 paths
    "repeat_emit_pre" ->
      s"""SELECT (SELECT count(*) FROM customer WHERE c_nationkey = 2)
        | + (SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 2)
        | + (SELECT count(*) FROM $EdgesContains l JOIN orders o ON l.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 2)
        | AS value""".stripMargin,
    // path strings sort lexicographically in both engines (ASCII ids)
    "path_labeled" ->
      s"""SELECT concat('[', c.c_custkey, ', ', o.o_orderkey + 1000000000,
        | ', ', l.l_partkey + 2000000000, ']') AS value
        |FROM $EdgesContains l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_nationkey = 4 ORDER BY value LIMIT 50""".stripMargin,
    "where_history_neq" ->
      s"SELECT count(*) AS value FROM $EdgesContains e1 JOIN $EdgesContains e2 ON e1.l_orderkey = e2.l_orderkey WHERE e2.l_partkey != e1.l_partkey",
    "range_skip" ->
      "SELECT count(*) AS value FROM (SELECT o_totalprice FROM orders ORDER BY o_totalprice OFFSET 5)",
    "traverse_ine" ->
      "SELECT count(DISTINCT o_custkey) AS value FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey",
    "edge_bothv" ->
      s"SELECT (SELECT count(DISTINCT l_orderkey) FROM $EdgesContains) + (SELECT count(DISTINCT l_partkey) FROM $EdgesContains) AS value",
    "key_proj" ->
      "SELECT unnest(['acctbal', 'mktsegment', 'name', 'nationkey']) AS value FROM customer WHERE c_name = 'Customer#000000001'",
    "select_multi" ->
      "SELECT '[c:' || CAST(c.c_custkey AS VARCHAR) || ', o:' || CAST(o.o_orderkey + 1000000000 AS VARCHAR) || ']' AS value FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 3 AND o.o_totalprice > 200000.0 ORDER BY value",

    // ---- LLM-data-pipeline operators ----
    "text_stats" ->
      ("SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS token_count, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpeish_count FROM documents"),
    "text_lang_id" ->
      s"""WITH s AS (SELECT doc_id,
         |  ${sqlHits(operators.TextOps.StopEn)} AS en,
         |  ${sqlHits(operators.TextOps.StopDe)} AS de,
         |  ${sqlHits(operators.TextOps.StopFr)} AS fr,
         |  ${sqlHits(operators.TextOps.StopEs)} AS es,
         |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh
         | FROM documents)
         |SELECT doc_id, CASE WHEN zh > 0 THEN 'zh'
         |  WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'unknown'
         |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |  WHEN de >= fr AND de >= es THEN 'de'
         |  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred FROM s""".stripMargin,
    "text_quality" ->
      s"""WITH s AS (SELECT doc_id,
         |  CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS n,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) AS cns,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS pn,
         |  CAST(length(text) AS DOUBLE) AS ln,
         |  CAST(${sqlHits(operators.TextOps.StopEn)} AS DOUBLE) AS st
         | FROM documents)
         |SELECT doc_id, (least(n, 100.0)*40.0 + least(floor(250.0*cns/greatest(n, 1.0)), 2000.0) + (2000.0 - floor(2000.0*pn/greatest(ln, 1.0))) + least(floor(10000.0*st/greatest(n, 1.0)), 2000.0)) / 10000.0 AS quality FROM s""".stripMargin,
    "text_fingerprint" ->
      ("SELECT doc_id, md5(text) AS fingerprint, " +
        "list_min([md5(text[i:i+7]) for i in range(1, greatest(length(text)-7, 1)+1)]) AS winnow_fp FROM documents"),
    // FIM cuts from the md5-uint32 recipe; DuckDB list slices are
    // 1-based inclusive like Spark's slice(start, len) window
    "text_fim" ->
      """WITH x AS (SELECT doc_id, t, len(t) AS n,
        |  CAST('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR)
        |    || ':1'), 1, 8) AS BIGINT) AS h1,
        |  CAST('0x' || substr(md5('fim:' || CAST(doc_id AS VARCHAR)
        |    || ':2'), 1, 8) AS BIGINT) AS h2
        | FROM (SELECT doc_id, string_split(trim(text), ' ') AS t
        |   FROM documents)),
        |s AS (SELECT doc_id, t, n, 1 + (h1 % (n - 1)) AS c1, h2
        |  FROM x WHERE n >= 3),
        |s2 AS (SELECT doc_id, t, n, c1,
        |  c1 + 1 + (h2 % (n - c1)) AS c2 FROM s),
        |rows_split AS (
        | SELECT doc_id, n, array_to_string(t[1:c1], ' ') AS prefix,
        |  array_to_string(t[c1+1:c2], ' ') AS middle,
        |  -- array_to_string of an EMPTY slice is NULL in DuckDB
        |  coalesce(array_to_string(t[c2+1:n], ' '), '') AS suffix
        | FROM s2
        | UNION ALL
        | SELECT doc_id, n, array_to_string(t, ' '), '', ''
        |  FROM x WHERE n < 3)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_tokens, prefix, middle,
        |  suffix, '<PRE>' || prefix || '<SUF>' || suffix || '<MID>'
        |    || middle AS psm
        |FROM rows_split""".stripMargin,
    "dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, text, count(*) AS dup_count FROM documents GROUP BY text",
    // merged per-increment partials == one full groupBy (min/sum are
    // associative): identical oracle to dedup_exact
    "dedup_exact_incremental" ->
      "SELECT min(doc_id) AS doc_id, text, count(*) AS dup_count FROM documents GROUP BY text",
    "dedup_minhash" ->
      s"""WITH p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter, len(a.sh) AS la, len(b.sh) AS lb
         | FROM $SqlTrigramSets a JOIN $SqlTrigramSets b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(inter/(la + lb - inter), 4) AS jaccard FROM p WHERE inter/(la + lb - inter) >= 0.8""".stripMargin,
    // increment-mode == full-recompute: the union of the two
    // incremental runs' pairs must equal the one-shot answer, so the
    // oracle is IDENTICAL to dedup_minhash's exact all-pairs Jaccard
    "dedup_minhash_incremental" ->
      s"""WITH p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter, len(a.sh) AS la, len(b.sh) AS lb
         | FROM $SqlTrigramSets a JOIN $SqlTrigramSets b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(inter/(la + lb - inter), 4) AS jaccard FROM p WHERE inter/(la + lb - inter) >= 0.8""".stripMargin,
    "curation_bloom_incremental" ->
      """SELECT CAST(count(*) AS BIGINT) AS docs_compared,
        |  CAST(0 AS BIGINT) AS mismatches
        |FROM documents WHERE doc_id % 10 <> 0""".stripMargin,
    // compaction is read-equivalent, so the three-run union still
    // equals the one-shot recompute — dedup_minhash's oracle again
    "dedup_minhash_compacted" ->
      s"""WITH p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter, len(a.sh) AS la, len(b.sh) AS lb
         | FROM $SqlTrigramSets a JOIN $SqlTrigramSets b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(inter/(la + lb - inter), 4) AS jaccard FROM p WHERE inter/(la + lb - inter) >= 0.8""".stripMargin,
    "dedup_token_jaccard" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS sh FROM documents),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter, len(a.sh) AS la, len(b.sh) AS lb
        | FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(inter/(la + lb - inter), 4) AS jaccard FROM p WHERE inter/(la + lb - inter) >= 0.95""".stripMargin,
    // brute-force trigram-shingle containment: o*1000 >= 900*|A| on
    // integers both engines; ordered pairs (a contained in b)
    "dedup_containment" ->
      s"""WITH p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.sh, b.sh)) AS o, len(a.sh) AS la
         |  FROM $SqlTrigramSets a JOIN $SqlTrigramSets b
         |    ON a.doc_id != b.doc_id)
         |SELECT id_a, id_b,
         |  round(CAST(o AS DOUBLE) / la, 4) AS containment
         |FROM p WHERE o * 1000 >= 900 * la""".stripMargin,
    "dedup_exact_vectors" ->
      "SELECT min(vec_id) AS vec_id, count(*) AS dup_count FROM embeddings GROUP BY embedding",
    "dedup_cluster" ->
      s"""WITH RECURSIVE
         |pr AS (SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         |    len(a.sh) AS la, len(b.sh) AS lb
         |  FROM $SqlTrigramSets a JOIN $SqlTrigramSets b ON a.doc_id < b.doc_id)
         | WHERE inter / (la + lb - inter) >= 0.8),
         |und AS (SELECT id_a AS u, id_b AS v FROM pr
         |        UNION SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT u AS id FROM und),
         |reach(id, r) AS (SELECT id, id FROM nodes
         |  UNION SELECT e.v, r.r FROM reach r JOIN und e ON e.u = r.id)
         |SELECT d.doc_id, coalesce(m.c, d.doc_id) AS canonical
         |FROM documents d LEFT JOIN
         |  (SELECT id, min(r) AS c FROM reach GROUP BY id) m
         |  ON m.id = d.doc_id""".stripMargin,
    "dedup_survivors" ->
      s"""WITH RECURSIVE
         |pr AS (SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         |    len(a.sh) AS la, len(b.sh) AS lb
         |  FROM $SqlTrigramSets a JOIN $SqlTrigramSets b ON a.doc_id < b.doc_id)
         | WHERE inter / (la + lb - inter) >= 0.8),
         |und AS (SELECT id_a AS u, id_b AS v FROM pr
         |        UNION SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT u AS id FROM und),
         |reach(id, r) AS (SELECT id, id FROM nodes
         |  UNION SELECT e.v, r.r FROM reach r JOIN und e ON e.u = r.id)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d LEFT JOIN
         |  (SELECT id, min(r) AS c FROM reach GROUP BY id) m
         |  ON m.id = d.doc_id
         |WHERE coalesce(m.c, d.doc_id) = d.doc_id""".stripMargin,
    // star edges per key value (min-id hub), undirected closure —
    // same recursive-CTE pattern as dedup_cluster. e1 drops null/empty
    // normalized text to mirror multiKeyResolve's missing-signal filter
    // (an all-whitespace doc must NOT link every other blank doc)
    "dedup_entity_resolution" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS k1,
        |  'http://s.com/u' || CAST(doc_id % 97 AS VARCHAR) AS k2
        | FROM documents),
        |e1 AS (SELECT doc_id AS u,
        |  min(doc_id) OVER (PARTITION BY k1) AS v FROM d
        |  WHERE k1 IS NOT NULL AND k1 <> ''),
        |e2 AS (SELECT doc_id AS u,
        |  min(doc_id) OVER (PARTITION BY k2) AS v FROM d),
        |ed AS (SELECT u, v FROM e1 WHERE u <> v
        |  UNION SELECT u, v FROM e2 WHERE u <> v),
        |und AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
        |nodes AS (SELECT DISTINCT u AS id FROM und),
        |reach(id, r) AS (SELECT id, id FROM nodes
        |  UNION SELECT e.v, r.r FROM reach r JOIN und e ON e.u = r.id)
        |SELECT d.doc_id, coalesce(m.c, d.doc_id) AS canonical
        |FROM d LEFT JOIN
        |  (SELECT id, min(r) AS c FROM reach GROUP BY id) m
        |  ON m.id = d.doc_id""".stripMargin,
    // same pair graph + closure; survivor = per-cluster argmax by
    // (n_chars desc, doc_id asc) instead of min id
    "dedup_best_survivors" ->
      s"""WITH RECURSIVE
         |pr AS (SELECT id_a, id_b FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         |    len(a.sh) AS la, len(b.sh) AS lb
         |  FROM $SqlTrigramSets a JOIN $SqlTrigramSets b ON a.doc_id < b.doc_id)
         | WHERE inter / (la + lb - inter) >= 0.8),
         |und AS (SELECT id_a AS u, id_b AS v FROM pr
         |        UNION SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT u AS id FROM und),
         |reach(id, r) AS (SELECT id, id FROM nodes
         |  UNION SELECT e.v, r.r FROM reach r JOIN und e ON e.u = r.id)
         |SELECT doc_id, source, n_chars FROM (
         |  SELECT d.doc_id, d.source, d.n_chars, row_number() OVER (
         |    PARTITION BY coalesce(m.c, d.doc_id)
         |    ORDER BY d.n_chars DESC, d.doc_id) AS rn
         |  FROM documents d LEFT JOIN
         |    (SELECT id, min(r) AS c FROM reach GROUP BY id) m
         |    ON m.id = d.doc_id)
         |WHERE rn = 1""".stripMargin,
    // fixed-centroid SemDeDup: argmin cell assign (ties to lowest
    // cell), within-cell pairs on RAW cosine, undirected reach,
    // min-id canonical — mirrors semanticDedup stage for stage. The
    // centroid norm is a sequential double sum on both sides
    // (driver-side Scala sum == list_sum over DOUBLE casts)
    "dedup_semantic_fixed" ->
      """WITH RECURSIVE
        |cent AS (SELECT vec_id AS cell, embedding FROM embeddings
        |  WHERE vec_id < 8),
        |cn AS (SELECT cell, list_sum([CAST(embedding[i] AS DOUBLE) *
        |    CAST(embedding[i] AS DOUBLE) for i in range(1, 65)]) AS cnorm2
        |  FROM cent),
        |sc AS (SELECT e.vec_id, c.cell,
        |  cn.cnorm2 - 2 * list_sum([CAST(e.embedding[i] AS DOUBLE) *
        |    CAST(c.embedding[i] AS DOUBLE) for i in range(1, 65)]) AS d
        | FROM embeddings e CROSS JOIN cent c JOIN cn ON cn.cell = c.cell),
        |asg AS (SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d, cell) AS rn FROM sc)
        |  WHERE rn = 1),
        |pr AS (SELECT sa.vec_id AS id_a, sb.vec_id AS id_b,
        |  list_sum([CAST(a.embedding[i] AS DOUBLE) *
        |    CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)]) AS ab,
        |  list_sum([CAST(a.embedding[i] AS DOUBLE) *
        |    CAST(a.embedding[i] AS DOUBLE) for i in range(1, 65)]) AS aa,
        |  list_sum([CAST(b.embedding[i] AS DOUBLE) *
        |    CAST(b.embedding[i] AS DOUBLE) for i in range(1, 65)]) AS bb
        | FROM asg sa JOIN asg sb
        |   ON sa.cell = sb.cell AND sa.vec_id < sb.vec_id
        |  JOIN embeddings a ON a.vec_id = sa.vec_id
        |  JOIN embeddings b ON b.vec_id = sb.vec_id),
        |p AS (SELECT id_a, id_b FROM pr
        |  WHERE ab/(sqrt(aa)*sqrt(bb)) >= 0.45),
        |und AS (SELECT id_a AS u, id_b AS v FROM p
        |        UNION SELECT id_b, id_a FROM p),
        |verts AS (SELECT DISTINCT u AS id FROM und),
        |reach(id, r) AS (SELECT id, id FROM verts
        |  UNION SELECT e2.v, r.r FROM reach r JOIN und e2 ON e2.u = r.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
        |  CAST(g.cell AS INTEGER) AS cluster,
        |  CAST(coalesce(comp.component, e.vec_id) AS BIGINT) AS canonical
        |FROM embeddings e JOIN asg g ON g.vec_id = e.vec_id
        |LEFT JOIN comp ON comp.id = e.vec_id""".stripMargin,
    "neardup_embedding" ->
      s"""SELECT id_a, id_b, round(ab/(sqrt(aa)*sqrt(bb)), 4) AS cosine
         |FROM $SqlCosPairs WHERE ab/(sqrt(aa)*sqrt(bb)) >= 0.45""".stripMargin,
    "neardup_embedding_lsh" ->
      s"""SELECT id_a, id_b, round(ab/(sqrt(aa)*sqrt(bb)), 4) AS cosine
         |FROM $SqlCosPairs WHERE ab/(sqrt(aa)*sqrt(bb)) >= 0.45""".stripMargin,
    "ann_topk" ->
      s"""WITH d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${sqlDot("a", "a")} AS aa, ${sqlDot("b", "b")} AS bb, ${sqlDot("a", "b")} AS ab
         | FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
         |r AS (SELECT query_id, neighbor_id, ab/(sqrt(aa)*sqrt(bb)) AS cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY ab/(sqrt(aa)*sqrt(bb)) DESC, neighbor_id) AS rank FROM d)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cosine, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5""".stripMargin,
    // the recall gates assert "every query meets its floor": the
    // oracle is the constant all-ones table over the query set, so a
    // dropped query (rows) or a floor miss (hash) fails the row
    "ann_recall_lsh" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(2 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "ann_recall_ivf" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "ann_recall_ivf_inc" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "ann_recall_ivf_refit" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // post-compaction signature query == one-shot (hamming verbatim)
    "embed_binary_compacted" ->
      """WITH s AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END for i in range(1, 33)]) AS BIGINT) AS sa,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END for i in range(33, 65)]) AS BIGINT) AS sb
        | FROM embeddings),
        |d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS h
        | FROM s a JOIN s b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
        |r AS (SELECT query_id, neighbor_id, h,
        |  row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS rank FROM d)
        |SELECT query_id, neighbor_id, CAST(h AS BIGINT) AS hamming,
        |  CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5""".stripMargin,
    "ann_recall_pq" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "ann_recall_opq" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "ann_recall_ivfpq" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "embed_maxsim_rerank" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(2 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // hard negatives: the ann_topk chain with a label-mismatch filter
    "embed_hard_negatives" ->
      s"""WITH d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${sqlDot("a", "a")} AS aa, ${sqlDot("b", "b")} AS bb, ${sqlDot("a", "b")} AS ab
         | FROM embeddings a JOIN embeddings b
         |   ON a.vec_id < 10 AND b.vec_id != a.vec_id AND b.label != a.label),
         |r AS (SELECT query_id, neighbor_id, ab/(sqrt(aa)*sqrt(bb)) AS cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY ab/(sqrt(aa)*sqrt(bb)) DESC, neighbor_id) AS rank FROM d)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cosine, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5""".stripMargin,
    // ROUGE-2 on adjacent-doc pairs: clipped bigram overlap, exact
    // per-mille P/R/F1 (F1 = 2o/(c+r), one integer division)
    "text_rouge" ->
      """WITH p AS (SELECT a.doc_id, a.text AS cand, b.text AS ref
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |cw AS (SELECT doc_id, string_split(trim(cand), ' ') AS w FROM p),
        |rw AS (SELECT doc_id, string_split(trim(ref), ' ') AS w FROM p),
        |cg AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g,
        |    count(*) AS cc
        |  FROM cw, unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS u(i)
        |  GROUP BY 1, 2),
        |rg AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g,
        |    count(*) AS rc
        |  FROM rw, unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS u(i)
        |  GROUP BY 1, 2),
        |o AS (SELECT cg.doc_id,
        |    CAST(sum(least(cc, rc)) AS BIGINT) AS ov
        |  FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.g = rg.g
        |  GROUP BY 1),
        |base AS (SELECT doc_id,
        |  CAST(greatest(len(string_split(trim(cand), ' ')) - 1, 1) AS BIGINT) AS cand_ngrams,
        |  CAST(greatest(len(string_split(trim(ref), ' ')) - 1, 1) AS BIGINT) AS ref_ngrams FROM p)
        |SELECT base.doc_id,
        |  CAST(coalesce(ov, 0) AS BIGINT) AS overlap,
        |  cand_ngrams, ref_ngrams,
        |  CAST((1000 * coalesce(ov, 0)) // cand_ngrams AS BIGINT) AS precision_pm,
        |  CAST((1000 * coalesce(ov, 0)) // ref_ngrams AS BIGINT) AS recall_pm,
        |  CAST((2000 * coalesce(ov, 0)) // (cand_ngrams + ref_ngrams) AS BIGINT) AS f1_pm
        |FROM base LEFT JOIN o ON base.doc_id = o.doc_id""".stripMargin,
    "events_value_histogram" ->
      """WITH c AS (SELECT event_type,
        |  CAST(floor(value * 100) AS BIGINT) // 500 AS bin
        |  FROM events)
        |SELECT event_type, bin, bin * 500 AS lo_cents, count(*) AS n
        |FROM c GROUP BY 1, 2""".stripMargin,
    // the REAL incremental run must equal the batch histogram verbatim
    "events_stream_value_histogram" ->
      """WITH c AS (SELECT event_type,
        |  CAST(floor(value * 100) AS BIGINT) // 500 AS bin
        |  FROM events)
        |SELECT event_type, bin, bin * 500 AS lo_cents, count(*) AS n
        |FROM c GROUP BY 1, 2""".stripMargin,
    // sign-bit signatures as two unsigned-32-bit halves (bit 63 is
    // engine-dependent sign territory); Hamming = xor popcounts
    "embed_binary_hamming" ->
      """WITH s AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END for i in range(1, 33)]) AS BIGINT) AS sa,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END for i in range(33, 65)]) AS BIGINT) AS sb
        | FROM embeddings),
        |d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS h
        | FROM s a JOIN s b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
        |r AS (SELECT query_id, neighbor_id, h,
        |  row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS rank FROM d)
        |SELECT query_id, neighbor_id, CAST(h AS BIGINT) AS hamming,
        |  CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5""".stripMargin,
    // increment ∪ archive == one-shot: embed_binary_hamming verbatim
    "embed_binary_incremental" ->
      """WITH s AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END for i in range(1, 33)]) AS BIGINT) AS sa,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END for i in range(33, 65)]) AS BIGINT) AS sb
        | FROM embeddings),
        |d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS h
        | FROM s a JOIN s b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
        |r AS (SELECT query_id, neighbor_id, h,
        |  row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS rank FROM d)
        |SELECT query_id, neighbor_id, CAST(h AS BIGINT) AS hamming,
        |  CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5""".stripMargin,
    // two-stage integer chain: hamming shortlist (ties by id) ->
    // clipped int8-lattice interaction score -> top-5 (score DESC,
    // ties by id). floor(x*8) is engine-exact (x8 = exponent shift)
    "embed_cross_rerank" ->
      """WITH s AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END for i in range(1, 33)]) AS BIGINT) AS sa,
        |  CAST(list_sum([CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END for i in range(33, 65)]) AS BIGINT) AS sb,
        |  [CAST(floor(embedding[i]::DOUBLE * 8) AS BIGINT) for i in range(1, 65)] AS v8
        | FROM embeddings),
        |d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  bit_count(xor(a.sa, b.sa)) + bit_count(xor(a.sb, b.sb)) AS h,
        |  CAST(list_sum([least(a.v8[i] * b.v8[i], 64) for i in range(1, 65)]) AS BIGINT) AS score
        | FROM s a JOIN s b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
        |sl AS (SELECT query_id, neighbor_id, score,
        |  row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id) AS hrank FROM d),
        |r AS (SELECT query_id, neighbor_id, score,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        | FROM sl WHERE hrank <= 50)
        |SELECT query_id, neighbor_id, score AS pair_score,
        |  CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5""".stripMargin,
    "ann_recall_binary" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(2 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "ann_recall_pca" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id, CAST(5 AS BIGINT) AS k,
        |  CAST(1 AS BIGINT) AS floor, CAST(1 AS BIGINT) AS meets_floor
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "multimodal_meta" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) + 57 AS BIGINT) AS bytes, " +
        "CAST(octet_length(encode(text)) % 640 + 16 AS INTEGER) AS width, " +
        "CAST(CAST(octet_length(encode(text)) AS BIGINT) * 7 % 480 + 16 AS INTEGER) AS height, " +
        "CAST(3 AS INTEGER) AS channels, 'png' AS format FROM documents"),
    "multimodal_frames" ->
      ("WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) % 300 + 1 AS INTEGER) AS frame_count FROM documents) " +
        "SELECT doc_id, frame_count, CAST(unnest(list_slice(range(0, frame_count, 10), 1, 8)) AS INTEGER) AS frame_idx FROM m"),

    "curation_redact" ->
      "SELECT doc_id, regexp_replace(text, 'table|spark', '<X>', 'g') AS clean_text, CAST(len(regexp_extract_all(text, 'table|spark')) AS INTEGER) AS hits FROM documents",
    "curation_scrub" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS clean_text, " +
        "CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER) AS url_count, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS email_count FROM documents"),
    "curation_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |t AS (SELECT doc_id, greatest(len(w) - 2, 0) AS total,
        |  len(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-2, 1)+1)])) AS uniq FROM w)
        |SELECT doc_id, CASE WHEN total <= 0 THEN 0.0
        |  ELSE round(CAST(total - uniq AS DOUBLE) / total, 4) END AS rep_ratio FROM t""".stripMargin,
    "curation_filters" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS words,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars FROM documents)
        |SELECT doc_id, words < 5 AS too_short, words > 5000 AS too_long,
        |  chars < words * 2 AS word_len_low, chars > words * 12 AS word_len_high,
        |  NOT (words < 5) AND NOT (words > 5000) AND NOT (chars < words * 2)
        |    AND NOT (chars > words * 12) AS keep FROM s""".stripMargin,
    "curation_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, greatest(len(w)-7, 1)+1)])) AS s FROM w),
        |h AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0)
        |SELECT c.doc_id, count(*) AS shared_ngrams FROM sh c JOIN h ON c.s = h.s
        |WHERE c.doc_id % 10 != 0 GROUP BY c.doc_id""".stripMargin,
    "curation_lang_eval" ->
      s"""WITH s AS (SELECT doc_id,
         |  ${sqlHits(operators.TextOps.StopEn)} AS en,
         |  ${sqlHits(operators.TextOps.StopDe)} AS de,
         |  ${sqlHits(operators.TextOps.StopFr)} AS fr,
         |  ${sqlHits(operators.TextOps.StopEs)} AS es,
         |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS zh
         | FROM documents),
         |p AS (SELECT doc_id, CASE WHEN zh > 0 THEN 'zh'
         |  WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'unknown'
         |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
         |  WHEN de >= fr AND de >= es THEN 'de'
         |  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred FROM s)
         |SELECT d.lang, p.lang_pred, count(*) AS n FROM documents d
         |JOIN p ON d.doc_id = p.doc_id GROUP BY d.lang, p.lang_pred""".stripMargin,
    // construction oracle: the synthesized page's only content blocks
    // are the escaped 20-word <p> chunks of `text`, so extraction must
    // return exactly the whitespace-normalized text ('g' flag: DuckDB
    // replaces first match only by default)
    "curation_html_extract" ->
      """SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g')
        |  AS extracted FROM documents""".stripMargin,
    "curation_quota_sample" ->
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 20""".stripMargin,
    "curation_pack" ->
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS token_count
        | FROM documents)
        |SELECT doc_id, source, token_count,
        |  CAST(floor(CAST(coalesce(sum(token_count) OVER (PARTITION BY source
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS DOUBLE) / 512) AS BIGINT) AS bin_id
        |FROM t""".stripMargin,
    "curation_pack_tokens" ->
      """WITH h AS (SELECT doc_id, text,
        |  CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |    AS BIGINT) % 8 AS shard FROM documents),
        |t AS (SELECT doc_id, shard,
        |  string_split(trim(text), ' ') AS w FROM h),
        |tok AS (SELECT doc_id, shard, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS tp FROM t),
        |f AS (SELECT * FROM tok WHERE tok != ''),
        |p AS (SELECT shard, doc_id, tp, tok,
        |  CAST((row_number() OVER (PARTITION BY shard
        |    ORDER BY doc_id, tp) - 1) // 256 AS BIGINT) AS block_id
        | FROM f)
        |SELECT shard, block_id, count(*) AS n_tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  md5(string_agg(tok, ' ' ORDER BY doc_id, tp)) AS block_md5
        |FROM p GROUP BY shard, block_id""".stripMargin,
    "curation_top_ngram" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |g AS (SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w)-2, 1)+1)]) AS gram FROM w),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram),
        |t AS (SELECT doc_id, max(n) AS mx, sum(n) AS total FROM c GROUP BY doc_id)
        |SELECT doc_id, round(CAST(mx AS DOUBLE) / total, 4) AS top_ngram_frac FROM t""".stripMargin,
    "curation_token_quantiles" ->
      """SELECT source,
        |  round(quantile_cont(CAST(len(string_split(trim(text), ' ')) AS DOUBLE), 0.5), 2) AS median_tokens,
        |  round(quantile_cont(CAST(len(string_split(trim(text), ' ')) AS DOUBLE), 0.9), 2) AS p90_tokens
        |FROM documents GROUP BY source""".stripMargin,
    "curation_source_stats" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(length(text)) AS DOUBLE) / count(*), 2) AS avg_chars
        |FROM documents GROUP BY source""".stripMargin,

    // transitive closure over the bounded-component subgraph: total
    // derived rows = sum of component sizes squared (~200k at sf0.01)
    "graph_components" ->
      """WITH RECURSIVE
        | e0 AS (
        |   SELECT CAST(o_custkey AS BIGINT) AS u, CAST(o_orderkey + 1000000000 AS BIGINT) AS v FROM orders
        |   UNION ALL
        |   SELECT CAST(l_orderkey + 1000000000 AS BIGINT), CAST(l_partkey + 2000000000 AS BIGINT)
        |   FROM (SELECT l_orderkey, l_partkey, sum(l_quantity) AS q FROM lineitem GROUP BY 1, 2)
        |   WHERE q >= 52.0
        | ),
        | und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
        | nodes AS (
        |   SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
        |   UNION ALL SELECT CAST(o_orderkey + 1000000000 AS BIGINT) FROM orders
        |   UNION ALL SELECT CAST(p_partkey + 2000000000 AS BIGINT) FROM part
        | ),
        | reach(id, r) AS (
        |   SELECT id, id FROM nodes
        |   UNION
        |   SELECT e.v, r.r FROM reach r JOIN und e ON e.u = r.id
        | )
        |SELECT comp AS root, count(*) AS size
        |FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |GROUP BY comp""".stripMargin,
    "graph_sssp" ->
      """WITH RECURSIVE
        | e0 AS (SELECT CAST(o_custkey AS BIGINT) AS u, CAST(o_orderkey + 1000000000 AS BIGINT) AS v, CAST(1 AS BIGINT) AS w FROM orders
        |   UNION ALL
        |   SELECT CAST(l_orderkey + 1000000000 AS BIGINT), CAST(l_partkey + 2000000000 AS BIGINT), CAST(floor(q) AS BIGINT)
        |   FROM (SELECT l_orderkey, l_partkey, sum(l_quantity) AS q FROM lineitem GROUP BY 1, 2) WHERE q >= 52.0),
        | und AS (SELECT u, v, w FROM e0 UNION SELECT v, u, w FROM e0),
        | walk(id, d, h) AS (
        |   SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d, 0 AS h
        |   UNION
        |   SELECT e.v, walk.d + e.w, walk.h + 1 FROM walk JOIN und e ON e.u = walk.id WHERE walk.h < 32
        | )
        |SELECT id, min(d) AS distance FROM walk GROUP BY id""".stripMargin,
    // two unrolled integer rounds; top-50 by (authority desc, id) —
    // all sums int64, no rounding anywhere
    "graph_hits" ->
      """WITH nodes AS (
        |   SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
        |   UNION ALL SELECT CAST(o_orderkey + 1000000000 AS BIGINT) FROM orders
        |   UNION ALL SELECT CAST(p_partkey + 2000000000 AS BIGINT) FROM part),
        | e AS (
        |   SELECT CAST(o_custkey AS BIGINT) AS src, CAST(o_orderkey + 1000000000 AS BIGINT) AS dst FROM orders
        |   UNION ALL SELECT CAST(l_orderkey + 1000000000 AS BIGINT), CAST(l_partkey + 2000000000 AS BIGINT)
        |   FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
        | h0 AS (SELECT id, CAST(1 AS BIGINT) AS hub FROM nodes),
        | a1 AS (SELECT n.id, CAST(coalesce(s.sm, 0) AS BIGINT) AS authority FROM nodes n
        |        LEFT JOIN (SELECT e.dst AS id, sum(h0.hub) AS sm FROM e JOIN h0 ON h0.id = e.src GROUP BY e.dst) s ON s.id = n.id),
        | h1 AS (SELECT n.id, CAST(coalesce(s.sm, 0) AS BIGINT) AS hub FROM nodes n
        |        LEFT JOIN (SELECT e.src AS id, sum(a1.authority) AS sm FROM e JOIN a1 ON a1.id = e.dst GROUP BY e.src) s ON s.id = n.id),
        | a2 AS (SELECT n.id, CAST(coalesce(s.sm, 0) AS BIGINT) AS authority FROM nodes n
        |        LEFT JOIN (SELECT e.dst AS id, sum(h1.hub) AS sm FROM e JOIN h1 ON h1.id = e.src GROUP BY e.dst) s ON s.id = n.id),
        | h2 AS (SELECT n.id, CAST(coalesce(s.sm, 0) AS BIGINT) AS hub FROM nodes n
        |        LEFT JOIN (SELECT e.src AS id, sum(a2.authority) AS sm FROM e JOIN a2 ON a2.id = e.dst GROUP BY e.src) s ON s.id = n.id)
        |SELECT h2.id, h2.hub, a2.authority FROM h2 JOIN a2 ON a2.id = h2.id
        |ORDER BY a2.authority DESC, h2.id LIMIT 50""".stripMargin,
    "graph_pagerank_power" ->
      """WITH nodes AS (
        |   SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
        |   UNION ALL SELECT CAST(o_orderkey + 1000000000 AS BIGINT) FROM orders
        |   UNION ALL SELECT CAST(p_partkey + 2000000000 AS BIGINT) FROM part),
        | e AS (
        |   SELECT CAST(o_custkey AS BIGINT) AS src, CAST(o_orderkey + 1000000000 AS BIGINT) AS dst FROM orders
        |   UNION ALL SELECT CAST(l_orderkey + 1000000000 AS BIGINT), CAST(l_partkey + 2000000000 AS BIGINT)
        |   FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
        | ed AS (SELECT e.src, e.dst, d.d FROM e JOIN (SELECT src, count(*) AS d FROM e GROUP BY src) d ON d.src = e.src),
        | r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
        | r1 AS (SELECT n.id, 0.15 + 0.85 * coalesce(s.sm, 0.0) AS rank FROM nodes n
        |        LEFT JOIN (SELECT ed.dst AS id, sum(r0.rank / ed.d) AS sm FROM ed JOIN r0 ON r0.id = ed.src GROUP BY ed.dst) s ON s.id = n.id),
        | r2 AS (SELECT n.id, 0.15 + 0.85 * coalesce(s.sm, 0.0) AS rank FROM nodes n
        |        LEFT JOIN (SELECT ed.dst AS id, sum(r1.rank / ed.d) AS sm FROM ed JOIN r1 ON r1.id = ed.src GROUP BY ed.dst) s ON s.id = n.id),
        | r3 AS (SELECT n.id, 0.15 + 0.85 * coalesce(s.sm, 0.0) AS rank FROM nodes n
        |        LEFT JOIN (SELECT ed.dst AS id, sum(r2.rank / ed.d) AS sm FROM ed JOIN r2 ON r2.id = ed.src GROUP BY ed.dst) s ON s.id = n.id)
        |SELECT id, round(rank, 4) AS rank FROM r3""".stripMargin,
    "graph_hops" ->
      """SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS distance
        |UNION ALL SELECT DISTINCT o_orderkey + 1000000000, 1 FROM orders WHERE o_custkey = 1
        |UNION ALL SELECT DISTINCT l.l_partkey + 2000000000, 2 FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey = 1""".stripMargin,
    "events_stream_window" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
        |  event_type, count(*) AS events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "events_topn_per_type" ->
      """SELECT event_type, event_id, round(value, 2) AS value, CAST(rn AS INTEGER) AS rn
        |FROM (SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
        | FROM events) WHERE rn <= 3""".stripMargin,
    "events_sessions" ->
      """WITH g AS (SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
        |s AS (SELECT user_id, event_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS events FROM s GROUP BY user_id, session_id""".stripMargin,
    // the REAL incremental run must equal the batch report VERBATIM —
    // same oracle as events_sessions
    "events_stream_gap_sessions" ->
      """WITH g AS (SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
        |s AS (SELECT user_id, event_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS events FROM s GROUP BY user_id, session_id""".stripMargin,
    "events_running_total" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events""".stripMargin,
    // SCD2: per-(user, day) last state -> day grid -> LOCF -> island
    // collapse (change-flag running sum); all integers + string states
    "events_scd2" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |o AS (SELECT user_id, day, event_type AS obs FROM (
        |  SELECT user_id, day, event_type, row_number() OVER (
        |    PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC)
        |    AS rn FROM e) WHERE rn = 1),
        |r AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM e GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
        |  FROM r),
        |f AS (SELECT g.user_id, g.day,
        |  last_value(o.obs IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS state
        |  FROM g LEFT JOIN o ON o.user_id = g.user_id
        |    AND o.day = g.day),
        |c AS (SELECT user_id, day, state, CASE WHEN
        |    lag(state) OVER (PARTITION BY user_id ORDER BY day)
        |      IS DISTINCT FROM state THEN 1 ELSE 0 END AS chg FROM f),
        |s AS (SELECT user_id, day, state,
        |  sum(chg) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM c)
        |SELECT user_id, state, min(day) AS valid_from,
        |  max(day) AS valid_to
        |FROM s GROUP BY user_id, run, state""".stripMargin,
    // session-scoped ordered pair support: a session supports a->b iff
    // min ts(a) < max ts(b) within it; the test runs on the bounded
    // per-(session, type) min/max projection
    "events_seq_patterns" -> SeqPatternsOracleSql,
    // the REAL incremental run must reproduce the batch report
    "events_stream_patterns" -> SeqPatternsOracleSql,
        // union + keyed running window — the exact algorithm the Spark
    // asofJoin runs, re-expressed relationally (right rows sort before
    // left at equal ts; greatest event_id wins among equal-ts rights)
    "events_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, 1 AS side, event_id AS ord, event_id,
        |    NULL::BIGINT AS p_id, NULL::DOUBLE AS p_val
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 0, event_id, NULL, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT *,
        |    last_value(p_id IGNORE NULLS) OVER w AS purchase_event_id,
        |    last_value(p_val IGNORE NULLS) OVER w AS pv
        |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, purchase_event_id,
        |  round(pv, 2) AS purchase_value FROM m WHERE side = 1""".stripMargin,
    // forward mirror: left rows sort BEFORE right at equal ts (side
    // 0 vs 1), first_value over the following frame
    "events_asof_forward" ->
      """WITH u AS (
        |  SELECT user_id, ts, 0 AS side, event_id AS ord, event_id,
        |    NULL::BIGINT AS p_id, NULL::DOUBLE AS p_val
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, 1, event_id, NULL, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT *,
        |    first_value(p_id IGNORE NULLS) OVER w AS next_event_id,
        |    first_value(p_val IGNORE NULLS) OVER w AS nv
        |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, ord
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, next_event_id,
        |  round(nv, 2) AS next_value FROM m WHERE side = 0""".stripMargin,
    // greedy earliest-first funnel, replicated stage by stage: first
    // view per user, first click strictly after it ((ts, event_id)
    // lexicographic), first purchase strictly after that. The REAL
    // incremental run (events_stream_funnel) must produce the
    // identical table, so it shares this oracle verbatim.
    "events_funnel" -> FunnelOracleSql,
    "events_funnel_conversion" -> FunnelConversionOracleSql,
    "events_stream_funnel" -> FunnelOracleSql,
    "events_trailing_30m" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS trailing_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS trailing_cents
        |FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |  RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)""".stripMargin,
    "events_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p ON p.user_id = c.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'""".stripMargin,
    "events_props_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS k_sum,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_cnt
        |FROM events GROUP BY event_type""".stripMargin,
    "curation_domain_stats" ->
      """WITH t AS (SELECT doc_id, text || ' http://site' || (doc_id % 50)
        |    || '.com/p' || doc_id || ' see https://mirror' || (doc_id % 7)
        |    || '.org/x' AS text FROM documents),
        |d AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, 'https?://([^/ ]+)', 1)) AS domain
        | FROM t)
        |SELECT domain, count(DISTINCT doc_id) AS docs, count(*) AS mentions
        |FROM d GROUP BY domain""".stripMargin,
    // same plant, same rule chain step for step; DuckDB backrefs are
    // \1 (Spark's are $1) and the multi-match tracking-param strip
    // carries the 'g' flag — every other rule is anchored, where
    // replace-first and replace-all agree by construction
    "curation_url_canonical" ->
      """WITH p AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
        |  WHEN 0 THEN 'HTTP://WWW.Site' || (doc_id % 50) || '.COM:80/Path'
        |    || doc_id || '/?utm_source=x&q=' || (doc_id % 9) || '#frag'
        |  WHEN 1 THEN 'https://site' || (doc_id % 50) || '.com:443/path'
        |    || doc_id || '?q=' || (doc_id % 9) || '&utm_campaign=c'
        |  WHEN 2 THEN 'http://site' || (doc_id % 50) || '.com/path'
        |    || doc_id || '/'
        |  ELSE 'https://www.site' || (doc_id % 50) || '.com/path'
        |    || doc_id || '?gclid=g' END AS url FROM documents),
        |c0 AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '(?i)^(https?://[^/]*)', 1)) ||
        |  regexp_replace(url, '(?i)^https?://[^/]*', '') AS u FROM p),
        |c1 AS (SELECT doc_id, url,
        |  regexp_replace(u, '^(https?://)www\.', '\1') AS u FROM c0),
        |c2 AS (SELECT doc_id, url, regexp_replace(regexp_replace(u,
        |    '^(http://[^/:]+):80([/?#]|$)', '\1\2'),
        |    '^(https://[^/:]+):443([/?#]|$)', '\1\2') AS u FROM c1),
        |c3 AS (SELECT doc_id, url,
        |  regexp_replace(u, '#.*$', '') AS u FROM c2),
        |c4 AS (SELECT doc_id, url, regexp_replace(u,
        |  '[?&](utm_[a-z]+|fbclid|gclid)=[^&]*', '', 'g') AS u FROM c3),
        |c5 AS (SELECT doc_id, url,
        |  regexp_replace(u, '^([^?&]*)&', '\1?') AS u FROM c4)
        |SELECT doc_id, url,
        |  regexp_replace(u, '/$', '') AS canonical_url FROM c5""".stripMargin,
    // primary domain = FIRST url host; md5-ordered quota of 40 per
    // domain after dropping the blocklisted one
    "curation_domain_quota" ->
      """WITH t AS (SELECT doc_id, 'http://site' || (doc_id % 50) ||
        |    '.com/p' || doc_id || ' ' || text AS text FROM documents),
        |d AS (SELECT doc_id,
        |  regexp_extract(text, 'https?://([^/ ]+)', 1) AS domain FROM t),
        |a AS (SELECT * FROM d WHERE domain != 'site7.com'),
        |r AS (SELECT doc_id, domain, row_number() OVER (
        |  PARTITION BY domain
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS quota_rank
        | FROM a)
        |SELECT doc_id, domain, CAST(quota_rank AS BIGINT) AS quota_rank
        |FROM r WHERE quota_rank <= 40""".stripMargin,
    // operation order mirrored exactly: (cnt/len) * ln(N/df), ranking
    // on round(score, 6) with the term as tiebreak
    "text_tfidf_top" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |e AS (SELECT doc_id, len(w) AS len, unnest(w) AS term FROM t),
        |c AS (SELECT doc_id, len, term, count(*) AS cnt FROM e GROUP BY doc_id, len, term),
        |d AS (SELECT term, count(*) AS df FROM c GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT c.doc_id, c.term,
        |  (CAST(c.cnt AS DOUBLE) / c.len) * ln(CAST(n.n AS DOUBLE) / d.df) AS score
        | FROM c JOIN d USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY round(score, 6) DESC, term) AS rank FROM s)
        |SELECT doc_id, term, round(score, 4) AS tfidf,
        |  CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 1""".stripMargin,
    // gap-based sessions on exact microsecond arithmetic; boundary is
    // `diff >= gap` (session_window's strict-before-end semantics; the
    // fixture has no exact-gap ties, so conventions cannot diverge)
    "events_stream_sessions" ->
      """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us
        |  FROM events),
        |m AS (SELECT *, lag(us) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id) AS pus FROM e),
        |x AS (SELECT *, CASE WHEN pus IS NULL OR us - pus >= 1800000000
        |  THEN 1 ELSE 0 END AS ns FROM m),
        |y AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
        |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  user_id, count(*) AS events
        |FROM y GROUP BY user_id, sid""".stripMargin,
    // final mapGroupsWithState state per user == batch aggregate;
    // cents (Σ floor(value·100)) is the engine-stable integer sum —
    // the double total is accumulation-order-dependent and not compared
    "events_stream_state" ->
      """SELECT user_id, count(*) AS events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id""".stripMargin,
    // the re-read committed parquet-sink files must reproduce the
    // batch per-type aggregate of the source
    "events_stream_sink" ->
      """SELECT event_type, count(*) AS events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY event_type""".stripMargin,
    // chunkSize=32, overlap=8 → step=24; trailing starts kept only when
    // they add an uncovered token (s + overlap < n)
    "curation_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |n AS (SELECT doc_id, w, len(w) AS n FROM t),
        |s AS (SELECT doc_id, w, n,
        |  unnest(generate_series(0, CAST(n - 1 AS BIGINT), 24)) AS s
        |  FROM n),
        |k AS (SELECT * FROM s WHERE s = 0 OR s + 8 < n)
        |SELECT doc_id, s // 24 AS chunk_id,
        |  least(32, n - s) AS n_tokens,
        |  w[CAST(s + 1 AS INTEGER)] AS first_tok,
        |  w[CAST(least(n, s + 32) AS INTEGER)] AS last_tok FROM k""".stripMargin,
    "curation_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |         IN ('d', 'e') THEN 'val'
        |       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |         = 'f' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents""".stripMargin,
    "text_vocab_profile" ->
      """WITH w AS (SELECT source, unnest(string_split(trim(text), ' ')) AS w
        |  FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM w
        |  WHERE len(w) > 0 GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS tokens,
        |  count(*) AS types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST((1000 * count(*)) // sum(c) AS BIGINT) AS ttr_pm,
        |  CAST((1000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS hapax_pm
        |FROM c GROUP BY source""".stripMargin,
    // reciprocity over the ring fixture (the graph_scc sel/ring CTEs)
    "graph_reciprocity" ->
      """WITH sel AS MATERIALIZED (SELECT p, o FROM (
        |  SELECT p, o, row_number() OVER (PARTITION BY p ORDER BY o)
        |    AS rn
        |  FROM (SELECT DISTINCT l_partkey + 2000000000 AS p,
        |          l_orderkey + 1000000000 AS o
        |        FROM lineitem WHERE l_partkey % 40 = 0))
        |  WHERE rn <= 4),
        |ring AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT o AS src,
        |    coalesce(lead(o) OVER (PARTITION BY p ORDER BY o),
        |             min(o) OVER (PARTITION BY p)) AS dst
        |  FROM sel)),
        |r0 AS (SELECT src, dst FROM ring WHERE src != dst),
        |m AS (SELECT a.src, a.dst FROM r0 a
        |  JOIN r0 b ON a.src = b.dst AND a.dst = b.src)
        |SELECT CAST((SELECT count(*) FROM r0) AS BIGINT) AS edges,
        |  CAST((SELECT count(*) FROM m) AS BIGINT) AS reciprocal,
        |  CAST((1000 * (SELECT count(*) FROM m)) //
        |    greatest((SELECT count(*) FROM r0), 1) AS BIGINT)
        |    AS reciprocity_pm""".stripMargin,
    // incremental CC: same subgraph as graph_components but components
    // cover EDGE-INCIDENT vertices only (the operator sees edges, not
    // the vertex table — isolated singletons are a downstream join)
    "graph_cc_incremental" ->
      """WITH RECURSIVE
        | e0 AS (
        |   SELECT CAST(o_custkey AS BIGINT) AS u, CAST(o_orderkey + 1000000000 AS BIGINT) AS v FROM orders
        |   UNION ALL
        |   SELECT CAST(l_orderkey + 1000000000 AS BIGINT), CAST(l_partkey + 2000000000 AS BIGINT)
        |   FROM (SELECT l_orderkey, l_partkey, sum(l_quantity) AS q FROM lineitem GROUP BY 1, 2)
        |   WHERE q >= 52.0
        | ),
        | und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
        | nodes AS (SELECT DISTINCT u AS id FROM und),
        | reach(id, r) AS (
        |   SELECT id, id FROM nodes
        |   UNION
        |   SELECT e.v, r.r FROM reach r JOIN und e ON e.u = r.id
        | )
        |SELECT comp AS root, count(*) AS size
        |FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |GROUP BY comp""".stripMargin,
    // compaction is read-equivalent: the final labeling over the same
    // union subgraph — graph_cc_incremental's oracle verbatim
    "graph_cc_compacted" ->
      """WITH RECURSIVE
        | e0 AS (
        |   SELECT CAST(o_custkey AS BIGINT) AS u, CAST(o_orderkey + 1000000000 AS BIGINT) AS v FROM orders
        |   UNION ALL
        |   SELECT CAST(l_orderkey + 1000000000 AS BIGINT), CAST(l_partkey + 2000000000 AS BIGINT)
        |   FROM (SELECT l_orderkey, l_partkey, sum(l_quantity) AS q FROM lineitem GROUP BY 1, 2)
        |   WHERE q >= 52.0
        | ),
        | und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
        | nodes AS (SELECT DISTINCT u AS id FROM und),
        | reach(id, r) AS (
        |   SELECT id, id FROM nodes
        |   UNION
        |   SELECT e.v, r.r FROM reach r JOIN und e ON e.u = r.id
        | )
        |SELECT comp AS root, count(*) AS size
        |FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |GROUP BY comp""".stripMargin,
    // leakage-safe splits: same nibble recipe, hashed on the GROUP key
    "curation_group_splits" ->
      """SELECT doc_id, source,
        |  CASE WHEN substr(md5('split:' || coalesce(source, '__null__')), 1, 1)
        |         IN ('d', 'e') THEN 'val'
        |       WHEN substr(md5('split:' || coalesce(source, '__null__')), 1, 1)
        |         = 'f' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents""".stripMargin,
    "events_daily_top_users" ->
      """WITH d AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    user_id, count(*) AS events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT day, user_id, events,
        |  row_number() OVER (PARTITION BY day
        |    ORDER BY events DESC, user_id) AS rank FROM d)
        |SELECT day, user_id, events, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 3""".stripMargin,
    "graph_common_neighbors" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst
        |  FROM lineitem)
        |SELECT a.dst + 2000000000 AS id_a, b.dst + 2000000000 AS id_b,
        |  count(*) AS shared
        |FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2
        |ORDER BY shared DESC, id_a, id_b
        |LIMIT 20""".stripMargin,
    "embed_quantize" ->
      """WITH t AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS mx FROM t),
        |s AS (SELECT vec_id, v,
        |  CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS sc FROM m),
        |q AS (SELECT vec_id, sc,
        |  list_transform(v, x -> CAST(floor(x * sc) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id, CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  round(sc, 4) AS scale FROM q""".stripMargin,
    // drop-list = tokens whose doc frequency exceeds half the corpus
    // (integer-exact comparison); kept tokens re-joined in original
    // order; fully-pruned docs keep an empty text
    "curation_prune" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |total AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |drop_list AS (SELECT tok FROM
        |  (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |  total WHERE df * 1000000 > floor(0.5 * 1000000) * n),
        |kept AS (SELECT doc_id, tok, pos FROM tok
        |  WHERE tok NOT IN (SELECT tok FROM drop_list)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
        |  count(*) AS kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.text, '') AS text,
        |  coalesce(agg.kept, 0) AS kept,
        |  CAST(len(t.w) - coalesce(agg.kept, 0) AS BIGINT) AS dropped
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin,
    // JSONL round-trip fidelity: re-read data must reproduce the
    // parquet-side per-source aggregates
    "source_jsonl" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY source""".stripMargin,
    // CSV fidelity adds the unsigned-32-bit md5-prefix checksum (the
    // hi/lo BIGINT cross-engine hash invariant)
    "source_csv" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS text_h
        |FROM documents GROUP BY source""".stripMargin,
    // corpus-wide first occurrence per 4-token block (min (doc_id,pos)
    // = row_number 1 in that order), order-preserving re-assembly;
    // fully-deduped docs keep an empty text
    // dHash oracle: the tEXt chunk data IS the utf-8 text (ASCII
    // corpus, so ord(substr) == byte); grid cell (x,y) of the 9×8
    // downscale reads byte ⌊(y·9+x)·n/72⌋; bit y·8+x set iff the cell
    // right of (x,y) is strictly brighter. Dims re-derive the IHDR
    // synthesis arithmetic (width/height from the TEXT length).
    // Unsigned 32-bit halves keep every engine in BIGINT range.
    // dims are 0-based in both engines (posexplode / ordinality-1);
    // DOUBLE casts before aggregating (list floats are float32)
    "embed_stats" ->
      """WITH x AS (SELECT
        |  CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
        |  CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |SELECT dim, count(*) AS n,
        |  round(avg(x), 4) AS mean,
        |  round(stddev_samp(x), 4) AS std,
        |  min(x) AS min, max(x) AS max
        |FROM x GROUP BY dim""".stripMargin,
    "text_vocabulary" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split(trim(text), ' ')) AS token FROM documents),
        |t2 AS (SELECT * FROM tok WHERE length(token) > 0),
        |c AS (SELECT token, count(*) AS occurrences,
        |  count(DISTINCT doc_id) AS docs FROM t2 GROUP BY token),
        |top AS (SELECT token, occurrences, docs FROM c
        |  ORDER BY occurrences DESC, token LIMIT 50)
        |SELECT token, occurrences, docs, CAST(row_number() OVER (
        |  ORDER BY occurrences DESC, token) AS INTEGER) AS rank
        |FROM top""".stripMargin,
    "curation_global_sample" ->
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS chars
        |FROM documents
        |ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id
        |LIMIT 100""".stripMargin,
    // WAV data chunk = utf-8 text bytes (8-bit PCM, center 128);
    // 256-sample frames; peak ties to the earliest frame; empty docs
    // keep 0 frames / 0 energy; sample rate re-derives the synthesis
    "multimodal_audio" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n FROM documents),
        |ch AS (SELECT doc_id, (i - 1) // 256 AS f,
        |  abs(ord(substr(text, CAST(i AS INTEGER), 1)) - 128) AS e
        |  FROM d, unnest(generate_series(1, n)) AS g(i)),
        |fr AS (SELECT doc_id, f, CAST(sum(e) AS BIGINT) AS fe
        |  FROM ch GROUP BY doc_id, f),
        |pk AS (SELECT doc_id, f, fe, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY fe DESC, f) AS rn FROM fr),
        |agg AS (SELECT doc_id, CAST(sum(fe) AS BIGINT) AS total_energy,
        |  count(*) AS n_frames FROM fr GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(d.n % 32000 + 8000 AS INTEGER) AS sample_rate,
        |  d.n AS n_samples,
        |  CAST(coalesce(agg.n_frames, 0) AS BIGINT) AS n_frames,
        |  CAST(coalesce(agg.total_energy, 0) AS BIGINT) AS total_energy,
        |  CAST(coalesce(pk.f, 0) AS BIGINT) AS peak_frame,
        |  CAST(coalesce(pk.fe, 0) AS BIGINT) AS peak_energy
        |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |LEFT JOIN (SELECT doc_id, f, fe FROM pk WHERE rn = 1) pk
        |  ON d.doc_id = pk.doc_id""".stripMargin,
    // per-shard aggregates recomputed from the SOURCE table with the
    // same md5 shard arithmetic the export used — verifies the files
    // round-tripped complete and correctly partitioned
    "source_sharded_export" ->
      """WITH h AS (SELECT doc_id, text,
        |  CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
        |    1, 8) AS BIGINT) % 8 AS shard FROM documents)
        |SELECT shard, count(*) AS docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(length(text)) AS BIGINT) AS chars,
        |  CAST(count(*) AS BIGINT) AS max_pos
        |FROM h GROUP BY shard""".stripMargin,
    // overlapping 8-token windows keyed by md5; windows past the first
    // occurrence (by doc_id, wpos) cover their 8 token positions;
    // covered tokens drop, survivors re-join in order (1-based token
    // positions: window wpos covers wpos+1..wpos+8)
    "dedup_substrings" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |wins AS (SELECT doc_id, CAST(s AS BIGINT) AS wpos,
        |  md5(array_to_string(
        |    w[CAST(s + 1 AS INTEGER):CAST(s + 8 AS INTEGER)], ' ')) AS wh
        |  FROM t, unnest(generate_series(0, CAST(len(w) - 8 AS BIGINT)))
        |    AS g(s)),
        |rk AS (SELECT doc_id, wpos, wh, row_number()
        |  OVER (PARTITION BY wh ORDER BY doc_id, wpos) AS rn FROM wins),
        |cov AS (SELECT DISTINCT doc_id, wpos + o AS pos
        |  FROM (SELECT doc_id, wpos FROM rk WHERE rn > 1),
        |    unnest(generate_series(1, 8)) AS u(o)),
        |tok AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |kept AS (SELECT k.doc_id, k.tok, k.pos FROM tok k
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |    WHERE cov.doc_id = k.doc_id AND cov.pos = k.pos)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
        |  count(*) AS kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.text, '') AS text,
        |  CAST(coalesce(agg.kept, 0) AS BIGINT) AS kept,
        |  CAST(len(t.w) - coalesce(agg.kept, 0) AS BIGINT) AS dropped
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin,
    // maximal runs of positions covered by duplicated 8-token windows
    // (count >= 2 corpus-wide, NO first-occurrence exemption), merged
    // while starts are <= 8 apart (adjacent coverage is contiguous);
    // span text sliced from the token array exactly as the Spark side
    "dedup_suffix_spans" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |wins AS (SELECT doc_id, CAST(s AS BIGINT) AS wpos,
        |  md5(array_to_string(
        |    w[CAST(s + 1 AS INTEGER):CAST(s + 8 AS INTEGER)], ' ')) AS wh
        |  FROM t, unnest(generate_series(0, CAST(len(w) - 8 AS BIGINT)))
        |    AS g(s)),
        |dh AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
        |d AS (SELECT doc_id, wpos FROM wins JOIN dh USING (wh)),
        |m AS (SELECT doc_id, wpos, CASE WHEN
        |    lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos) IS NULL
        |    OR wpos > lag(wpos) OVER (PARTITION BY doc_id ORDER BY wpos)
        |      + 8 THEN 1 ELSE 0 END AS nr FROM d),
        |r AS (SELECT doc_id, wpos, sum(nr) OVER (PARTITION BY doc_id
        |    ORDER BY wpos ROWS UNBOUNDED PRECEDING) AS run FROM m),
        |runs AS (SELECT doc_id, min(wpos) AS s, max(wpos) AS e
        |  FROM r GROUP BY doc_id, run)
        |SELECT runs.doc_id, CAST(s AS BIGINT) AS span_start,
        |  CAST(e - s + 8 AS BIGINT) AS span_tokens,
        |  array_to_string(
        |    w[CAST(s + 1 AS INTEGER):CAST(e + 8 AS INTEGER)], ' ')
        |    AS span_text
        |FROM runs JOIN t ON runs.doc_id = t.doc_id""".stripMargin,
    // strip-ALL variant: every position covered by any duplicated
    // window drops, both/all copies included
    "dedup_suffix" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |wins AS (SELECT doc_id, CAST(s AS BIGINT) AS wpos,
        |  md5(array_to_string(
        |    w[CAST(s + 1 AS INTEGER):CAST(s + 8 AS INTEGER)], ' ')) AS wh
        |  FROM t, unnest(generate_series(0, CAST(len(w) - 8 AS BIGINT)))
        |    AS g(s)),
        |dh AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, wpos + o AS pos
        |  FROM (SELECT doc_id, wpos FROM wins JOIN dh USING (wh)),
        |    unnest(generate_series(1, 8)) AS u(o)),
        |tok AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |kept AS (SELECT k.doc_id, k.tok, k.pos FROM tok k
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |    WHERE cov.doc_id = k.doc_id AND cov.pos = k.pos)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
        |  count(*) AS kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.text, '') AS text,
        |  CAST(coalesce(agg.kept, 0) AS BIGINT) AS kept,
        |  CAST(len(t.w) - coalesce(agg.kept, 0) AS BIGINT) AS dropped
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id""".stripMargin,
    // shard = first 8 md5 hex chars as an int mod 8 (always positive);
    // position = row_number over the full md5 within the shard
    "curation_shard_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |  md5('shard:' || CAST(doc_id AS VARCHAR)) AS hfull FROM documents)
        |SELECT doc_id,
        |  CAST('0x' || substr(hfull, 1, 8) AS BIGINT) % 8 AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY CAST('0x' || substr(hfull, 1, 8) AS BIGINT) % 8
        |    ORDER BY hfull, doc_id) AS INTEGER) AS pos
        |FROM h""".stripMargin,
    // bigram corpus-fit: adjacent-pair frequencies summed per doc;
    // docs with <2 tokens keep 0/0/0; single division at the end
    "text_bigram_fit" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bgr
        |  FROM tok a JOIN tok b
        |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |cnt AS (SELECT bgr, count(*) AS c FROM bg GROUP BY bgr),
        |per AS (SELECT bg.doc_id, CAST(sum(c) AS BIGINT) AS fit_total,
        |  count(*) AS n_bigrams FROM bg JOIN cnt USING (bgr)
        |  GROUP BY bg.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.fit_total, 0) AS BIGINT) AS fit_total,
        |  CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  round(CAST(coalesce(per.fit_total, 0) AS DOUBLE) /
        |    greatest(coalesce(per.n_bigrams, 0), 1), 4) AS fit_mean
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,
    "multimodal_dhash" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(length(text) AS BIGINT) AS n FROM documents),
        |grid AS (SELECT doc_id, y*8 + x AS b,
        |  CASE WHEN n = 0 THEN 0 ELSE
        |    ord(substr(text, CAST((y*9 + x) * n // 72 AS INTEGER) + 1, 1))
        |  END AS g0,
        |  CASE WHEN n = 0 THEN 0 ELSE
        |    ord(substr(text, CAST((y*9 + x + 1) * n // 72 AS INTEGER) + 1, 1))
        |  END AS g1
        |  FROM d,
        |    (SELECT unnest(generate_series(0, 7)) AS x),
        |    (SELECT unnest(generate_series(0, 7)) AS y)),
        |h AS (SELECT doc_id,
        |  CAST(sum(CASE WHEN b >= 32 AND g1 > g0
        |    THEN 1::BIGINT << (b - 32) ELSE 0 END) AS BIGINT) AS dhash_hi,
        |  CAST(sum(CASE WHEN b < 32 AND g1 > g0
        |    THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS dhash_lo
        |  FROM grid GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(d.n % 640 + 16 AS INTEGER) AS width,
        |  CAST(d.n * 7 % 480 + 16 AS INTEGER) AS height,
        |  h.dhash_hi, h.dhash_lo
        |FROM d JOIN h ON d.doc_id = h.doc_id""".stripMargin,
    "dedup_paragraphs" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |blk AS (SELECT doc_id, CAST(floor((pos - 1) / 4) AS BIGINT) AS bpos,
        |  string_agg(tok, ' ' ORDER BY pos) AS para FROM tok GROUP BY 1, 2),
        |firsts AS (SELECT doc_id, bpos, para, row_number()
        |  OVER (PARTITION BY para ORDER BY doc_id, bpos) AS rn FROM blk),
        |kept AS (SELECT doc_id, bpos, para FROM firsts WHERE rn = 1),
        |agg AS (SELECT doc_id, string_agg(para, ' ' ORDER BY bpos) AS text,
        |  count(*) AS kept FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n FROM blk GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.text, '') AS text,
        |  CAST(coalesce(agg.kept, 0) AS BIGINT) AS kept,
        |  CAST(coalesce(tot.n, 0) - coalesce(agg.kept, 0) AS BIGINT)
        |    AS dropped
        |FROM documents d LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin,
    // a<b<c edge-chain enumeration finds each triangle once; the Spark
    // side's degree orientation is an execution detail the oracle
    // doesn't need to mirror
    "graph_triangles" ->
      """WITH ce AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT a.p AS id_a, b.p AS id_b
        |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        |  FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a
        |  JOIN e e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b)
        |SELECT v + 2000000000 AS id, count(*) AS triangles
        |FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |GROUP BY 1""".stripMargin,
    // 12 unrolled peel rounds (matches kCore maxRounds; converged
    // rounds are no-ops, and the Spark side THROWS if 12 don't reach
    // the fixpoint, so both engines describe the same set)
    "graph_kcore" -> {
      val base =
        """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |    l_partkey AS p FROM lineitem),
          |r0 AS MATERIALIZED (SELECT a.p AS id_a, b.p AS id_b
          |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
      val rounds = (1 to 12).map { i =>
        s""",
           |k$i AS MATERIALIZED (SELECT v FROM (
           |  SELECT v, count(*) AS d FROM (
           |    SELECT id_a AS v FROM r${i - 1}
           |    UNION ALL SELECT id_b FROM r${i - 1}) GROUP BY v)
           |  WHERE d >= 2),
           |r$i AS MATERIALIZED (SELECT id_a, id_b FROM r${i - 1}
           |  WHERE id_a IN (SELECT v FROM k$i)
           |    AND id_b IN (SELECT v FROM k$i))""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT v + 2000000000 AS id, count(*) AS core_degree
          |FROM (SELECT id_a AS v FROM r12 UNION ALL SELECT id_b FROM r12)
          |GROUP BY 1""".stripMargin
    },
    // butterflies(v) = sum of C(shared, 2) over v's counted pairs;
    // `//` == Spark `div` on nonnegative int64
    "graph_butterflies" ->
      """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
        |    l_partkey + 2000000000 AS p FROM lineitem),
        |pp AS (SELECT a.p AS id_a, b.p AS id_b, count(*) AS c
        |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |b AS (SELECT id_a AS id, c * (c - 1) // 2 AS bf FROM pp
        |  UNION ALL SELECT id_b, c * (c - 1) // 2 FROM pp)
        |SELECT id, CAST(sum(bf) AS BIGINT) AS butterflies
        |FROM b GROUP BY id""".stripMargin,
    // Luby MIS unroll: 8 MATERIALIZED rounds; winners = strict local
    // minima of the packed (30-bit md5 draw)·2^31 + id priority among
    // still-active neighbors — all integers, draws engine-identical,
    // so the unroll is exact. Ids carry the +2e9 part offset UP FRONT
    // (the priority hashes the id string, so the offset must be baked
    // in before hashing, unlike the kcore oracle's final-select shift)
    "graph_mis" -> {
      val base =
        """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |    l_partkey + 2000000000 AS p FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.p AS id_a, b.p AS id_b
          |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |pr AS MATERIALIZED (SELECT v,
          |  (CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 8)
          |     AS BIGINT) % 1073741824) * 2147483648 + v AS prio
          |  FROM (SELECT id_a AS v FROM e0 UNION SELECT id_b FROM e0)),
          |a0 AS MATERIALIZED (SELECT v FROM pr)""".stripMargin
      val rounds = (1 to 8).map { i =>
        s""",
           |nb$i AS MATERIALIZED (SELECT u, v FROM (
           |  SELECT e.id_a AS u, e.id_b AS v FROM e0 e
           |    JOIN a${i - 1} x ON x.v = e.id_a
           |    JOIN a${i - 1} y ON y.v = e.id_b
           |  UNION ALL SELECT e.id_b, e.id_a FROM e0 e
           |    JOIN a${i - 1} x ON x.v = e.id_a
           |    JOIN a${i - 1} y ON y.v = e.id_b)),
           |m$i AS MATERIALIZED (SELECT a.v FROM a${i - 1} a
           |  JOIN pr p ON p.v = a.v
           |  LEFT JOIN (SELECT n.u, min(p2.prio) AS mn FROM nb$i n
           |    JOIN pr p2 ON p2.v = n.v GROUP BY n.u) q ON q.u = a.v
           |  WHERE q.mn IS NULL OR p.prio < q.mn),
           |a$i AS MATERIALIZED (SELECT v FROM a${i - 1}
           |  WHERE v NOT IN (SELECT v FROM m$i)
           |    AND v NOT IN (SELECT n.v FROM nb$i n
           |      JOIN m$i s ON s.v = n.u))""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT v AS id FROM (
          |  SELECT v FROM m1 UNION ALL SELECT v FROM m2
          |  UNION ALL SELECT v FROM m3 UNION ALL SELECT v FROM m4
          |  UNION ALL SELECT v FROM m5 UNION ALL SELECT v FROM m6
          |  UNION ALL SELECT v FROM m7 UNION ALL SELECT v FROM m8)""".stripMargin
    },
    // sync-LPA unroll: 4 MATERIALIZED label rounds over the
    // bidirectional projection; adoption = row_number over (count
    // desc, label asc) — all integers, so the unroll is exact
    "graph_lpa_sync" -> {
      val base =
        """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |    l_partkey AS p FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.p AS id_a, b.p AS id_b
          |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM e0
          |  UNION ALL SELECT id_b, id_a FROM e0),
          |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl
          |  FROM e)""".stripMargin
      val rounds = (1 to 4).map { i =>
        s""",
           |l$i AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl,
           |    row_number() OVER (PARTITION BY id
           |      ORDER BY c DESC, lbl) AS rn
           |  FROM (SELECT e.dst AS id, l.lbl AS lbl, count(*) AS c
           |        FROM e JOIN l${i - 1} l ON l.id = e.src
           |        GROUP BY e.dst, l.lbl)) WHERE rn = 1)""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT CAST(id + 2000000000 AS BIGINT) AS id,
          |  CAST(lbl + 2000000000 AS BIGINT) AS community FROM l4"""
          .stripMargin
    },
    // weighted unroll: identical chain with votes summing the pair's
    // co-purchase count (e0's shared) instead of 1
    "graph_lpa_weighted" -> {
      val base =
        """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |    l_partkey AS p FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.p AS id_a, b.p AS id_b,
          |  count(*) AS w FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst, w FROM e0
          |  UNION ALL SELECT id_b, id_a, w FROM e0),
          |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl
          |  FROM e)""".stripMargin
      val rounds = (1 to 4).map { i =>
        s""",
           |l$i AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl,
           |    row_number() OVER (PARTITION BY id
           |      ORDER BY c DESC, lbl) AS rn
           |  FROM (SELECT e.dst AS id, l.lbl AS lbl, sum(e.w) AS c
           |        FROM e JOIN l${i - 1} l ON l.id = e.src
           |        GROUP BY e.dst, l.lbl)) WHERE rn = 1)""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT CAST(id + 2000000000 AS BIGINT) AS id,
          |  CAST(lbl + 2000000000 AS BIGINT) AS community FROM l4"""
          .stripMargin
    },
    // the pageRankPower CTE chain with restart mass pinned to id 1,
    // carried in FIXED-POINT int64 (units of 1e-12): per-edge
    // contribution is `(rank_q * 85) // (100 * d)` — DuckDB's `//`
    // floor-div and Spark's `div` truncation agree on nonnegative
    // int64 — and the per-dst sum is integer, so the compared values
    // are exact whatever the summation order in either engine
    "graph_ppr" ->
      """WITH nodes AS (
        |   SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
        |   UNION ALL SELECT CAST(o_orderkey + 1000000000 AS BIGINT)
        |     FROM orders
        |   UNION ALL SELECT CAST(p_partkey + 2000000000 AS BIGINT)
        |     FROM part),
        | e AS (
        |   SELECT CAST(o_custkey AS BIGINT) AS src,
        |     CAST(o_orderkey + 1000000000 AS BIGINT) AS dst FROM orders
        |   UNION ALL SELECT CAST(l_orderkey + 1000000000 AS BIGINT),
        |     CAST(l_partkey + 2000000000 AS BIGINT)
        |   FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)),
        | ed AS (SELECT e.src, e.dst, d.d FROM e JOIN
        |   (SELECT src, count(*) AS d FROM e GROUP BY src) d
        |   ON d.src = e.src),
        | r0 AS (SELECT id, CAST(CASE WHEN id = 1
        |   THEN 1000000000000 ELSE 0 END AS BIGINT) AS rank_q
        |   FROM nodes),
        | r1 AS (SELECT n.id, CAST(CASE WHEN n.id = 1
        |     THEN 150000000000 ELSE 0 END
        |     + coalesce(s.sm, 0) AS BIGINT) AS rank_q FROM nodes n
        |   LEFT JOIN (SELECT ed.dst AS id,
        |     sum((r0.rank_q * 85) // (100 * ed.d)) AS sm
        |     FROM ed JOIN r0 ON r0.id = ed.src GROUP BY ed.dst) s
        |   ON s.id = n.id),
        | r2 AS (SELECT n.id, CAST(CASE WHEN n.id = 1
        |     THEN 150000000000 ELSE 0 END
        |     + coalesce(s.sm, 0) AS BIGINT) AS rank_q FROM nodes n
        |   LEFT JOIN (SELECT ed.dst AS id,
        |     sum((r1.rank_q * 85) // (100 * ed.d)) AS sm
        |     FROM ed JOIN r1 ON r1.id = ed.src GROUP BY ed.dst) s
        |   ON s.id = n.id),
        | r3 AS (SELECT n.id, CAST(CASE WHEN n.id = 1
        |     THEN 150000000000 ELSE 0 END
        |     + coalesce(s.sm, 0) AS BIGINT) AS rank_q FROM nodes n
        |   LEFT JOIN (SELECT ed.dst AS id,
        |     sum((r2.rank_q * 85) // (100 * ed.d)) AS sm
        |     FROM ed JOIN r2 ON r2.id = ed.src GROUP BY ed.dst) s
        |   ON s.id = n.id)
        |SELECT id, rank_q FROM r3 WHERE rank_q > 0""".stripMargin,
    "graph_clustering" ->
      """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
        |    l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT a.p AS id_a, b.p AS id_b
        |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        |  FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a
        |  JOIN e e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b),
        |tc AS (SELECT v, count(*) AS t
        |  FROM (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri) GROUP BY v),
        |deg AS (SELECT v, count(*) AS d
        |  FROM (SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e)
        |  GROUP BY v)
        |SELECT deg.v + 2000000000 AS id, CAST(deg.d AS BIGINT) AS degree,
        |  CAST(coalesce(tc.t, 0) AS BIGINT) AS triangles,
        |  round(2.0 * coalesce(tc.t, 0) / (deg.d * (deg.d - 1)), 4)
        |    AS coeff
        |FROM deg LEFT JOIN tc ON deg.v = tc.v
        |WHERE deg.d >= 2""".stripMargin,
    // per-mille weights keep the epoch-inclusion test pure int64:
    // u·1000 < (wpm − e·1000)·2³², u = first 8 md5 hex digits
    "curation_mix" ->
      """WITH d AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 400
        |      WHEN 'src2' THEN 1250 ELSE 1000 END AS wpm
        |  FROM documents),
        |e AS (SELECT doc_id, source, wpm,
        |    unnest(range(0, greatest(CAST(ceil(wpm / 1000.0) AS BIGINT),
        |      1))) AS e
        |  FROM d WHERE wpm > 0),
        |u AS (SELECT doc_id, source, wpm, e,
        |    CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)
        |      || ':' || CAST(e AS VARCHAR)), 1, 8) AS BIGINT) AS u
        |  FROM e)
        |SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
        |FROM u WHERE u * 1000 < (wpm - e * 1000) * 4294967296""".stripMargin,
    "curation_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w,
        |    len(string_split(trim(text), ' ')) AS n FROM documents),
        |sh AS (SELECT doc_id, n, i AS p,
        |    array_to_string(w[i:i+7], ' ') AS s
        |  FROM t, unnest(range(1, n - 7 + 1)) AS u(i) WHERE n >= 8),
        |h AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
        |m AS (SELECT c.doc_id,
        |    unnest(range(greatest(c.p - 4, 1),
        |      least(c.p + 11, c.n) + 1)) AS pos
        |  FROM sh c JOIN h ON c.s = h.s WHERE c.doc_id % 10 != 0),
        |cov AS (SELECT doc_id, count(DISTINCT pos) AS covered
        |  FROM m GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(t.n AS BIGINT) AS n_tokens,
        |  CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered,
        |  round(1.0 - coalesce(cov.covered, 0) / greatest(t.n, 1), 4)
        |    AS clean_frac
        |FROM documents d JOIN t ON d.doc_id = t.doc_id
        |LEFT JOIN cov ON d.doc_id = cov.doc_id
        |WHERE d.doc_id % 10 != 0""".stripMargin,
    // weights = Laplace-smoothed doc-frequency odds ratio in integer
    // micro-units; DuckDB // floor == Spark div truncation on
    // nonnegative int64; unseen-token neutral weight 1e6
    "curation_quality_classifier" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(trim(text), ' ')) AS token
        |  FROM documents),
        |t AS (SELECT doc_id, token FROM toks WHERE len(token) > 0),
        |lab AS (SELECT doc_id, length(text) >= 500 AS pos
        |  FROM documents),
        |pres AS (SELECT DISTINCT t.token, t.doc_id, lab.pos
        |  FROM t JOIN lab USING (doc_id)),
        |w AS (SELECT token,
        |    ((sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1) * 1000000)
        |      // (sum(CASE WHEN pos THEN 0 ELSE 1 END) + 1)
        |      AS weight_micro
        |  FROM pres GROUP BY token),
        |sc AS (SELECT t.doc_id, count(*) AS n_tokens,
        |    sum(coalesce(w.weight_micro, 1000000)) AS score_micro
        |  FROM t LEFT JOIN w USING (token) GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sc.score_micro, 0) AS BIGINT) AS score_micro,
        |  coalesce(sc.score_micro, 0) >
        |    1000000 * coalesce(sc.n_tokens, 0) AS above_prior
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,
    "events_stream_enrich" ->
      """SELECT c.c_mktsegment AS mktsegment, count(*) AS events,
        |  CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "events_stream_throttled" ->
      """SELECT event_type, count(*) AS events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events GROUP BY 1""".stripMargin,
    "text_tokenize_ids" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(trim(text), ' ')) AS token
        |  FROM documents),
        |t AS (SELECT doc_id, token FROM toks WHERE len(token) > 0),
        |v AS (SELECT token, rank FROM (
        |    SELECT token, row_number() OVER
        |      (ORDER BY count(*) DESC, token) AS rank
        |    FROM t GROUP BY token) WHERE rank <= 50),
        |s AS (SELECT t.doc_id, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN v.rank IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_unk,
        |    CAST(sum(coalesce(v.rank, 0)) AS BIGINT) AS id_sum
        |  FROM t LEFT JOIN v ON t.token = v.token GROUP BY t.doc_id)
        |SELECT d.doc_id, CAST(coalesce(s.n_tokens, 0) AS BIGINT)
        |    AS n_tokens,
        |  CAST(coalesce(s.n_unk, 0) AS BIGINT) AS n_unk,
        |  CAST(coalesce(s.id_sum, 0) AS BIGINT) AS id_sum
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin,
    "text_bpe_pairs" ->
      """WITH words AS (SELECT unnest(string_split(trim(text), ' ')) AS w
        |  FROM documents),
        |wf AS (SELECT w, count(*) AS f FROM words WHERE len(w) >= 2
        |  GROUP BY w),
        |p AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, f
        |  FROM wf, unnest(range(1, len(w))) AS u(i))
        |SELECT pair, CAST(sum(f) AS BIGINT) AS occurrences
        |FROM p GROUP BY pair
        |ORDER BY occurrences DESC, pair LIMIT 50""".stripMargin,
    // 3 unrolled frontier rounds of 4-landmark BFS over the undirected
    // graph; NOT EXISTS is the visited anti-join, all hops integer
    "graph_closeness" ->
      s"""$SqlLandmarkBfs3
        |SELECT id, count(*) AS n_reached,
        |  CAST(sum(d) AS BIGINT) AS dist_sum
        |FROM v3 GROUP BY id""".stripMargin,
    // same unrolled BFS; 12/d is integral for d <= 4 so the harmonic
    // sum is exact int64 (landmark self rows d=0 excluded)
    "graph_harmonic" ->
      s"""$SqlLandmarkBfs3
        |SELECT id, CAST(sum(12 // d) AS BIGINT) AS harmonic_12
        |FROM v3 WHERE d > 0 GROUP BY id""".stripMargin,
    // 4 unrolled peel rounds (matches kTruss maxRounds; converged
    // rounds are no-ops, and the Spark side THROWS if 4 don't reach
    // the fixpoint) + one final support pass over the fixpoint set.
    // Each round's triangle CTE is MATERIALIZED once and referenced 3x
    // by the support union (the graph_kcore plain-CTE-inlining lesson)
    "graph_ktruss" -> {
      val base =
        """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |    l_partkey AS p FROM lineitem),
          |r0 AS MATERIALIZED (SELECT a.p AS id_a, b.p AS id_b
          |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
      def supportRound(i: Int): String =
        s""",
           |t$i AS MATERIALIZED (SELECT e1.id_a AS a, e1.id_b AS b,
           |  e2.id_b AS c FROM r${i - 1} e1
           |  JOIN r${i - 1} e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
           |  JOIN r${i - 1} e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b),
           |s$i AS MATERIALIZED (SELECT id_a, id_b, count(*) AS sup FROM (
           |  SELECT a AS id_a, b AS id_b FROM t$i
           |  UNION ALL SELECT a, c FROM t$i
           |  UNION ALL SELECT b, c FROM t$i) GROUP BY 1, 2)""".stripMargin
      val rounds = (1 to 4).map { i =>
        supportRound(i) +
          s""",
             |r$i AS MATERIALIZED (SELECT r.id_a, r.id_b FROM r${i - 1} r
             |  JOIN s$i USING (id_a, id_b) WHERE sup >= 1)""".stripMargin
      }.mkString
      base + rounds + supportRound(5) +
        """
          |SELECT r.id_a + 2000000000 AS id_a, r.id_b + 2000000000 AS id_b,
          |  CAST(s5.sup AS BIGINT) AS support
          |FROM r4 r JOIN s5 USING (id_a, id_b)""".stripMargin
    },
    // bigram-fit chain (text_bigram_fit's CTEs) + two int64 divisions:
    // per-doc ppm, then per-mille of the corpus mean; fixed relative
    // thresholds cut head/middle/tail
    "text_perplexity_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bgr
        |  FROM tok a JOIN tok b
        |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |cnt AS (SELECT bgr, count(*) AS c FROM bg GROUP BY bgr),
        |per AS (SELECT bg.doc_id, CAST(sum(c) AS BIGINT) AS ft,
        |  count(*) AS nb FROM bg JOIN cnt USING (bgr) GROUP BY bg.doc_id),
        |full0 AS (SELECT d.doc_id, coalesce(per.ft, 0) AS ft,
        |  coalesce(per.nb, 0) AS nb
        |  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
        |cm AS (SELECT greatest(CAST(sum(ft) AS BIGINT) * 1000 //
        |  greatest(CAST(sum(nb) AS BIGINT), 1), 1) AS cm FROM full0),
        |r AS (SELECT doc_id,
        |  (ft * 1000 // greatest(nb, 1)) * 1000 // cm.cm AS rel_pm
        |  FROM full0 CROSS JOIN cm)
        |SELECT doc_id, CAST(rel_pm AS BIGINT) AS rel_pm,
        |  CASE WHEN rel_pm < 980 THEN 'tail'
        |       WHEN rel_pm >= 1005 THEN 'head'
        |       ELSE 'middle' END AS bucket
        |FROM r""".stripMargin,
    // count-min chain: distinct-term counts -> 4 md5 rows mod 1024 ->
    // cell sums -> top-20 terms' row minima; unsigned-32-bit hex
    // parse keeps both engines positive (the hash-travel invariant)
    "curation_countmin" -> CountMinOracleSql,
    "curation_countmin_stream" -> CountMinOracleSql,

    // integer-exact BM25: per-term contribution = rational idf
    // surrogate (1000·(N−df+1) // (df+1)) times the exact saturation
    // ratio 44·A·tf // (20·A·tf + 6·A + 18·dl) with A = floor(avgdl);
    // all int64, so the per-doc sum is order-free and hash-exact.
    // Query terms mirror SparkEntry.Bm25Queries, pre-deduplicated.
    "text_bm25" -> (Bm25CtePrefix +
      """
        |SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 5""".stripMargin),
    // retrieval eval harness over the SAME bm25 run: qrels = docs
    // whose token list contains the query's first term; hits/first
    // rank/RR(ppm)/recall(pm) all truncating-int — oracle-exact
    "text_retrieval_metrics" -> (Bm25CtePrefix +
      """,
        |run AS (SELECT query_id, doc_id, rank FROM r WHERE rank <= 5),
        |ft(query_id, term) AS (VALUES
        |  (1, 'spark'), (2, 'hash'), (3, 'customer'), (4, 'slow')),
        |qr AS (SELECT ft.query_id, t.doc_id FROM ft
        |  JOIN t ON list_contains(t.w, ft.term)),
        |rel AS (SELECT query_id, count(*) AS rel_total FROM qr
        |  GROUP BY 1),
        |hit AS (SELECT r2.query_id, count(*) AS hits_at_k,
        |    min(r2.rank) AS fr
        |  FROM run r2 JOIN qr ON qr.query_id = r2.query_id
        |    AND qr.doc_id = r2.doc_id
        |  GROUP BY 1),
        |qs AS (SELECT DISTINCT query_id FROM run)
        |SELECT qs.query_id,
        |  CAST(coalesce(rel.rel_total, 0) AS BIGINT) AS rel_total,
        |  CAST(coalesce(hit.hits_at_k, 0) AS BIGINT) AS hits_at_k,
        |  CAST(coalesce(hit.fr, 0) AS INTEGER) AS first_rank,
        |  CAST(CASE WHEN hit.fr IS NULL THEN 0
        |    ELSE 1000000 // hit.fr END AS BIGINT) AS rr_ppm,
        |  CAST(CASE WHEN coalesce(rel.rel_total, 0) = 0 THEN 0
        |    ELSE (1000 * coalesce(hit.hits_at_k, 0)) // rel.rel_total
        |    END AS BIGINT) AS recall_pm
        |FROM qs LEFT JOIN rel USING (query_id)
        |  LEFT JOIN hit USING (query_id)""".stripMargin),
    // temperature mixing (T=2): integer sqrt weights, exact per-mille
    // rates, the mixSources epoch/keep machinery verbatim
    "curation_temperature_mix" ->
      """WITH d0 AS (SELECT doc_id,
        |    's' || CAST(CAST(floor(sqrt(doc_id % 100)) AS BIGINT)
        |      AS VARCHAR) AS source
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n FROM d0 GROUP BY 1),
        |w AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS w
        |  FROM c),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
        |r AS (SELECT source, (400 * w * 1000) // (tw * n) AS wpm
        |  FROM w CROSS JOIN t),
        |d AS (SELECT d0.doc_id, d0.source, r.wpm FROM d0
        |  JOIN r USING (source) WHERE wpm > 0),
        |e AS (SELECT doc_id, source, wpm,
        |    unnest(range(0, greatest(CAST(ceil(wpm / 1000.0) AS BIGINT),
        |      1))) AS e
        |  FROM d),
        |u AS (SELECT doc_id, source, wpm, e,
        |    CAST('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)
        |      || ':' || CAST(e AS VARCHAR)), 1, 8) AS BIGINT) AS u
        |  FROM e)
        |SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
        |FROM u WHERE u * 1000 < (wpm - e * 1000) * 4294967296""".stripMargin,
    // planted-template overlap: distinct (md5 text, source) pairs
    // self-joined on the key, ordered source pairs counted
    "curation_source_overlap" ->
      """WITH d AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0 THEN 'boilerplate notice number '
        |      || CAST((doc_id // 10) % 5 AS VARCHAR) ELSE text END
        |      AS text
        |  FROM documents),
        |t AS (SELECT DISTINCT md5(text) AS k, source FROM d)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS shared_texts
        |FROM t a JOIN t b ON a.k = b.k AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // bigram slice construction mirrored verbatim; short docs emit
    // their whole text as one gram on both engines
    "text_ngram_diversity" ->
      """WITH t AS (SELECT source, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |g AS (SELECT source, array_to_string(w[i:i+1], ' ') AS g
        |  FROM t, unnest(range(1, greatest(len(w) - 1, 1) + 1))
        |    AS u(i))
        |SELECT source, count(*) AS ngrams,
        |  count(DISTINCT g) AS distinct_ngrams,
        |  (1000 * count(DISTINCT g)) // count(*) AS diversity_pm
        |FROM g GROUP BY source""".stripMargin,
    // DPO/reward preference pairs: per-group quality extremes with
    // deterministic id tiebreaks and a minimum margin
    "curation_preference_pairs" ->
      """WITH d AS (SELECT doc_id, source AS group_key,
        |    CAST(length(text) AS BIGINT) AS q FROM documents),
        |c AS (SELECT group_key, doc_id AS chosen_id, q AS chosen_q,
        |    row_number() OVER (PARTITION BY group_key
        |      ORDER BY q DESC, doc_id) AS rn FROM d),
        |r AS (SELECT group_key, doc_id AS rejected_id, q AS rejected_q,
        |    row_number() OVER (PARTITION BY group_key
        |      ORDER BY q ASC, doc_id) AS rn FROM d)
        |SELECT c.group_key, c.chosen_id, c.chosen_q, r.rejected_id,
        |  r.rejected_q, c.chosen_q - r.rejected_q AS margin
        |FROM c JOIN r USING (group_key)
        |WHERE c.rn = 1 AND r.rn = 1
        |  AND c.chosen_q - r.rejected_q >= 1""".stripMargin,
    // cohort/offset arithmetic is truncating int64 division of
    // nonnegative epoch-micros — `div` (Spark) == `//` (DuckDB)
    "events_retention" ->
      """WITH f AS (SELECT user_id,
        |  min(epoch_us(ts)) // 604800000000 AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 604800000000 AS period FROM events)
        |SELECT CAST(f.cohort AS BIGINT) AS cohort_period,
        |  CAST(a.period - f.cohort AS BIGINT) AS period_offset,
        |  count(DISTINCT a.user_id) AS users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // exp(PMI) = pair_n·N² / (M·left_n·right_n): every factor an exact
    // int64 count, ONE division at the end (single-division rule), so
    // both engines produce identical doubles and an identical top-50
    "text_collocations" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id AS r, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |uni AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |bg AS (SELECT a.tok AS w1, b.tok AS w2, count(*) AS pair_n
        |  FROM tok a JOIN tok b ON a.r = b.r AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |tot AS (SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS nn,
        |  (SELECT CAST(sum(pair_n) AS BIGINT) FROM bg) AS mm)
        |SELECT bg.w1, bg.w2, CAST(bg.pair_n AS BIGINT) AS pair_n,
        |  CAST(u1.n AS BIGINT) AS left_n, CAST(u2.n AS BIGINT)
        |    AS right_n,
        |  round(CAST(bg.pair_n * tot.nn * tot.nn AS DOUBLE) /
        |    (tot.mm * u1.n * u2.n), 6) AS score
        |FROM bg JOIN uni u1 ON u1.tok = bg.w1
        |JOIN uni u2 ON u2.tok = bg.w2 CROSS JOIN tot
        |WHERE bg.pair_n >= 5
        |ORDER BY score DESC, bg.w1, bg.w2 LIMIT 50""".stripMargin,
    // TextRank unroll: 2 int64 fixed-point iterations over the
    // vocab-bounded symmetrized adjacency graph; every contribution is
    // an integral floor division of positive ints (DuckDB // == Spark
    // div there), every rank a pure int64 sum — exact both engines
    "text_textrank" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents),
        |tok AS (SELECT doc_id AS r, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM t),
        |uni AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |voc AS (SELECT tok AS w FROM uni WHERE n >= 5),
        |bg AS (SELECT a.tok AS w1, b.tok AS w2, count(*) AS c
        |  FROM tok a JOIN tok b ON a.r = b.r AND b.pos = a.pos + 1
        |  WHERE a.tok <> b.tok GROUP BY 1, 2),
        |und AS (SELECT u, v, CAST(sum(c) AS BIGINT) AS w FROM (
        |    SELECT w1 AS u, w2 AS v, c FROM bg
        |    UNION ALL SELECT w2, w1, c FROM bg) GROUP BY 1, 2),
        |ed AS (SELECT undv.u, undv.v, undv.w, wd.wd FROM
        |  (SELECT und.* FROM und
        |     JOIN voc a ON a.w = und.u JOIN voc b ON b.w = und.v) undv
        |  JOIN (SELECT u, CAST(sum(w) AS BIGINT) AS wd FROM
        |    (SELECT und.* FROM und
        |       JOIN voc a ON a.w = und.u JOIN voc b ON b.w = und.v)
        |    GROUP BY u) wd ON wd.u = undv.u),
        |r0 AS (SELECT w AS word, CAST(10000 AS BIGINT) AS rank_q
        |  FROM voc),
        |r1 AS (SELECT v.w AS word,
        |  1500 + coalesce(s.sm, 0) AS rank_q FROM voc v
        |  LEFT JOIN (SELECT ed.v AS word,
        |    CAST(sum((r0.rank_q * 85 * ed.w) // (100 * ed.wd))
        |      AS BIGINT) AS sm
        |    FROM ed JOIN r0 ON r0.word = ed.u GROUP BY ed.v) s
        |  ON s.word = v.w),
        |r2 AS (SELECT v.w AS word,
        |  1500 + coalesce(s.sm, 0) AS rank_q FROM voc v
        |  LEFT JOIN (SELECT ed.v AS word,
        |    CAST(sum((r1.rank_q * 85 * ed.w) // (100 * ed.wd))
        |      AS BIGINT) AS sm
        |    FROM ed JOIN r1 ON r1.word = ed.u GROUP BY ed.v) s
        |  ON s.word = v.w)
        |SELECT word, rank_q FROM r2
        |ORDER BY rank_q DESC, word LIMIT 30""".stripMargin,
    // the synthesized page plants exactly two keepable lines: the
    // document text + '.' (line 1) and a constant sentence (line 8);
    // the other six each violate one C4 line rule by construction
    "curation_line_filters" ->
      """SELECT doc_id,
        |  text || '.' || chr(10) ||
        |    'all tokens pass these line rules okay.' AS clean_text,
        |  CAST(2 AS BIGINT) AS kept_lines,
        |  CAST(6 AS BIGINT) AS dropped_lines
        |FROM documents""".stripMargin,
    // z² > k² multiplied through by the positive denominators:
    // (n·x − sum)² > k²·(n·sumsq − sum²); DuckDB HUGEINT == Spark
    // DECIMAL(38,0), both exact — boundary cases engine-identical
    "events_anomaly" ->
      """WITH b AS (SELECT event_id, event_type,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS s,
        |  CAST(sum(cents * cents) AS BIGINT) AS sq
        |  FROM b GROUP BY event_type)
        |SELECT b.event_id, b.event_type, b.cents
        |FROM b JOIN m USING (event_type)
        |WHERE m.n >= 2 AND
        |  (CAST(m.n AS HUGEINT) * b.cents - m.s) *
        |  (CAST(m.n AS HUGEINT) * b.cents - m.s) >
        |  9 * (CAST(m.n AS HUGEINT) * m.sq -
        |       CAST(m.s AS HUGEINT) * m.s)""".stripMargin,
    // the REAL incremental run must equal the batch report verbatim
    "events_stream_anomaly" ->
      """WITH b AS (SELECT event_id, event_type,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS s,
        |  CAST(sum(cents * cents) AS BIGINT) AS sq
        |  FROM b GROUP BY event_type)
        |SELECT b.event_id, b.event_type, b.cents
        |FROM b JOIN m USING (event_type)
        |WHERE m.n >= 2 AND
        |  (CAST(m.n AS HUGEINT) * b.cents - m.s) *
        |  (CAST(m.n AS HUGEINT) * b.cents - m.s) >
        |  9 * (CAST(m.n AS HUGEINT) * m.sq -
        |       CAST(m.s AS HUGEINT) * m.s)""".stripMargin,
    // raw-cosine threshold (identical double chains both engines),
    // round(4) only for display
    "ann_radius" ->
      s"""WITH d AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  ${sqlDot("a", "a")} AS aa, ${sqlDot("b", "b")} AS bb, ${sqlDot("a", "b")} AS ab
         | FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id != a.vec_id),
         |r AS (SELECT query_id, neighbor_id,
         |  ab/(sqrt(aa)*sqrt(bb)) AS cos FROM d)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cosine
         |FROM r WHERE cos >= 0.2""".stripMargin,
    // micro-unit quantization (⌊x·10⁶⌋ on the exact float32→double
    // rendering) makes the per-cell sums pure int64 — identical under
    // any accumulation order in either engine; ONE final division
    "embed_centroids" ->
      """WITH x AS (SELECT label,
        |  CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |    AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT label, dim, count(*) AS n,
        |  CAST(sum(q) AS BIGINT) AS sum_q,
        |  round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS mean_r
        |FROM x GROUP BY label, dim""".stripMargin,
    // total degree (in+out) over placed ∪ contains; contains edges are
    // DISTINCT (orderkey, partkey) per the edge-identity collapse
    "graph_degree_hist" ->
      """WITH e AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS src,
        |    CAST(o_orderkey + 1000000000 AS BIGINT) AS dst FROM orders
        |  UNION ALL
        |  SELECT DISTINCT CAST(l_orderkey + 1000000000 AS BIGINT),
        |    CAST(l_partkey + 2000000000 AS BIGINT) FROM lineitem),
        |d AS (SELECT id, count(*) AS degree FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
        |  GROUP BY id)
        |SELECT CAST(degree AS BIGINT) AS degree, count(*) AS vertices
        |FROM d GROUP BY 1""".stripMargin,
    "graph_assortativity" ->
      """WITH e AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS src,
        |    CAST(o_orderkey + 1000000000 AS BIGINT) AS dst FROM orders
        |  UNION ALL
        |  SELECT DISTINCT CAST(l_orderkey + 1000000000 AS BIGINT),
        |    CAST(l_partkey + 2000000000 AS BIGINT) FROM lineitem),
        |d AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
        |  GROUP BY id)
        |SELECT count(*) AS n_edges,
        |  CAST(sum(a.degree) AS BIGINT) AS sum_dx,
        |  CAST(sum(b.degree) AS BIGINT) AS sum_dy,
        |  CAST(sum(a.degree * b.degree) AS BIGINT) AS sum_dxdy,
        |  CAST(sum(a.degree * a.degree) AS BIGINT) AS sum_dx2,
        |  CAST(sum(b.degree * b.degree) AS BIGINT) AS sum_dy2
        |FROM e JOIN d a ON e.src = a.id JOIN d b ON e.dst = b.id""".stripMargin,
    "events_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS transitions
        |FROM s WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, next_type""".stripMargin,
    // normalization (lower, punct→space, collapse, trim) must fold the
    // planted noisy twins onto their originals; 'g' flags = replace-all
    "dedup_normalized" ->
      """WITH s AS (
        |  SELECT doc_id*2 AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id*2+1, upper(replace(text, ' ', '  ')) || ' !!'
        |  FROM documents WHERE doc_id % 3 = 0),
        |n AS (SELECT id, trim(regexp_replace(regexp_replace(
        |  lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))
        |  AS norm_text FROM s)
        |SELECT min(id) AS id, norm_text, count(*) AS dup_count
        |FROM n GROUP BY norm_text""".stripMargin,
    // brute-force levenshtein over the same typo-twin synthesis; the
    // engine's pigeonhole candidates must reproduce it exactly
    "dedup_edit_distance" ->
      """WITH s AS (
        |  SELECT doc_id*2 AS id, lower(substr(text, 1, 24)) AS str
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id*2+1,
        |    substr(lower(substr(text, 1, 24)), 1, doc_id % 20) || 'q' ||
        |    substr(lower(substr(text, 1, 24)), (doc_id % 20) + 2)
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.str, b.str) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.id < b.id
        |WHERE levenshtein(a.str, b.str) <= 1""".stripMargin,
    // aggregates over the SOURCE parquet must survive the ORC hop
    // gen-1 (even doc_id) rows must read back with NULL lang/n_chars
    "source_schema_evolution" ->
      """SELECT source, count(*) AS docs,
        |  count(CASE WHEN doc_id % 2 = 1 THEN lang END)
        |    AS lang_present,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY source""".stripMargin,
    "source_orc" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS text_h
        |FROM documents GROUP BY source""".stripMargin,
    // MERGE final state, expressed directly: %7 keys deleted; %3 keys
    // (that survive) carry the v2 text; %11 keys also insert a new row
    // in the shifted id space
    "source_merge_upsert" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)
        |    AS BIGINT) AS text_h,
        |  lang, source
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' [v2]' ELSE text END
        |      AS text,
        |    lang, source
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, 'new-' || CAST(doc_id AS VARCHAR),
        |    'xx', 'cdc'
        |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin,
    // as-of-2 sees exactly the first two committed thirds of the corpus
    "source_time_travel" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents WHERE doc_id % 3 < 2 GROUP BY source""".stripMargin,
    // Apriori level-2 rules: all-integer support/confidence/lift on the
    // distinct basket-membership projection; `//` == Spark `div` on
    // nonnegative int64
    "graph_assoc_rules" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS src,
        |  CAST(l_partkey + 2000000000 AS BIGINT) AS dst FROM lineitem),
        |p AS (SELECT a.dst AS da, b.dst AS db, count(*) AS support
        |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |c AS (SELECT dst AS item, count(*) AS cnt FROM e GROUP BY 1),
        |nb AS (SELECT count(DISTINCT src) AS baskets FROM e),
        |d AS (SELECT da AS ante, db AS cons, support FROM p
        |  UNION ALL SELECT db, da, support FROM p)
        |SELECT d.ante, d.cons, CAST(d.support AS BIGINT) AS support,
        |  CAST(ca.cnt AS BIGINT) AS cnt_ante,
        |  CAST(d.support * 1000 // ca.cnt AS BIGINT) AS conf_pm,
        |  CAST(d.support * nb.baskets * 1000 // (ca.cnt * cc.cnt)
        |    AS BIGINT) AS lift_pm
        |FROM d JOIN c ca ON ca.item = d.ante
        |JOIN c cc ON cc.item = d.cons, nb
        |ORDER BY conf_pm DESC, support DESC, ante, cons
        |LIMIT 50""".stripMargin,
    "graph_jaccard" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS src,
        |  CAST(l_partkey + 2000000000 AS BIGINT) AS dst FROM lineitem),
        |p AS (SELECT a.dst AS id_a, b.dst AS id_b, count(*) AS shared
        |  FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |c AS (SELECT dst AS item, count(*) AS cnt FROM e GROUP BY 1)
        |SELECT p.id_a, p.id_b, CAST(p.shared AS BIGINT) AS shared,
        |  CAST(p.shared * 1000 // (ca.cnt + cb.cnt - p.shared)
        |    AS BIGINT) AS j_pm
        |FROM p JOIN c ca ON ca.item = p.id_a
        |JOIN c cb ON cb.item = p.id_b
        |ORDER BY j_pm DESC, shared DESC, id_a, id_b
        |LIMIT 50""".stripMargin,
    // daily-grid LOCF gap fill: per-bucket last observation by
    // (ts, event_id), grid from per-user min/max bucket, carried
    // forward with last_value IGNORE NULLS over grid rows
    "events_gapfill" ->
      """WITH e AS (SELECT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS bucket,
        |  ts, event_id, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |o AS (SELECT user_id, bucket, cents FROM (
        |  SELECT user_id, bucket, cents, row_number() OVER (
        |    PARTITION BY user_id, bucket ORDER BY ts DESC, event_id DESC)
        |    AS rn FROM e) WHERE rn = 1),
        |r AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        |  FROM e GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
        |  FROM r),
        |f AS (SELECT g.user_id, g.bucket, o.cents AS obs FROM g
        |  LEFT JOIN o ON o.user_id = g.user_id AND o.bucket = g.bucket)
        |SELECT user_id, bucket,
        |  last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cents,
        |  CAST(CASE WHEN obs IS NULL THEN 0 ELSE 1 END AS INTEGER)
        |    AS observed
        |FROM f""".stripMargin,
    // exact type-1 discrete quantiles: cumulative over DISTINCT cent
    // values, q = smallest value with cum*1000 >= p*n (pure int64)
    "events_quantiles" ->
      """WITH c AS (SELECT event_type,
        |  CAST(floor(value * 100) AS BIGINT) AS cents, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, cents,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER (PARTITION BY event_type) AS n FROM c),
        |p AS (SELECT unnest([500, 900, 990]) AS p_pm)
        |SELECT event_type, p_pm, CAST(min(cents) AS BIGINT) AS q_cents
        |FROM m, p WHERE cum * 1000 >= p_pm * n
        |GROUP BY 1, 2""".stripMargin,
    // double-sweep diameter: two 12-round unrolled single-source BFS
    // chains (converged rounds are no-ops; the Spark side THROWS past
    // 12, so both engines describe the same fixpoint); pivot = max
    // distance then min id; output = the second sweep's max-distance
    // group
    "graph_diameter" -> {
      def unroll(pfx: String, n: Int): String =
        (1 to n).map { i =>
          val frontier = if (i == 1) s"${pfx}v0" else s"${pfx}f${i - 1}"
          s""",
             |${pfx}f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS id
             |  FROM $frontier f JOIN e ON e.src = f.id
             |  WHERE NOT EXISTS (SELECT 1 FROM ${pfx}v${i - 1} v
             |    WHERE v.id = e.dst)),
             |${pfx}v$i AS MATERIALIZED (SELECT * FROM ${pfx}v${i - 1}
             |  UNION ALL SELECT id, $i FROM ${pfx}f$i)""".stripMargin
        }.mkString
      """WITH e0 AS MATERIALIZED (
        |  SELECT CAST(o_custkey AS BIGINT) AS src,
        |    o_orderkey + 1000000000 AS dst FROM orders
        |  UNION ALL
        |  SELECT DISTINCT l_orderkey + 1000000000,
        |    l_partkey + 2000000000 FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
        |  WHERE src <> dst),
        |av0 AS MATERIALIZED (SELECT min(least(src, dst)) AS id, 0 AS d
        |  FROM e)""".stripMargin +
        unroll("a", 12) +
        """,
          |p AS (SELECT id FROM av12 ORDER BY d DESC, id LIMIT 1),
          |bv0 AS MATERIALIZED (SELECT id, 0 AS d FROM p)""".stripMargin +
        unroll("b", 12) +
        """
          |SELECT (SELECT id FROM p) AS pivot_id,
          |  CAST(d AS BIGINT) AS diameter_lb, count(*) AS peripheral
          |FROM bv12 GROUP BY d ORDER BY d DESC LIMIT 1""".stripMargin
    },
    // maximal-matching unroll (the graph_mis pattern on the line
    // graph): per round, an edge wins iff its priority is the min at
    // BOTH endpoints; winners' endpoints deactivate their edges
    "graph_matching" -> {
      val base =
        """WITH ce AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
          |    l_partkey + 2000000000 AS p FROM lineitem),
          |e0 AS MATERIALIZED (SELECT a.p AS id_a, b.p AS id_b
          |  FROM ce a JOIN ce b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |ea0 AS MATERIALIZED (SELECT id_a, id_b,
          |  (CAST('0x' || substr(md5(CAST(id_a AS VARCHAR) || ':' ||
          |     CAST(id_b AS VARCHAR)), 1, 8) AS BIGINT)
          |   % 1073741824) * 2147483648
          |  + (id_a + id_b) % 2147483648 AS p FROM e0)""".stripMargin
      val rounds = (1 to 8).map { i =>
        s""",
           |vm$i AS MATERIALIZED (SELECT v, min(p) AS mn FROM (
           |  SELECT id_a AS v, p FROM ea${i - 1}
           |  UNION ALL SELECT id_b, p FROM ea${i - 1}) GROUP BY v),
           |w$i AS MATERIALIZED (SELECT e.id_a, e.id_b FROM ea${i - 1} e
           |  JOIN vm$i a ON a.v = e.id_a AND a.mn = e.p
           |  JOIN vm$i b ON b.v = e.id_b AND b.mn = e.p),
           |ea$i AS MATERIALIZED (SELECT * FROM ea${i - 1} e
           |  WHERE NOT EXISTS (SELECT 1 FROM w$i w
           |    WHERE w.id_a = e.id_a OR w.id_a = e.id_b
           |       OR w.id_b = e.id_a OR w.id_b = e.id_b))""".stripMargin
      }.mkString
      base + rounds +
        """
          |SELECT id_a, id_b FROM (
          |  SELECT * FROM w1 UNION ALL SELECT * FROM w2
          |  UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
          |  UNION ALL SELECT * FROM w5 UNION ALL SELECT * FROM w6
          |  UNION ALL SELECT * FROM w7 UNION ALL SELECT * FROM w8)"""
          .stripMargin
    },
    // MaxSim: per (query, neighbor, query-token) the max token cosine
    // (each cosine = the engine-exact double dot/norm single division
    // over a 16-element slice), then the LEFT-FOLDED exact sum — the
    // identical double expression tree the Spark side evaluates
    "embed_maxsim" -> {
      def tdot(ae: String, as: String, be: String, bs: String): String =
        s"list_sum([CAST($ae[i + $as * 16] AS DOUBLE) * " +
        s"CAST($be[i + $bs * 16] AS DOUBLE) for i in range(1, 17)])"
      def m(t: Int): String = s"max(CASE WHEN qt = $t THEN m END)"
      s"""WITH pr AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  q.embedding AS qe, b.embedding AS be
         |  FROM embeddings q JOIN embeddings b
         |    ON q.vec_id < 10 AND b.vec_id <> q.vec_id),
         |c AS (SELECT query_id, neighbor_id, st.s AS qt,
         |  max(${tdot("qe", "st.s", "be", "tt.t")}
         |    / (sqrt(${tdot("qe", "st.s", "qe", "st.s")})
         |       * sqrt(${tdot("be", "tt.t", "be", "tt.t")}))) AS m
         |  FROM pr, (SELECT unnest(range(4)) AS s) st,
         |    (SELECT unnest(range(4)) AS t) tt
         |  GROUP BY 1, 2, 3),
         |v AS (SELECT query_id, neighbor_id,
         |  ((${m(0)} + ${m(1)}) + ${m(2)}) + ${m(3)} AS score
         |  FROM c GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, score,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS rank FROM v)
         |SELECT query_id, neighbor_id, round(score, 4) AS maxsim,
         |  CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5"""
        .stripMargin
    },
    // winsorized stats: type-1 quantile clip bounds from the same
    // value-compressed substrate as events_quantiles, then clipped
    // int64 moments
    "events_winsorize" ->
      """WITH c AS (SELECT event_type,
        |  CAST(floor(value * 100) AS BIGINT) AS cents, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, cents,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER (PARTITION BY event_type) AS n FROM c),
        |p AS (SELECT unnest([10, 990]) AS p_pm),
        |q AS (SELECT event_type, p_pm, CAST(min(cents) AS BIGINT)
        |    AS q_cents
        |  FROM m, p WHERE cum * 1000 >= p_pm * n GROUP BY 1, 2),
        |b AS (SELECT event_type,
        |    min(CASE WHEN p_pm = 10 THEN q_cents END) AS lo,
        |    min(CASE WHEN p_pm = 990 THEN q_cents END) AS hi
        |  FROM q GROUP BY 1),
        |e AS (SELECT e.event_type,
        |    CAST(floor(e.value * 100) AS BIGINT) AS cents, b.lo, b.hi
        |  FROM events e JOIN b USING (event_type))
        |SELECT event_type, count(*) AS events,
        |  CAST(min(lo) AS BIGINT) AS lo_cents,
        |  CAST(min(hi) AS BIGINT) AS hi_cents,
        |  CAST(sum(greatest(lo, least(hi, cents))) AS BIGINT)
        |    AS clipped_cents_sum,
        |  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS capped_low,
        |  CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS capped_high
        |FROM e GROUP BY 1""".stripMargin,
    // ROLLUP grouping sets with sentinel-rendered levels; GROUPING()
    // bit order (first arg most significant) matches Spark grouping_id
    "events_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  CAST(coalesce(hr, -1) AS INTEGER) AS "hour",
        |  CAST(GROUPING(event_type, hr) AS INTEGER) AS gid,
        |  count(*) AS events, CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
        |GROUP BY ROLLUP (event_type, hr)""".stripMargin,
    // integer OLS: DuckDB sum(BIGINT) is HUGEINT — cast the outputs;
    // floor division made explicit by the sign split on both engines
    "events_trend" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |d0 AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
        |xy AS (SELECT d.event_type,
        |  CAST(date_diff('day', d0.d0, d.day) AS BIGINT) AS x, y
        |  FROM daily d JOIN d0 USING (event_type)),
        |m AS (SELECT event_type, count(*) AS n_days, sum(x) AS sx,
        |  sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM xy GROUP BY 1),
        |t AS (SELECT event_type, n_days,
        |  n_days * sxy - sx * sy AS num0,
        |  n_days * sxx - sx * sx AS den FROM m)
        |SELECT event_type, n_days,
        |  CAST(CASE WHEN den = 0 THEN 0 ELSE num0 END AS BIGINT) AS num,
        |  CAST(den AS BIGINT) AS den,
        |  CAST(CASE WHEN den = 0 THEN 0
        |    WHEN num0 >= 0 THEN (1000 * num0) // den
        |    ELSE -((1000 * (-num0) + den - 1) // den) END AS BIGINT)
        |    AS slope_milli
        |FROM t""".stripMargin,
    // CUSUM peak: same integer chain; row_number ties and the
    // max(struct(dev, -k)) earliest-day tie-break mirror exactly
    "events_changepoint" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day, y,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) AS BIGINT) AS k,
        |  sum(y) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  count(*) OVER (PARTITION BY event_type) AS n,
        |  sum(y) OVER (PARTITION BY event_type) AS s FROM daily),
        |d AS (SELECT event_type, day, abs(n * cum - k * s) AS dev, k
        |  FROM c),
        |r AS (SELECT event_type, day, dev, row_number() OVER (
        |  PARTITION BY event_type ORDER BY dev DESC, k) AS rn FROM d)
        |SELECT event_type, day AS change_day, CAST(dev AS BIGINT) AS dev
        |FROM r WHERE rn = 1""".stripMargin,
    // hashing trick: md5-uint32 bucket per token, 16 FILTER counts
    "text_hashed_features" ->
      (0 until 16).map(j =>
        s"  count(*) FILTER (WHERE b = $j) AS f$j").mkString(
        """SELECT doc_id,
          |""".stripMargin, ",\n", """
          |FROM (SELECT doc_id,
          |  CAST('0x' || substr(md5('feat:' || t), 1, 8) AS BIGINT)
          |    % 16 AS b
          |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' '))
          |    AS t FROM documents))
          |GROUP BY 1""".stripMargin),
    // CUBE face; DuckDB dayofweek is 0=Sunday vs Spark's 1=Sunday
    "events_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  CAST(coalesce(dw, -1) AS INTEGER) AS dow,
        |  CAST(GROUPING(event_type, dw) AS INTEGER) AS gid,
        |  count(*) AS events, CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM (SELECT event_type,
        |  CAST(dayofweek(ts) + 1 AS INTEGER) AS dw,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
        |GROUP BY CUBE (event_type, dw)""".stripMargin,
    // explicit-value pivot == FILTER aggregates; absent cells are 0
    "events_pivot" ->
      Seq("click", "error", "purchase", "signup", "view").map(t =>
        s"""  count(*) FILTER (WHERE event_type = '$t') AS ${t}_events,
           |  CAST(coalesce(sum(CASE WHEN event_type = '$t'
           |    THEN cents END), 0) AS BIGINT) AS ${t}_cents""".stripMargin)
        .mkString(
          """SELECT CAST(ts AS DATE) AS day,
            |""".stripMargin, ",\n", """
            |FROM (SELECT ts, event_type,
            |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
            |GROUP BY 1""".stripMargin),
    // decile cutpoints from the distinct-value cumulative histogram;
    // bucket = #cutpoints strictly below the metric, ties together
    "curation_score_buckets" ->
      """WITH c AS (SELECT n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1),
        |t AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
        |  sum(c) OVER () AS n FROM c),
        |q AS (SELECT i, min(v) AS q FROM t,
        |  (SELECT unnest(generate_series(1, 9)) AS i)
        |  WHERE cum * 10 >= i * n GROUP BY i)
        |SELECT d.doc_id, d.n_chars,
        |  CAST(coalesce(max(CASE WHEN d.n_chars > q.q THEN q.i END), 0)
        |    AS INTEGER) AS bucket
        |FROM documents d LEFT JOIN q ON d.n_chars > q.q
        |GROUP BY 1, 2""".stripMargin,
    // A-ES weighted sample: max-of-w md5 tickets, string-lexicographic
    // ranking (identical hex in any engine), top-50 by ticket
    "curation_weighted_sample" ->
      """WITH w AS (SELECT doc_id,
        |  CAST(1 + least(n_chars // 400, 7) AS BIGINT) AS w
        |  FROM documents),
        |t AS (SELECT doc_id, w,
        |  md5('wsample:' || CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(i AS VARCHAR)) AS tk
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, w)) AS i
        |    FROM w)),
        |m AS (SELECT doc_id, max(w) AS w, max(tk) AS ticket FROM t
        |  GROUP BY doc_id)
        |SELECT doc_id, w, ticket FROM m
        |ORDER BY ticket DESC, doc_id LIMIT 50""".stripMargin,
    // inverted-index summary: df/cf per token + the posting-list head
    // ("doc:tf" for the 5 smallest doc ids)
    "text_inverted_index" ->
      """WITH t AS (SELECT doc_id,
        |  unnest(string_split(trim(text), ' ')) AS token FROM documents),
        |tf AS (SELECT token, doc_id, count(*) AS tf FROM t
        |  WHERE length(token) > 0 GROUP BY 1, 2),
        |agg AS (SELECT token, count(*) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf,
        |  array_to_string((list(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(tf AS VARCHAR) ORDER BY doc_id))[1:5], ',') AS postings
        |  FROM tf GROUP BY token)
        |SELECT token, df, cf, postings FROM agg
        |WHERE df >= 3""".stripMargin,
    // exact mutual-kNN graph: directed top-3 by raw cosine (tie-break
    // dst), mutual = reverse edge also in top-3; t MATERIALIZED so the
    // self-join doesn't recompute the n^2 dot products
    // same md5-uint32 draw + self-collision bump; j is INT like
    // Spark's sequence(1, k) element type
    "embed_negative_samples" ->
      """WITH cnt AS (SELECT count(*) AS n FROM embeddings),
        |a AS (SELECT vec_id, unnest(generate_series(1, 4)) AS j
        |  FROM embeddings),
        |c AS (SELECT vec_id, j,
        |  CAST('0x' || substr(md5('neg:' || CAST(vec_id AS VARCHAR)
        |    || ':' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT) % cnt.n
        |    AS c, cnt.n AS n
        | FROM a, cnt)
        |SELECT vec_id, CAST(j AS INTEGER) AS j,
        |  CAST(CASE WHEN c = vec_id THEN (c + 1) % n ELSE c END
        |    AS BIGINT) AS neg_id
        |FROM c""".stripMargin,
    // mutual argmax both ways; row_number ties (cos DESC, id) match
    // the Spark max(struct(cos, -id)) tie-break exactly
    "embed_bitext_pairs" ->
      s"""WITH s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |  ${sqlDot("a", "b")} /
         |    (sqrt(${sqlDot("a", "a")}) * sqrt(${sqlDot("b", "b")}))
         |    AS c
         | FROM embeddings a JOIN embeddings b
         |   ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
         |lb AS (SELECT src, dst, c FROM (SELECT src, dst, c,
         |  row_number() OVER (PARTITION BY src ORDER BY c DESC, dst)
         |    AS rn FROM s) WHERE rn = 1),
         |rb AS (SELECT src, dst FROM (SELECT src, dst,
         |  row_number() OVER (PARTITION BY dst ORDER BY c DESC, src)
         |    AS rn FROM s) WHERE rn = 1)
         |SELECT lb.src, lb.dst, round(lb.c, 4) AS cosine
         |FROM lb JOIN rb ON lb.src = rb.src AND lb.dst = rb.dst"""
        .stripMargin,
    "embed_knn_graph" ->
      s"""WITH d AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |  ${sqlDot("a", "a")} AS aa, ${sqlDot("b", "b")} AS bb,
         |  ${sqlDot("a", "b")} AS ab
         | FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id),
         |r AS (SELECT src, dst, ab/(sqrt(aa)*sqrt(bb)) AS cos,
         |  row_number() OVER (PARTITION BY src
         |    ORDER BY ab/(sqrt(aa)*sqrt(bb)) DESC, dst) AS rank FROM d),
         |t AS MATERIALIZED (SELECT src, dst, rank, cos FROM r
         |  WHERE rank <= 3)
         |SELECT t.src, t.dst, CAST(t.rank AS INTEGER) AS rank,
         |  round(t.cos, 4) AS cosine,
         |  CAST(CASE WHEN m.src IS NULL THEN 0 ELSE 1 END AS INTEGER)
         |    AS mutual
         |FROM t LEFT JOIN t m ON m.src = t.dst AND m.dst = t.src""".stripMargin,
    // salted-md5 argmin walks, unrolled step by step over the
    // undirected adjacency (min of md5||padded-dst == the engine's
    // partial-aggregable choice, collision ties included)
    "graph_walks" -> {
      def step(k: Int): String =
        s"""s$k AS (SELECT walk_id, CAST(substr(min(
           |  md5('walk:' || CAST(walk_id AS VARCHAR) || ':$k:' ||
           |    CAST(dst AS VARCHAR)) ||
           |  lpad(CAST(dst AS VARCHAR), 12, '0')), 33) AS BIGINT) AS cur
           |  FROM s${k - 1} JOIN a ON a.src = s${k - 1}.cur
           |  GROUP BY walk_id)""".stripMargin
      s"""WITH a AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT CAST(o_custkey AS BIGINT) AS src,
         |      CAST(o_orderkey + 1000000000 AS BIGINT) AS dst FROM orders
         |    UNION ALL
         |    SELECT CAST(o_orderkey + 1000000000 AS BIGINT),
         |      CAST(o_custkey AS BIGINT) FROM orders
         |    UNION ALL
         |    SELECT CAST(l_orderkey + 1000000000 AS BIGINT),
         |      CAST(l_partkey + 2000000000 AS BIGINT) FROM lineitem
         |    UNION ALL
         |    SELECT CAST(l_partkey + 2000000000 AS BIGINT),
         |      CAST(l_orderkey + 1000000000 AS BIGINT) FROM lineitem)),
         |s0 AS (SELECT CAST(c_custkey AS BIGINT) AS walk_id,
         |  CAST(c_custkey AS BIGINT) AS cur FROM customer
         |  WHERE c_nationkey = 1),
         |${step(1)},
         |${step(2)},
         |${step(3)},
         |${step(4)}
         |SELECT walk_id, 0 AS step, cur AS vertex FROM s0
         |UNION ALL SELECT walk_id, 1, cur FROM s1
         |UNION ALL SELECT walk_id, 2, cur FROM s2
         |UNION ALL SELECT walk_id, 3, cur FROM s3
         |UNION ALL SELECT walk_id, 4, cur FROM s4""".stripMargin
    },
    // theta semantics replicated directly (the engine's bucket
    // equi-join must be invisible in the result)
    "events_interval_join" ->
      """WITH p AS (SELECT CAST(i AS BIGINT) AS period_id,
        |  1704067200 + i * 259200 AS s0,
        |  1704067200 + i * 259200 + 86400 AS e0
        |  FROM (SELECT unnest(generate_series(0, 9)) AS i)),
        |ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT p.period_id, count(*) AS events,
        |  CAST(sum(ev.cents) AS BIGINT) AS cents_sum
        |FROM p JOIN ev ON ev.sec >= p.s0 AND ev.sec < p.e0
        |GROUP BY 1""".stripMargin,
    "curation_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents
        |  WHERE doc_id % 7 != 0),
        |b AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END)
        |    AS h
        |  FROM documents WHERE doc_id % 5 != 0)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.h IS NULL THEN 'added'
        |       WHEN b.h IS NULL THEN 'removed'
        |       WHEN a.h = b.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL JOIN b ON a.doc_id = b.doc_id""".stripMargin,
    "events_session_paths" ->
      """WITH g AS (SELECT user_id, event_id, ts, event_type,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_ts FROM events),
        |s AS (SELECT user_id, event_id, ts, event_type,
        |  CAST(sum(CASE WHEN prev_ts IS NULL OR
        |    CAST(floor(epoch(ts)) AS BIGINT) -
        |    CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS session_id FROM g),
        |p AS (SELECT user_id, session_id,
        |  array_to_string((list(event_type ORDER BY ts, event_id))[1:5],
        |    '>') AS path
        |  FROM s GROUP BY user_id, session_id)
        |SELECT path, count(*) AS sessions FROM p
        |GROUP BY path ORDER BY sessions DESC, path LIMIT 20""".stripMargin,
    // integer-exact prototype outliers: micro-unit quantization, floor-
    // mean centroid, dot²·10⁶ < τ²·|x|²·|m|² in HUGEINT (== DECIMAL38)
    "embed_prototype_outliers" ->
      """WITH q AS (SELECT vec_id, label,
        |  [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |    for i in range(1, 65)] AS qx FROM embeddings),
        |c AS (SELECT label, i AS dim,
        |  CAST(sum(qx[i]) AS BIGINT) // count(*) AS m
        |  FROM q, (SELECT unnest(generate_series(1, 64)) AS i)
        |  GROUP BY label, i),
        |cv AS (SELECT label, list(m ORDER BY dim) AS mv FROM c
        |  GROUP BY label),
        |s AS (SELECT vec_id, q.label,
        |  CAST(list_sum([qx[i] * mv[i] for i in range(1, 65)])
        |    AS BIGINT) AS dot_q,
        |  CAST(list_sum([qx[i] * qx[i] for i in range(1, 65)])
        |    AS BIGINT) AS nx,
        |  CAST(list_sum([mv[i] * mv[i] for i in range(1, 65)])
        |    AS BIGINT) AS nm
        | FROM q JOIN cv ON cv.label = q.label)
        |SELECT vec_id, label, dot_q FROM s
        |WHERE dot_q < 0 OR
        |  CAST(dot_q AS HUGEINT) * dot_q * 1000000 <
        |  10000 * CAST(nx AS HUGEINT) * nm""".stripMargin,
    // mutual-kNN clustering: top-3 edges, mutual + raw cos >= 0.35,
    // recursive-CTE components, min-id canonical; every vector reported
    "embed_knn_clusters" ->
      s"""WITH RECURSIVE
         |d AS (SELECT a.vec_id AS src, b.vec_id AS dst,
         |  ${sqlDot("a", "a")} AS aa, ${sqlDot("b", "b")} AS bb,
         |  ${sqlDot("a", "b")} AS ab
         | FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id),
         |rk AS (SELECT src, dst, ab/(sqrt(aa)*sqrt(bb)) AS cos,
         |  row_number() OVER (PARTITION BY src
         |    ORDER BY ab/(sqrt(aa)*sqrt(bb)) DESC, dst) AS rank FROM d),
         |t AS MATERIALIZED (SELECT src, dst, cos FROM rk
         |  WHERE rank <= 3),
         |mu AS (SELECT t.src AS u, t.dst AS v FROM t
         |  JOIN t m ON m.src = t.dst AND m.dst = t.src
         |  WHERE t.cos >= 0.35 AND t.src < t.dst),
         |und AS (SELECT u, v FROM mu UNION SELECT v, u FROM mu),
         |verts AS (SELECT DISTINCT u AS id FROM und),
         |reach(id, r2) AS (SELECT id, id FROM verts
         |  UNION SELECT e2.v, rr.r2 FROM reach rr
         |    JOIN und e2 ON e2.u = rr.id),
         |comp AS (SELECT id, min(r2) AS component FROM reach GROUP BY id)
         |SELECT e.vec_id,
         |  CAST(coalesce(comp.component, e.vec_id) AS BIGINT) AS cluster
         |FROM embeddings e LEFT JOIN comp ON comp.id = e.vec_id""".stripMargin,
    // the prefiltered join must equal the plain join (no false
    // negatives); quantities are integral-valued, so the BIGINT casts
    // agree across engines
    "join_bloom_prefilter" ->
      """SELECT l.l_orderkey, CAST(count(*) AS BIGINT) AS items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_totalprice > 350000.0
        |GROUP BY l.l_orderkey""".stripMargin,
    // trailing-7-day distinct actives via the same pair fan-out
    "events_active_users" ->
      """WITH p AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM p),
        |s AS (SELECT DISTINCT user_id, day + o AS day FROM p
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o))
        |SELECT s.day, CAST(count(*) AS BIGINT) AS active_users
        |FROM s, b WHERE s.day BETWEEN b.d0 AND b.d1
        |GROUP BY s.day""".stripMargin,
    // single-window formulation: gaps of a sorted multiset are
    // tiebreak-invariant, so the bucketed Spark plan must match
    "events_interarrival" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id
        |  FROM events),
        |d AS (SELECT user_id,
        |  us - lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS d
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS events,
        |  CAST(count(d) AS BIGINT) AS gaps,
        |  CAST(min(d) AS BIGINT) AS min_gap_us,
        |  CAST(max(d) AS BIGINT) AS max_gap_us,
        |  CAST(sum(d) AS BIGINT) AS sum_gap_us,
        |  CAST(sum(d) // count(d) AS BIGINT) AS mean_gap_us
        |FROM d GROUP BY user_id HAVING count(d) >= 1""".stripMargin,
    // KMV bottom-k distinct sketch: k=64 smallest distinct 32-bit
    // md5-prefix hashes per source; estimate = 63*2^32 // h_64 (one
    // floor division over exact integers — both engines agree); a
    // group with < 64 distinct hashes reports the sketch size itself
    "curation_kmv_distinct" ->
      """WITH hx AS (SELECT DISTINCT source, substr(md5(text), 1, 8)
        |  AS hx FROM documents),
        |r AS (SELECT source, CAST('0x' || hx AS BIGINT) AS hv,
        |  row_number() OVER (PARTITION BY source ORDER BY hx) AS rn
        |  FROM hx),
        |a AS (SELECT source, count(*) AS nh,
        |  max(CASE WHEN rn = 64 THEN hv END) AS kth
        |  FROM r WHERE rn <= 64 GROUP BY source),
        |base AS (SELECT source, count(*) AS docs,
        |  count(DISTINCT text) AS exact_distinct
        |  FROM documents GROUP BY source)
        |SELECT b.source, CAST(b.docs AS BIGINT) AS docs,
        |  CAST(b.exact_distinct AS BIGINT) AS exact_distinct,
        |  CAST(CASE WHEN a.nh < 64 THEN a.nh
        |    ELSE 270582939648 // a.kth END AS BIGINT) AS kmv_est
        |FROM base b JOIN a ON a.source = b.source""".stripMargin,
    // Morton-band scan: the pruned read must return exactly the first
    // eighth of the z range ((t*8 <= D) == (t <= D/8) on integers);
    // the spread cascade mirrors Layout.zValue step for step
    "source_zorder_prune" ->
      s"""WITH src AS (SELECT doc_id,
         |  least(greatest(CAST(length(text) AS BIGINT), 0), 65535) AS x,
         |  doc_id % 65536 AS y FROM documents),
         |${sources.Layout.zValueSqlCtes("src", "doc_id")},
         |b AS (SELECT min(zval) AS zmin, max(zval) AS zmax FROM zv)
         |SELECT zv.doc_id, CAST(zv.zval AS BIGINT) AS zval
         |FROM zv, b
         |WHERE (zv.zval - b.zmin) * 8 <= (b.zmax - b.zmin)""".stripMargin,
    // compaction is row-identical: the source_orc checksum aggregates
    "source_compact" ->
      """SELECT source, count(*) AS docs,
        |  CAST(sum(length(text)) AS BIGINT) AS chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
        |    AS BIGINT) AS text_h
        |FROM documents GROUP BY source""".stripMargin,
    // the day-partition read equals a day filter over the raw table
    "source_date_partitioned" ->
      """SELECT event_type, count(*) AS events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents_sum
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-02'
        |GROUP BY 1""".stripMargin,
    // the bucketed join equals the logical join it lays out for
    "source_bucketed_join" ->
      """WITH t AS (SELECT DISTINCT user_id,
        |  CAST(user_id % 5 AS INTEGER) AS tier FROM events),
        |e AS (SELECT user_id, CAST(floor(value * 100) AS BIGINT)
        |  AS cents FROM events)
        |SELECT tier, count(*) AS events,
        |  CAST(sum(cents) AS BIGINT) AS cents_sum
        |FROM e JOIN t USING (user_id) GROUP BY 1""".stripMargin,

    // SCC over the planted graph, from STRUCTURE knowledge: every ring
    // edge lies on its part's cycle, so a weak component of the ring
    // subgraph is a union of vertex-sharing directed cycles = one SCC
    // (scc_id = min member, the operator's canonical); the gadget's
    // SCCs are its three literal 3-cycles (the X→Y→Z DAG edges link
    // them only weakly and are excluded from the closure). Ring
    // selection mirrors successorRings exactly: per part (every 40th),
    // the 4 smallest order ids in ascending order, closed into a
    // cycle. The recursive closure is bounded: components are small
    // ring unions (sum of |comp|² pairs, ~10⁴ at sf0.01).
    "graph_scc" ->
      """WITH RECURSIVE
        |sel AS MATERIALIZED (SELECT p, o FROM (
        |  SELECT p, o, row_number() OVER (PARTITION BY p ORDER BY o)
        |    AS rn
        |  FROM (SELECT DISTINCT l_partkey + 2000000000 AS p,
        |          l_orderkey + 1000000000 AS o
        |        FROM lineitem WHERE l_partkey % 40 = 0))
        |  WHERE rn <= 4),
        |ring AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT o AS src,
        |    coalesce(lead(o) OVER (PARTITION BY p ORDER BY o),
        |             min(o) OVER (PARTITION BY p)) AS dst
        |  FROM sel)),
        |und AS MATERIALIZED (SELECT src AS u, dst AS v FROM ring
        |  UNION SELECT dst, src FROM ring),
        |verts AS (SELECT DISTINCT u AS id FROM und),
        |reach(id, r) AS (SELECT id, id FROM verts
        |  UNION SELECT e.v, x.r FROM reach x JOIN und e ON e.u = x.id)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS scc_id
        |FROM reach GROUP BY id
        |UNION ALL
        |SELECT id, scc_id FROM (VALUES
        |  (3000000031::BIGINT, 3000000031::BIGINT),
        |  (3000000032::BIGINT, 3000000031::BIGINT),
        |  (3000000033::BIGINT, 3000000031::BIGINT),
        |  (3000000021::BIGINT, 3000000021::BIGINT),
        |  (3000000022::BIGINT, 3000000021::BIGINT),
        |  (3000000023::BIGINT, 3000000021::BIGINT),
        |  (3000000011::BIGINT, 3000000011::BIGINT),
        |  (3000000012::BIGINT, 3000000011::BIGINT),
        |  (3000000013::BIGINT, 3000000011::BIGINT)) g(id, scc_id)""".stripMargin,
  )
}
