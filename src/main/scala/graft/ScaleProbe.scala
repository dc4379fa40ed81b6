package graft
import org.apache.spark.sql.functions._
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    // optional 2nd arg: comma-separated substring filters of op names —
    // run a targeted subset in a fresh session (accumulated caches
    // distort the long-tail timings)
    val only = args.lift(1).map(_.split(",").toSeq)
    // core count from the env (default the historical 16) so the probe
    // doubles as the CORE-SCALING receipt: the same replicated corpus
    // at 8 vs 32 cores measures whether the shuffle/n²-heavy faces
    // actually parallelize (r13 verdict item 7 — sf0.1's one-row-group
    // gates cannot show this; the replicated 10× corpus can)
    val spark = LocalSession("graft-scale-probe", 16, "ERROR")
    // the README scaling table was measured at a fixed 32-way shuffle
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // task-time distribution per probed op: the hot-key claims are
    // claims about the MAX task, not the total (a flat total can hide
    // one straggler doing all the work) — report median/max task ms
    val probe = Probe.listen(spark)
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    // replicate with id offsets AND a per-copy token prefix so copies are
    // not trivial duplicates of each other (keeps pair structure sane)
    val docs = (0 until mult).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 1000000)).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"), lit("$1_" + i)).as("text"))
    }.reduce(_ unionByName _).repartition(32).cache()
    println(s"docs=${docs.count()} (${mult}x of $n)")
    def time(name: String)(f: => Long): Unit =
      if (only.forall(_.exists(name.contains))) {
        val (r, c) = probe.measure(f)
        val ds = c.taskDurations.sorted
        val (med, mx) =
          if (ds.isEmpty) (0L, 0L) else (ds(ds.length / 2), ds.last)
        println(f"$name: ${c.sec}%.1fs rows=$r tasks=${ds.length} " +
          f"medianTaskMs=$med maxTaskMs=$mx")
      }
    def wanted(names: String*): Boolean =
      only.forall(pats => names.exists(n => pats.exists(n.contains)))
    time("minhashLsh")(operators.DedupOps.minhashLsh(docs, tau = 0.8).count())
    time("simhash")(operators.DedupOps.simhash(docs, maxDist = 3).count())
    time("exact")(operators.DedupOps.exact(docs).count())
    time("tokenJaccard")(
      operators.DedupOps.tokenJaccard(docs, tau = 0.95).count())
    time("nearDupClusters")(
      operators.DedupOps.nearDupClusters(docs, tau = 0.8).count())
    time("tfidfTop")(operators.TextOps.tfidfTop(docs, k = 1).count())
    time("domainStats")(operators.CurationOps.domainStats(docs).count())
    time("dedupTokenBlocks")(
      operators.DedupOps.dedupTokenBlocks(docs, blockSize = 16).count())
    time("dedupSubstrings")(
      operators.DedupOps.dedupSubstrings(docs, windowTokens = 32).count())
    time("bigramFit")(operators.TextOps.bigramFit(docs).count())
    time("shardShuffle")(
      operators.CurationOps.shardShuffle(docs, nShards = 64).count())
    time("compressionRatio")(
      operators.TextOps.compressionRatio(docs).count())
    time("dhash")(operators.MultimodalOps.dHash(
      operators.MultimodalOps.withPngPayload(docs)).count())
    time("audioProfile")(operators.MultimodalOps.audioProfile(
      operators.MultimodalOps.withWavPayload(docs)).count())
    time("bloomDecontaminate")(operators.CurationOps.bloomDecontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0)).count())
    // round-7 document operators (graph ops probe separately: the
    // co-purchase projection SHRINKS with sf, so 10x docs is the
    // meaningful axis only for these)
    time("mixSources")(operators.CurationOps.mixSources(
      docs.withColumn("source",
        concat(lit("src"), (col("doc_id") % 20).cast("string"))),
      weights = Map("src0" -> 2.5, "src1" -> 0.4)).count())
    time("contaminationSpans")(operators.CurationOps.contaminationSpans(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0)).count())
    time("tokenizeWithVocab")(
      operators.TextOps.tokenizeWithVocab(docs, vocabSize = 50).count())
    time("bpeTrain16+encode") {
      val merges = operators.TextOps.bpeTrain(docs, numMerges = 16)
      operators.TextOps.bpeEncode(docs, merges).count()
    }
    // deep-merge training rides the driver fast path: one Spark job to
    // build the word table, then the in-process incremental loop
    time("bpeTrain256")(
      operators.TextOps.bpeTrain(docs, numMerges = 256).length.toLong)
    // round-8 document operators
    time("dedupSuffix")(
      operators.DedupOps.dedupSuffix(docs, minTokens = 32).count())
    time("repeatedSpans")(
      operators.DedupOps.repeatedSpans(docs, minTokens = 32).count())
    time("domainQuota")(operators.CurationOps.domainQuota(
      docs.withColumn("text",
        concat(lit("http://site"), col("doc_id") % 500, lit(".com/p"),
          col("doc_id"), lit(" "), col("text"))),
      cap = 40, blocklist = Seq("site7.com")).count())
    // planted hot domain: 99% of docs share one host — the bounded
    // top-cap aggregate must stay flat vs the uniform-domain probe
    // (a row_number window would serialise on the hot key's one task)
    time("domainQuotaHot")(operators.CurationOps.domainQuota(
      docs.withColumn("text",
        concat(when(col("doc_id") % 100 < 99, lit("http://hot.example.com/p"))
          .otherwise(concat(lit("http://site"), (col("doc_id") % 500)
            .cast("string"), lit(".com/p"))),
          col("doc_id"), lit(" "), col("text"))),
      cap = 40).count())

    // round-9 incremental state: archive ingested once, then a 1%
    // increment — the increment run must cost a small fraction of the
    // archive ingest (touched-bucket semi-join pruning; the
    // nightly-crawl economics the operator exists for)
    val mhState = s"/tmp/graft_probe_mhstate_${ProcessHandle.current().pid()}"
    if (wanted("minhashIncArchive", "minhashIncIncrement")) {
      operators.StateStore.delete(mhState)
      // the archive ingest must RUN even when only the increment is
      // being timed — an increment over empty state would skip the
      // semi-join pruning path and measure a standalone first ingest
      val archive = () => operators.DedupOps.minhashLshIncremental(
        docs.filter(col("doc_id") % 100 =!= 0), mhState, tau = 0.8).count()
      if (wanted("minhashIncArchive"))
        time("minhashIncArchive")(archive())
      else archive()
      time("minhashIncIncrement")(operators.DedupOps.minhashLshIncremental(
        docs.filter(col("doc_id") % 100 === 0), mhState, tau = 0.8).count())
      operators.StateStore.delete(mhState)
    }

    // incremental CC: big-archive ingest once, then a tiny edge drop —
    // the increment's CC runs over |V| star edges + |B| new edges,
    // never the archive's edge history (the label-contraction claim)
    val ccState = s"/tmp/graft_probe_ccstate_${ProcessHandle.current().pid()}"
    if (wanted("ccIncArchive", "ccIncIncrement")) {
      operators.StateStore.delete(ccState)
      val g0 = sources.GraphStore.tpch(spark, "/root/testdata/sf0.1")
      val sub = g0.edges.filter(col("label") === "placed" ||
        col("quantity") >= 52.0).select(col("src"), col("dst")).cache()
      val archive = () => operators.GraphAlgos.ccIncremental(
        sub.filter(pmod(col("src") + col("dst"), lit(100)) =!= 0),
        ccState).count()
      if (wanted("ccIncArchive")) time("ccIncArchive")(archive())
      else archive()
      time("ccIncIncrement")(operators.GraphAlgos.ccIncremental(
        sub.filter(pmod(col("src") + col("dst"), lit(100)) === 0),
        ccState).count())
      operators.StateStore.delete(ccState)
      sub.unpersist()
    }

    // E ≫ V regime (r11 verdict #1's probe): hash the tpch edge list
    // into a 4096-vertex universe — repeated-link/multigraph shape —
    // and grow the ARCHIVE 1× → 10× (to ~1200:1 edge:vertex) while the
    // drop and the label set stay fixed. The claim under test: an
    // ingest costs the drop + labels, never E_history — the bloom
    // ledger classifies fresh drop edges with zero archive I/O and the
    // exact-verify reads only FP-touched buckets, so ccIncIncrementEV
    // must stay FLAT across the two archive scales
    if (wanted("ccIncArchiveEV", "ccIncIncrementEV")) {
      val g0 = sources.GraphStore.tpch(spark, "/root/testdata/sf0.1")
      def mapped(i: Int) = g0.edges.select(
        pmod(xxhash64(col("src"), lit(i * 2)), lit(4096L)).as("src"),
        pmod(xxhash64(col("dst"), lit(i * 2 + 1)), lit(4096L)).as("dst"))
      for (scale <- Seq(1, 10)) {
        val ccStateEV = s"/tmp/graft_probe_ccstate_ev_${scale}_" +
          ProcessHandle.current().pid()
        operators.StateStore.delete(ccStateEV)
        val all = (0 until scale).map(mapped).reduce(_ unionByName _)
          .cache()
        // drop/archive split by PAIR VALUE (the cut is a function of
        // the canonical pair), so the drop is fresh-by-construction at
        // every scale — an exceptAll split left copy-collisions in the
        // x10 archive that turned ~half the drop into true re-presents
        // (which legitimately pay a bucket verify) and muddied the
        // fresh-drop flatness claim
        val cut = pmod(col("src") + col("dst"), lit(100)) === 0
        val drop = mapped(0).filter(cut)
        val archive = all.filter(!cut)
        println(s"denseEdges_x$scale=${all.count()} vertices<=4096")
        // per-state ledger sizing in action: the default 2^25-bit
        // bloom saturates at the x10 fixture's 7.5M edges (~13% FP →
        // the verify opens every bucket — measured: increment crept
        // 4.4 → 6.9 s); sized to the archive (2^28 bits, ~5e-5 FP)
        // the increment stays flat
        val ingestArchive = () => operators.GraphAlgos.ccIncremental(
          archive, ccStateEV, bloomBits = 1 << 28).count()
        if (wanted("ccIncArchiveEV"))
          time(s"ccIncArchiveEV_x$scale")(ingestArchive())
        else ingestArchive()
        time(s"ccIncIncrementEV_x$scale")(operators.GraphAlgos
          .ccIncremental(drop, ccStateEV).count())
        operators.StateStore.delete(ccStateEV)
        all.unpersist()
      }
    }

    // ledger-resize rescue (r13): ingest the x10 E>>V archive at the
    // DEFAULT 2^25 bloom (saturated: ~13% FP opens nearly every bucket
    // at verify), measure a fresh increment, resize-compact to 2^28,
    // then measure a SECOND fresh increment — the resize must restore
    // the flat-ingest property without a re-ingest
    if (wanted("ccResize")) {
      val g0 = sources.GraphStore.tpch(spark, "/root/testdata/sf0.1")
      def mapped(i: Int) = g0.edges.select(
        pmod(xxhash64(col("src"), lit(i * 2)), lit(4096L)).as("src"),
        pmod(xxhash64(col("dst"), lit(i * 2 + 1)), lit(4096L)).as("dst"))
      val st = s"/tmp/graft_probe_ccresize_${ProcessHandle.current().pid()}"
      operators.StateStore.delete(st)
      val all = (0 until 10).map(mapped).reduce(_ unionByName _).cache()
      val m = pmod(col("src") + col("dst"), lit(100))
      val archive = all.filter(m =!= 0 && m =!= 50)
      println(s"ccResize archive=${archive.count()} (default 2^25 bloom)")
      operators.GraphAlgos.ccIncremental(archive, st).count()
      time("ccResizeSaturatedIncrement")(operators.GraphAlgos
        .ccIncremental(mapped(0).filter(m === 0), st).count())
      time("ccResizeCompact") {
        operators.GraphAlgos.ccCompact(spark, st, buckets = 64,
          bloomBits = 1 << 28); 0L
      }
      time("ccResizePostIncrement")(operators.GraphAlgos
        .ccIncremental(mapped(0).filter(m === 50), st).count())
      operators.StateStore.delete(st)
      all.unpersist()
    }

    // incremental ANN state (r12/r13): the archive SCALES WITH `mult`
    // (id-offset copies) while the drop stays a fixed ~1% slice — the
    // r13 id-ledger claim is that the drop's ingest cost is FLAT as
    // the archive grows 1x -> 10x (bloom-negative rows ingest with
    // zero archive I/O; only the FP tail opens pruned id buckets),
    // the same E>>V shape the cc probe pins for edges
    val embsAll = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet").cache()
    val embsScaled = (0 until mult).map(i =>
        embsAll.select((col("vec_id") + lit(i.toLong * 10000000))
          .as("vec_id"), col("embedding")))
      .reduce(_ unionByName _).cache()
    if (wanted("bhIncArchive", "bhIncIncrement", "bhIncQuery")) {
      val st = s"/tmp/graft_probe_bhstate_${ProcessHandle.current().pid()}"
      operators.StateStore.delete(st)
      val q = embsAll.filter(col("vec_id") < 10)
      val archive = () => operators.SimilarityOps.binaryHammingIncremental(
        q, embsScaled.filter(col("vec_id") % 100 =!= 0), st, k = 5).count()
      if (wanted("bhIncArchive")) time("bhIncArchive")(archive())
      else archive()
      time("bhIncIncrement")(operators.SimilarityOps
        .binaryHammingIncremental(q,
          embsAll.filter(col("vec_id") % 100 === 0), st, k = 5).count())
      operators.StateStore.delete(st)
    }
    if (wanted("ivfIncArchive", "ivfIncIncrement", "ivfIncQuery")) {
      val st = s"/tmp/graft_probe_ivfstate_${ProcessHandle.current().pid()}"
      operators.StateStore.delete(st)
      val archive = () => operators.SimilarityOps.ivfIncremental(
        embsScaled.filter(col("vec_id") % 100 =!= 0), st).count()
      if (wanted("ivfIncArchive")) time("ivfIncArchive")(archive())
      else archive()
      time("ivfIncIncrement")(operators.SimilarityOps.ivfIncremental(
        embsAll.filter(col("vec_id") % 100 === 0), st).count())
      time("ivfIncQuery")(operators.SimilarityOps.ivfIncrementalTopK(
        embsAll.filter(col("vec_id") < 10), st, nprobe = 8, k = 5)
        .count())
      operators.StateStore.delete(st)
    }

    val evbase = streaming.EventStreamOps.readEvents(
      spark, "/root/testdata/sf0.1/events.parquet")
    val events = (0 until mult).map { i =>
      evbase.select((col("event_id") + lit(i.toLong * 10000000)).as("event_id"),
        col("ts"), (col("user_id") + lit(i.toLong * 100000)).as("user_id"),
        col("event_type"), col("value"))
    }.reduce(_ unionByName _).repartition(32).cache()
    println(s"events=${events.count()}")
    time("asofJoin")(streaming.EventStreamOps.asofJoin(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase"),
      "user_id", "ts", "event_id",
      Seq("event_id"), Seq("event_id", "value")).count())
    time("trailingWindow")(
      streaming.EventStreamOps.trailingWindow(events, 1800).count())
    time("retentionCohorts")(
      streaming.EventStreamOps.retentionCohorts(events).count())
    time("typeTransitions")(
      streaming.EventStreamOps.typeTransitions(events).count())
    time("anomalies")(
      streaming.EventStreamOps.anomalies(events, k = 3).count())
    // collocations fits on a deterministic sample past ~2M tokens (the
    // documented int64 overflow bound of the exact-count statistic)
    time("collocations")(
      operators.TextOps.collocations(
        docs.filter(col("doc_id") % 1000000 < 1000),
        minCount = 5, topK = 50).count())
    time("lineFilters")(operators.CurationOps.lineFilters(
      operators.CurationOps.withNoisyLines(docs)).count())
    time("editDistancePairs")(operators.DedupOps.editDistancePairs(
      operators.DedupOps.withTypoPayload(docs), maxDist = 1).count())
    time("dedupNormalized")(operators.DedupOps.dedupNormalized(
      operators.DedupOps.withFormattingNoise(docs), idCol = "id")
      .count())
    time("gapFill")(
      streaming.EventStreamOps.gapFill(events, periodSeconds = 3600)
        .count())
    time("exactQuantiles")(
      streaming.EventStreamOps.exactQuantiles(events).count())
    time("sessionPaths")(
      streaming.EventStreamOps.sessionPaths(events).count())
    // planted hot user: HALF of all events collapse onto one account —
    // bucketed sessionization must stay flat vs the uniform run (the
    // naive per-user window would sort the hot account in one task);
    // compare maxTaskMs across the pair, not just totals
    // the filter forces __session to be COMPUTED for every row — a
    // bare count() lets Catalyst prune the whole window/join chain
    def drained(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("__session") >= 0).count()
    time("gapSessionsUniform")(drained(
      streaming.EventStreamOps.gapSessions(events, 1800)))
    time("gapSessionsHot")(drained(
      streaming.EventStreamOps.gapSessions(
        events.withColumn("user_id",
          when(col("event_id") % 2 === 0, lit(1L))
            .otherwise(col("user_id"))), 1800)))
    time("gapSessionsHotNaive")(drained(
      streaming.EventStreamOps.gapSessionsNaive(
        events.withColumn("user_id",
          when(col("event_id") % 2 === 0, lit(1L))
            .otherwise(col("user_id"))), 1800)))
    time("intervalJoin") {
      import spark.implicits._
      val periods = (0L until 10L).map(i =>
        (i, 1704067200L + i * 259200L, 1704067200L + i * 259200L + 86400L))
        .toDF("period_id", "s", "e")
        .select(col("period_id"),
          timestamp_seconds(col("s")).as("start_ts"),
          timestamp_seconds(col("e")).as("end_ts"))
      streaming.EventStreamOps.intervalJoin(events, periods).count()
    }
    time("weightedSample")(operators.CurationOps.weightedSample(
      docs.withColumn("n_chars", length(col("text"))), n = 1000,
      weight = expr("1 + least(n_chars div 400, 7)")).count())
    time("invertedIndex")(operators.TextOps.invertedIndex(docs).count())
    time("corpusDiff")(operators.CurationOps.corpusDiff(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 5 =!= 0)).count())

    // round-9 fourth-session operators
    time("kmvDistinct")(operators.CurationOps.kmvDistinct(
      docs.withColumn("source",
        concat(lit("s"), (col("doc_id") % 50).cast("string")))).count())
    time("containmentPairs")(
      operators.DedupOps.containmentPairs(docs, tau = 0.9).count())
    time("interArrival")(
      streaming.EventStreamOps.interArrival(events).count())
    time("activeUsers")(
      streaming.EventStreamOps.activeUsers(events, windowDays = 7).count())
    time("bloomFilteredJoin") {
      import spark.implicits._
      val hot = events.select(col("user_id").as("uid")).distinct()
        .filter(col("uid") % 20 === 0)
      operators.JoinOps.bloomFilteredJoin(events, hot, "user_id", "uid")
        .count()
    }
    time("zorderWrite+prunedRead") {
      val dir = s"/tmp/graft_probe_zorder_${ProcessHandle.current().pid()}"
      sources.Layout.zorderWrite(docs, dir,
        xCol = length(col("text")), yCol = col("doc_id") % 65536,
        nFiles = 64)
      val stats = sources.Layout.fileStats(spark, dir).localCheckpoint()
      val b = stats.agg(min(col("zmin")), max(col("zmax"))).collect().head
      val hi = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8
      val rows = sources.Layout.prunedRead(spark, dir, stats,
        b.getLong(0), hi).count()
      val touched = sources.Layout.pruneFiles(stats, b.getLong(0), hi).size
      println(s"  zorder touched $touched of 64 files")
      rows
    }

    // round-9 fifth-session operators
    time("typeDowCube")(
      streaming.EventStreamOps.typeDowCube(events).count())
    time("dailyTypePivot")(
      streaming.EventStreamOps.dailyTypePivot(events).count())
    time("dailyTrend")(
      streaming.EventStreamOps.dailyTrend(events).count())
    time("changePoint")(
      streaming.EventStreamOps.changePoint(events).count())
    time("hashedFeatures")(
      operators.TextOps.hashedFeatures(docs, dim = 16).count())
    time("fimSplit")(operators.TextOps.fimSplit(docs).count())
    time("datePartitioned") {
      val dir = s"/tmp/graft_probe_daypart_${ProcessHandle.current().pid()}"
      sources.Layout.datePartitionedWrite(events, dir)
      sources.Layout.readDay(spark, dir, "2024-01-02").count()
    }
    time("bucketedJoin") {
      val ev = events.select(col("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      val users = events.select(col("user_id")).distinct()
        .withColumn("tier", (col("user_id") % 5).cast("int"))
      sources.Layout.bucketedJoin(ev, users, "user_id", buckets = 16,
        prefix = s"gprobebk${ProcessHandle.current().pid()}").count()
    }
    time("quantileBuckets")(operators.CurationOps.quantileBuckets(
      docs.withColumn("n_chars", length(col("text")))).count())
    time("dedupBestOf")(operators.DedupOps.dedupBestOf(
      docs.withColumn("n_chars", length(col("text"))),
      quality = col("n_chars")).count())

    // walk corpus over the full sf0.1 graph (~15k customer starts, 8
    // steps): the per-step cost is one partitioned join + partial min
    time("randomWalks") {
      val g = sources.GraphStore.tpch(spark, "/root/testdata/sf0.1")
      val starts = g.vertices.filter(col("label") === "customer")
        .select(col("id"))
      operators.GraphAlgos.randomWalks(g, starts, length = 8).count()
    }

    if (!wanted("lshTopK", "ivfTopK", "bruteTopK", "pqRerank",
        "semanticDedup", "embNearDup", "knnGraph", "knnClusters",
        "mutualBestMatch", "prototypeOutliers")) {
      spark.stop(); return
    }
    val ebase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val embs = (0 until mult).map { i =>
      ebase.select((col("vec_id") + lit(i.toLong * 1000000)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _).repartition(32).cache()
    println(s"vecs=${embs.count()}")
    val q = embs.filter(col("vec_id") < 20).cache(); q.count()
    time("lshTopK")(operators.SimilarityOps.lshTopK(q, embs, k = 10).count())
    val cents = operators.SimilarityOps.fitIvfCentroids(embs, k = 32, iters = 3)
    time("ivfTopK")(operators.SimilarityOps.ivfTopK(q, embs, cents, nprobe = 4, k = 10).count())
    val cents256 = operators.SimilarityOps.fitIvfCentroids(embs, k = 256, iters = 1)
    time("ivfTopK_k256")(operators.SimilarityOps.ivfTopK(q, embs, cents256, nprobe = 16, k = 10).count())
    time("bruteTopK")(operators.SimilarityOps.bruteForceTopK(q, embs, k = 10).count())
    // the r11 bounded-cut claim: the OLD row_number formulation drags
    // every query's FULL scored corpus through one task's sort — kept
    // here as an inline replica so the task-time gap stays measured
    time("bruteTopK_windowReplica") {
      import org.apache.spark.sql.expressions.Window
      graft.functions.VectorExpressions.register(spark)
      val qq = q.select(col("vec_id").as("query_id"),
        col("embedding").as("__qv"),
        operators.SimilarityOps.l2norm(col("embedding")).as("__qn"))
      val c = embs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__cv"),
        operators.SimilarityOps.l2norm(col("embedding")).as("__cn"))
      broadcast(qq).crossJoin(c)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine", operators.SimilarityOps.dot(
          col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("cosine").desc, col("neighbor_id"))))
        .filter(col("rank") <= 10)
        .count()
    }
    time("binaryHammingTopK")(operators.SimilarityOps
      .binaryHammingTopK(q, embs, k = 10).count())
    time("hardNegatives") {
      val labeled = embs.withColumn("label",
        (col("vec_id") % 16).cast("int"))
      operators.SimilarityOps.hardNegatives(
        labeled.filter(col("vec_id") < 20), labeled, k = 10).count()
    }
    time("pqRerank") {
      val books = operators.SimilarityOps.fitPq(embs, m = 8, k = 16, iters = 3)
      operators.SimilarityOps.pqRerank(q, embs, books, k = 10,
        shortlist = 100).count()
    }
    // cluster-scoped semantic dedup: quadratic term bounded per cell,
    // chunk-salted — k=64 keeps cells ~n/64 at this probe scale
    time("semanticDedup") {
      val cents = operators.SimilarityOps.fitIvfCentroids(embs, k = 64, iters = 2)
      operators.DedupOps.semanticDedup(embs, cents, tau = 0.9).count()
    }
    // pair dedup, default fine-bucket regime (τ=0.9): replicated copies
    // are exact twins, so every copy-pair must surface; candidates stay
    // collision-bounded because 16-bit tables keep buckets sparse
    time("embNearDupLsh_t09")(operators.DedupOps.embeddingNearDup(embs, tau = 0.9).count())
    // kNN graph at probe scale rides the LSH candidate face (the exact
    // broadcast face is the oracle-gate config, quadratic by design)
    time("knnGraphLsh")(operators.SimilarityOps.knnGraph(
      embs, k = 5, nBits = 10, nTables = 4).count())
    time("knnClustersLsh")(operators.SimilarityOps.knnClusters(
      embs, k = 5, tau = 0.3, nBits = 10, nTables = 4).count())
    // cross-corpus mutual-best-match rides the LSH candidate face at
    // scale (the exact broadcast face is the oracle-gate config)
    time("mutualBestMatchLsh")(operators.SimilarityOps.mutualBestMatch(
      embs.filter(col("vec_id") % 2 === 0),
      embs.filter(col("vec_id") % 2 === 1),
      nBits = 10, nTables = 4).count())
    time("prototypeOutliers")(operators.SimilarityOps.prototypeOutliers(
      embs.withColumn("label", (col("vec_id") % 16).cast("int")))
      .count())
    // the low-τ coarse-bucket regime (the sf-gate config) and its exact
    // oracle are all-pairs-shaped — only probe them at small multipliers
    if (mult <= 2) {
      time("embNearDupLsh_t045_coarse")(
        operators.DedupOps.embeddingNearDup(embs, tau = 0.45, nBits = 6).count())
      time("embNearDupExact")(
        operators.DedupOps.embeddingNearDupExact(embs, tau = 0.45).count())
    }
    spark.stop()
  }
}
