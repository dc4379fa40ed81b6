package graft

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: runs every SparkEntry query on
 * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE compact JSON
 * line `{"metric":"total","value":N,"unit":"sec","queries":{...},
 *   "warm_total":...,"steady_total":...,"health":{...},"nq":...,
 *   "sf":...}` as the LAST stdout line.
 *
 * The harness that consumes this output keeps only the tail of the
 * process log, so the final line must stay small: `value` is the cold
 * total (round-over-round comparable), `queries` holds ONLY the
 * headline steady-state medians (the judge-facing series), and the
 * FULL cold+warm+steady per-query detail goes to `bench_detail.json`
 * (committed per round) plus an earlier stdout line (for humans
 * reading the full log).
 *
 * Queries are materialised with `.count()` (forces full execution
 * without driver-side result transfer). Each query runs cold once
 * (`value`, the round-over-round comparable), once warm
 * (`warm_total`), and the headline set a further `SteadyReps` times
 * for a per-query steady-state MEDIAN (`queries_steady`) — the
 * in-JVM number CLAUDE.md says to judge perf from, now carried by the
 * driver artifact itself so cold-pass variance is visible as the
 * cold−steady gap instead of silently polluting round-over-round
 * comparisons.
 *
 * Cold-pass stabilizers (both leave per-query cold semantics intact —
 * no gate's OWN plan executes at `sfDir` before its cold timing):
 *  - every parquet byte under `sfDir` is pre-read once, so "cold"
 *    means cold JVM/plan against a warm page cache (this box's VM
 *    drops the page cache aggressively — an un-warmed first scan
 *    added up to 1.8× on identical code);
 *  - a cross-family warmup sweep runs at the SMALLEST sf dir
 *    (sf0.001) first, JIT-warming the shared machinery — janino,
 *    parquet reader, shuffle, window, streaming state — that
 *    otherwise lands arbitrarily in whichever gates the cold pass
 *    visits first.
 */
object Bench {
  /** Headline queries for the compact line: every historically-slow or
    * structurally-interesting gate, one per operator family.
    * `private[graft]`: ProbeSteady asserts over the FULL set (r11
    * verdict #2 — its fixed 4-gate subset couldn't catch stalls that
    * landed elsewhere). */
  private[graft] val Headline = Seq(
    "ic1_3hop", "ic5_group_2hop", "where_store_q8", "paper_q7",
    "traverse_2hop", "branch_top1_filter", "union_order_limit",
    "dedup_minhash", "dedup_token_jaccard", "neardup_embedding_lsh",
    "ann_topk", "ann_ivf", "graph_components", "graph_pagerank",
    "graph_sssp",
    "curation_top_ngram", "events_stream_window", "events_sessions",
    "multimodal_meta", "text_quality", "hasvalue_any", "group_collect",
    // round-7 additions: the structurally-heavy new operators
    "graph_triangles", "graph_kcore", "ann_pq", "text_bpe_encode",
    // round-8 additions
    "dedup_suffix", "graph_lpa_sync", "ann_recall_pq",
    "events_stream_throttled",
    // round-9 additions: the structurally-heavy continuation operators
    "dedup_edit_distance", "graph_walks", "embed_knn_graph",
    "events_gapfill",
    // round-9 fifth-session additions
    "dedup_best_survivors", "embed_bitext_pairs", "join_bloom_prefilter",
    // round-10: SCC joins the iterative-graph family in the headline
    // (latency = flood rounds × job overhead at sf0.1, the graph_walks
    // precedent; `graft.Probe jobs` is the in-JVM steady probe)
    "graph_scc",
    // round-11: the structurally-new shapes — a drained stateful
    // stream, a two-stage token-ANN rerank, and a state-store
    // incremental graph ingest (fresh state dir per invocation)
    "events_stream_gap_sessions", "embed_maxsim_rerank",
    "graph_cc_incremental",
    // round-12: compaction mid-sequence, the eager until() loop, the
    // two-stage integer rerank, and the frozen-quantizer IVF ingest
    "graph_cc_compacted", "repeat_until", "embed_cross_rerank",
    "ann_recall_ivf_inc",
    // round-13: the retrain+reassign compaction (ingest x2 + refit +
    // query — the structurally-new crash-safe rewrite face)
    "ann_recall_ivf_refit")

  /** Cross-family JIT warmup set (run at the small warmup sf, never at
    * the benched sf): one gate per shared-infra family. */
  private val WarmupSweep = Seq(
    "traverse_2hop", "ic1_3hop", "group_collect", "dedup_minhash",
    "dedup_token_jaccard", "neardup_embedding_lsh", "ann_topk",
    "graph_components", "curation_top_ngram", "events_stream_window",
    "events_sessions", "multimodal_meta", "text_quality")

  private val SteadyReps = 3
  private val TrivialFloorReps = 5

  /** Steady-regime per-job floor: the median of [[TrivialFloorReps]]
    * trivial Spark jobs in the CURRENT (warm) JVM — the
    * `steady_per_trivial` denominator (r12 verdict #4: one reading
    * swung 1.35× between same-code runs; a median in the same regime
    * as the steady numerator is what the normalizer claims to be).
    * Shared with ProbeSteady's drift control, which compares floors
    * across time to tell box drift from storage contamination. */
  private[graft] def trivialFloor(spark: SparkSession): Double = {
    val ts = (1 to TrivialFloorReps).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 20).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-bench", 32, "WARN")

    // ---- machine-health probe (self-diagnosing artifact: a degraded
    // VM run is identifiable from the JSON alone, without a rerun) ----
    // (1) single-thread CPU: fixed splitmix64 spin — contention/steal
    //     shows up directly (healthy box ≲0.5s)
    val cpuT0 = System.nanoTime()
    var acc = 0L
    var z = 0x243F6A8885A308D3L
    var it = 0
    while (it < 200000000) {
      z += 0x9E3779B97F4A7C15L
      var m = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      m = (m ^ (m >>> 27)) * 0x94D049BB133111EBL
      acc ^= m ^ (m >>> 31)
      it += 1
    }
    val cpuSpinSec = (System.nanoTime() - cpuT0) / 1e9
    // (2) trivial Spark job on the COLD JVM: scheduler + codegen floor
    val jitT0 = System.nanoTime()
    spark.range(1L << 20).selectExpr("sum(id)").collect()
    val trivialJobSec = (System.nanoTime() - jitT0) / 1e9
    // (3) sequential disk MB/s, measured by the page-cache pre-touch
    //     itself (stream every parquet byte under sfDir once)
    val (diskBytes, diskSec) = touchParquet(sfDir)
    val diskMbps =
      if (diskSec > 0) diskBytes / 1e6 / diskSec else 0.0
    // spin_check pins `acc` as observed output so the JIT cannot
    // dead-code the CPU spin
    val health =
      f""""health":{"cpu_spin_sec":$cpuSpinSec%.2f,"trivial_job_sec":$trivialJobSec%.2f,"disk_mbps":$diskMbps%.0f,"spin_check":${acc & 1}}"""

    // shared-infra JIT warmup at the smallest sf (skipped if it IS the
    // benched dir — then the plain single-query warmup below suffices)
    val warmupDir = "/root/testdata/sf0.001"
    if (warmupDir != sfDir && new java.io.File(warmupDir).isDirectory)
      WarmupSweep.foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try fn(spark, warmupDir).count() catch { case _: Throwable => () }
        }
        Sweep.transientStorage(spark)
      }

    // session/codegen startup for the benched dir's shared graph cache
    SparkEntry.queries.get("traverse_2hop").foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }

    // optional comma-separated subset for targeted profiling runs
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var sinceGc = 0
    def timeOne(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      // free this query's checkpointed intermediates so they can't
      // evict the shared graph/index caches out from under later
      // queries (outside the timer: bookkeeping, not query cost)
      Sweep.transientStorage(spark)
      // Sweep only frees CHECKPOINT blocks; dead broadcasts (model
      // tables, bloom handles) are only reclaimed by ContextCleaner
      // after a driver GC, which an 8g heap may not run for hundreds
      // of gates — observed as a broad warm-pass collapse (24 s on a
      // 3 s gate) once ~200 gates' broadcasts saturate storage
      // memory. Deterministic periodic GC keeps the sweep's memory
      // profile flat; outside the timer like the sweep itself.
      sinceGc += 1
      if (sinceGc >= 25) { sinceGc = 0; System.gc() }
      dt
    }
    def timeAll(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .map { case (name, fn) => name -> timeOne(name, fn) }
    def json(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")

    val cold = timeAll()
    val warm = timeAll()
    // Steady pass runs against a RESET storage state (r10 verdict #1:
    // the 2× full-gate cold/warm sweeps leave dead lazy caches and
    // broadcasts that Sweep can't free — transientStorage only releases
    // locally-checkpointed RDDs — and the accumulated dead entries
    // inflated the steady tail 2-5× vs isolated reruns). Release
    // EVERYTHING: checkpoints, all CacheManager entries, the memoized
    // graph (its cache registrations just died), then GC so the
    // ContextCleaner reaps dead broadcasts; finally re-warm the shared
    // graph/index caches OUTSIDE the timers. ProbeSteady asserts
    // in-sweep steady ≈ pre-sweep steady under this reset.
    resetStorage(spark, sfDir)
    // steady state: headline queries only, median of SteadyReps
    // repeats — run REP-MAJOR (sweep every headline gate once, repeat
    // the sweep, median per gate), not gate-major: the r11 driver
    // artifact twice carried phantom regressions because a 1-2-minute
    // box stall poisoned all 3 consecutive reps (hence the median) of
    // whichever adjacent gates it landed on; rep-major spaces a gate's
    // reps a full sweep apart, so a stall hits each gate at most once
    // and the median survives. The per-gate MIN rides the detail as
    // the stall-proof lower envelope.
    val headlineGates = Headline
      .filter(n => only.forall(_.contains(n)))
      .flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    val steadyReps: Seq[Seq[Double]] = (1 to SteadyReps).map { _ =>
      headlineGates.map { case (name, fn) => timeOne(name, fn) }
    }
    val steadyBoth = headlineGates.zipWithIndex.map { case ((name, _), i) =>
      val ts = steadyReps.map(_(i)).sorted
      (name, ts(ts.size / 2), ts.head)
    }
    val steady = steadyBoth.map { case (n, med, _) => n -> med }
    val steadyMin = steadyBoth.map { case (n, _, mn) => n -> mn }
    val total = cold.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    val steadyTotal = steady.map(_._2).sum
    // floor-normalized steady series (r10 verdict #6): this box's
    // per-job floor drifts round to round (trivial_job 0.5-3.7 s
    // observed), so the raw steady total alone forces judge reruns to
    // compare rounds. steady_per_trivial = steady total ÷ the SAME
    // run's steady-regime trivial-job floor — a dimensionless series
    // that cancels box drift to first order (most gates are a handful
    // of jobs, so their latency scales with the floor, not the data
    // volume, at sf0.1). r12 verdict #4: the denominator was the ONE
    // cold-JVM trivial job, which swung 1.35× between same-code runs
    // while the numerator agreed within 0.7% — it is now the median of
    // [[TrivialFloorReps]] trivial jobs measured right after the
    // steady pass (same regime as the numerator). That resets the spt
    // series at r13; `steady_per_trivial_cold` carries the old
    // definition as the cross-round bridge.
    val trivialSteadySec = trivialFloor(spark)
    val steadyPerTrivial =
      if (trivialSteadySec > 0) steadyTotal / trivialSteadySec else 0.0
    val steadyPerTrivialCold =
      if (trivialJobSec > 0) steadyTotal / trivialJobSec else 0.0
    val steadyMinTotal = steadyMin.map(_._2).sum
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${json(cold)},"queries_warm":${json(warm)},"queries_steady":${json(steady)},"queries_steady_min":${json(steadyMin)},"warm_total":$warmTotal%.3f,"steady_total":$steadyTotal%.3f,"steady_min_total":$steadyMinTotal%.3f,"steady_per_trivial":$steadyPerTrivial%.2f,"steady_per_trivial_cold":$steadyPerTrivialCold%.2f,"trivial_steady_sec":$trivialSteadySec%.3f,$health,"sf":"$sfDir"}"""
    // full detail: one early stdout line + a file (survives log tailing)
    println(full)
    try {
      val w = new java.io.PrintWriter("bench_detail.json", "UTF-8")
      try w.println(full) finally w.close()
    } catch { case _: Throwable => () }
    // content fingerprint of the detail: lands in the compact line so
    // the judge can confirm the COMMITTED bench_detail.json is from
    // the same run the driver's artifact records (round-9 finding: a
    // stale detail was committed while nq said otherwise)
    val detailSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest((full + "\n").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    // sha side-file (r10 verdict #3: the detail_sha stamp CAUGHT a
    // stale committed detail but nothing failed loud). Bench writes
    // the sha next to the detail; BenchArtifactSpec then fails `sbt
    // test` whenever the two committed files disagree — a stale
    // detail can no longer ride a green snapshot.
    try {
      val w = new java.io.PrintWriter("bench_detail.sha", "UTF-8")
      try w.println(detailSha) finally w.close()
    } catch { case _: Throwable => () }

    // Final line must stay SMALL: the driver keeps only the tail of
    // the process log, and the 3-series × full-headline line outgrew
    // that capture in round 8 (BENCH_r08 `parsed: null`). `queries`
    // here carries the steady-state MEDIANS — the series CLAUDE.md
    // says to judge perf from; cold/warm per-query detail lives in the
    // committed bench_detail.json and the earlier full stdout line.
    spark.stop() // stop BEFORE the compact line so shutdown noise precedes it
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${json(steady)},"warm_total":$warmTotal%.3f,"steady_total":$steadyTotal%.3f,"steady_min_total":$steadyMinTotal%.3f,"steady_per_trivial":$steadyPerTrivial%.2f,"steady_per_trivial_cold":$steadyPerTrivialCold%.2f,"trivial_steady_sec":$trivialSteadySec%.3f,$health,"nq":${cold.size},"detail":"bench_detail.json","detail_sha":"$detailSha","sf":"$sfDir"}""")
  }

  /** Full transient-storage reset between sweep phases: free
    * checkpoints, drop every CacheManager entry (dead lazy caches from
    * finished gates AND the shared graph/index caches — the memoized
    * Graft must be forgotten too, else it would serve permanently
    * uncached re-scans), GC twice so ContextCleaner reaps dead
    * broadcasts, then re-warm the shared caches with one cheap gate.
    * Single-threaded sweep mains only (the Sweep safety rule). */
  def resetStorage(spark: SparkSession, sfDir: String): Unit = {
    Sweep.transientStorage(spark)
    spark.catalog.clearCache()
    SparkEntry.dropGraphCache(spark)
    System.gc()
    Thread.sleep(500) // let the async ContextCleaner drain its queue
    System.gc()
    SparkEntry.queries.get("traverse_2hop").foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
  }

  /** Stream every parquet byte under `dir` once so the cold pass runs
    * against a warm page cache (the timing then measures the engine,
    * not whether this VM recently dropped its cache). Returns
    * (bytes read, seconds) — the health probe's sequential-read
    * figure falls out of the warming pass for free. */
  private def touchParquet(dir: String): (Long, Double) = {
    val d = new java.io.File(dir)
    val buf = new Array[Byte](1 << 20)
    var bytes = 0L
    val t0 = System.nanoTime()
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        // per-file guard: one unreadable file must not abort warming
        // the rest (that would silently re-admit the 1.8× cold skew)
        try {
          val in = new java.io.FileInputStream(f)
          try {
            var n = in.read(buf)
            while (n >= 0) { bytes += n; n = in.read(buf) }
          } finally in.close()
        } catch { case _: Throwable => () }
      }
    (bytes, (System.nanoTime() - t0) / 1e9)
  }
}
