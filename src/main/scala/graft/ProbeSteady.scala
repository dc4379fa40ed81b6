package graft

/**
 * Proof probe for the round-10 verdict finding #1 (steady-series
 * contamination): the 2× full-gate cold/warm sweeps leave dead lazy
 * caches + broadcasts that inflate the steady tail 2-5× vs isolated
 * reruns (`dedup_best_survivors` recorded 14.2 s vs 2.2 s isolated).
 *
 * The experiment, in ONE JVM so the box floor cancels:
 *   1. "isolated" — after the normal warmup only, time each probe
 *      gate's steady median (the number an isolated rerun would see);
 *   2. contaminate — run the FULL gate sweep cold+warm, exactly as
 *      Bench does (same per-gate Sweep + periodic GC discipline);
 *   3. "in-sweep" — apply [[Bench.resetStorage]] (the fix) and time
 *      the same steady medians again.
 * PASSES when every in-sweep median ≤ `ratio` × its isolated median
 * (default 1.3, the verdict's bound); exits nonzero otherwise. Gates
 * exceeding the ratio get an A-B-A drift control (this box's job
 * floor drifts ±30%/hour): the gate re-measures isolated after a
 * FRESH resetStorage, and is excused as box drift only when BOTH
 * (a) in-sweep ≈ iso-after and (b) iso-after ≲ ratio × the pre-sweep
 * baseline × the measured trivial-job floor drift — (b) is what keeps
 * persistent contamination (which slows iso-after equally but leaves
 * the storage-free trivial floor untouched) from false-passing as
 * drift (r12 verdict #3). Run with the benched sf for the real
 * claim; sf0.01 for a quick check:
 *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ProbeSteady /root/testdata/sf0.1"
 */
object ProbeSteady {
  /** The FULL headline set (r11 verdict #2: the earlier fixed 4-gate
    * subset couldn't catch contamination or stalls landing on other
    * gates). Override with SPARK_GRAFT_ONLY for a quick targeted run
    * (the historic 4-gate subset was dedup_best_survivors,
    * events_gapfill, join_bloom_prefilter, embed_knn_graph). */
  private def probeGates: Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    Bench.Headline.filter(n => only.forall(_.contains(n)))
  }
  private val ProbeGates = probeGates

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val ratio = if (args.length > 1) args(1).toDouble else 1.3
    val spark = LocalSession("graft-probe-steady", 32, "ERROR")

    var sinceGc = 0
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      val dt = (System.nanoTime() - t0) / 1e9
      Sweep.transientStorage(spark)
      sinceGc += 1
      if (sinceGc >= 25) { sinceGc = 0; System.gc() }
      dt
    }
    def steadyMedian(name: String): Double = {
      val ts = Seq.fill(3)(timeOne(name)).sorted
      ts(1)
    }

    // same JIT warmup + shared-cache startup as Bench
    SparkEntry.queries.get("traverse_2hop").foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    ProbeGates.foreach(timeOne) // JIT-warm the probe gates themselves

    val isolated = ProbeGates.map(n => n -> steadyMedian(n)).toMap
    isolated.foreach { case (n, t) => println(f"isolated  $n%-24s $t%.3f s") }
    // the box's per-job floor AT BASELINE TIME: the drift control's
    // anchor — box drift moves this floor, storage contamination does
    // not (a range-sum touches no cached/checkpointed storage)
    val floorIso = Bench.trivialFloor(spark)
    println(f"trivial-floor at baseline: $floorIso%.3f s")

    println(s"contaminating: full cold+warm sweep over " +
      s"${SparkEntry.queries.size} gates at $sfDir ...")
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach(timeOne); names.foreach(timeOne)

    Bench.resetStorage(spark, sfDir)
    val inSweep = ProbeGates.map(n => n -> steadyMedian(n)).toMap
    var ok = true
    inSweep.foreach { case (n, t) =>
      // quarter-second denominator floor: contamination manifests as
      // SECONDS of re-scan (r10: 14.2 s on a 2.2 s gate), while a
      // sub-0.1 s gate swings tens of ms on pure scheduler jitter —
      // a ratio test below the box's per-job floor tests noise, not
      // storage (measured: hasvalue_any 91 ms vs 60 ms "failing" 1.3×)
      val r = t / math.max(isolated(n), 0.25)
      // A-B-A control for the gates that exceed the ratio: the
      // "isolated" baseline was measured up to an hour earlier on a
      // box whose per-job floor drifts ±30%, and the longest
      // (most-jobs) gates amplify that drift linearly. Re-measuring
      // ISOLATED now — after a FRESH resetStorage, so the re-measure
      // does not share the suspect storage state — distinguishes the
      // two causes, but "in-sweep ≈ iso-after" alone cannot (r12
      // verdict #3: persistent contamination that survives
      // resetStorage slows the re-measure equally and false-passes as
      // drift). The control therefore ALSO requires the excuse to be
      // visible in the box's own per-job floor: genuine drift moves
      // the trivial-job floor (floorNow/floorIso), while dead-storage
      // contamination does not (a range-sum touches no storage) — so
      // OK(drift) needs BOTH in-sweep ≈ iso-after AND iso-after ≲
      // ratio × isolated-before × the measured floor-drift factor.
      val verdict =
        if (r <= ratio) "OK"
        else {
          Bench.resetStorage(spark, sfDir)
          val after = steadyMedian(n)
          val floorNow = Bench.trivialFloor(spark)
          val drift = math.max(floorNow / math.max(floorIso, 1e-3), 1.0)
          val r2 = t / math.max(after, 0.25)
          val r3 = after /
            math.max(isolated(n) * drift, 0.25)
          println(f"iso-after $n%-24s $after%.3f s  (drift control: " +
            f"floor $floorIso%.3f -> $floorNow%.3f, x$drift%.2f)")
          if (r2 <= ratio && r3 <= ratio)
            f"OK (box drift: iso-after ${after}%.3f s at x$drift%.2f floor)"
          else { ok = false; "FAIL" }
        }
      println(f"in-sweep  $n%-24s $t%.3f s  (${r}%.2fx isolated) $verdict")
    }
    spark.stop()
    if (!ok) {
      println(s"FAIL: in-sweep steady exceeds ${ratio}x isolated and " +
        "the drift control could not excuse it (iso-after diverges " +
        "from in-sweep, or exceeds the floor-drift-scaled baseline) — " +
        "resetStorage is not releasing the sweep's storage")
      sys.exit(1)
    }
    println("PASS: post-reset in-sweep steady matches isolated steady")
  }
}
