package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{ListenerDrain, SparkListener,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * The one probe main: per-gate Spark accounting through ONE listener
 * ([[Probe.Listener]]), in four modes.
 *
 *   SPARK_GRAFT_CPUS=16 sbt "runMain graft.Probe jobs <sfDir> graph_kcore,graph_scc 3"
 *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.Probe stages <sfDir> ann_recall_ivf_refit"
 *   sbt "runMain graft.Probe plan <sfDir> plans/r15/audit [gate,gate]"
 *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.Probe phases <sfDir> refit 3"
 *
 *  - `jobs <sf> <gate[,gate…]> [reps]`: per gate, one warm run, then
 *    `reps` (default 3) measured runs, each printing wall seconds, jobs,
 *    stages, tasks and summed task seconds — the split between
 *    floor-bound gates (many tiny jobs) and work-bound ones (few jobs,
 *    big task totals). Ends with the same-JVM trivial-job floor
 *    ([[Bench.trivialFloor]]): gate latency ÷ floor is the
 *    box-drift-cancelling ratio an A-B-A compares.
 *  - `stages <sf> <gate>`: one warm run, then one measured run broken
 *    down per stage callsite (stages, tasks, summed task time), sorted
 *    by task time — which operator's stages carry the task waves.
 *  - `plan <sf> <outDir> [gate,gate…]`: `.explain("formatted")` of every
 *    (or the listed) `SparkEntry.queries` gate, one `<gate>.txt` per
 *    gate under `outDir`, plus one red-flag summary line per gate
 *    ([[planSummary]]). Eager gates (state ingests, the repeat() driver
 *    loop) run their plan-time jobs against fresh state dirs, as a
 *    bench invocation would; the dump is the returned frame's plan.
 *  - `phases <sf> <refit|cc> [reps]`: replays a composite
 *    incremental-state gate (ann_recall_ivf_refit, graph_cc_compacted)
 *    phase by phase, one accounting line per phase: one warm pass, then
 *    `reps` (default 3) passes.
 */
object Probe {

  /** What one measured call did: wall seconds; jobs, and their stages
    * counted at job start (skipped stages included); tasks, summed task
    * ms and each task's ms; per stage callsite, (stages submitted,
    * tasks, task ms). */
  final case class Counts(sec: Double, jobs: Long, stages: Long,
      tasks: Long, taskMs: Long, taskDurations: Seq[Long],
      perStage: Map[String, (Long, Long, Long)]) {
    def line: String =
      f"$sec%.2fs jobs=$jobs stages=$stages tasks=$tasks " +
        f"taskSec=${taskMs / 1000.0}%.1f"
  }

  /** The probe's one listener. A stage is attributed to the first
    * `graft.` frame of its submission stack (not the generic future
    * call site AQE submits from), skipping the probe mains and
    * `graft.Sweep`. */
  final class Listener private[Probe] (spark: SparkSession)
      extends SparkListener {
    private val jobs, stages, tasks, taskMs = new AtomicLong()
    private val durations = new ConcurrentLinkedQueue[java.lang.Long]()
    private val stageNames = new ConcurrentHashMap[Int, String]()
    private val perStage =
      new ConcurrentHashMap[String, (Long, Long, Long)]()
    private def add(name: String, v: (Long, Long, Long)): Unit =
      perStage.merge(name, v,
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      val frame = s.stageInfo.details.linesIterator.map(_.trim)
        .find(l => l.startsWith("graft.") &&
          !l.startsWith("graft.Probe") && !l.startsWith("graft.Sweep"))
        .map(_.replaceAll("\\$anonfun\\$|\\(.*?\\)", " ").trim)
        .getOrElse("")
      val name = s.stageInfo.name.takeWhile(_ != '(').trim +
        (if (frame.nonEmpty) s"  [$frame]" else "")
      stageNames.put(s.stageInfo.stageId, name)
      add(name, (1L, 0L, 0L))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) {
        val ms = t.taskInfo.duration
        tasks.incrementAndGet(); taskMs.addAndGet(ms); durations.add(ms)
        add(stageNames.getOrDefault(t.stageId, "?"), (0L, 1L, ms))
      }

    /** Run `f` and count the Spark work it did. The listener bus is
      * drained before the counters reset (earlier jobs' late events are
      * not counted) and after `f` returns (every event of `f`'s jobs
      * is). */
    def measure[T](f: => T): (T, Counts) = {
      ListenerDrain(spark.sparkContext)
      Seq(jobs, stages, tasks, taskMs).foreach(_.set(0))
      durations.clear(); stageNames.clear(); perStage.clear()
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerDrain(spark.sparkContext)
      (r, Counts(sec, jobs.get(), stages.get(), tasks.get(), taskMs.get(),
        durations.asScala.map(_.longValue()).toSeq,
        perStage.asScala.toMap))
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** Install a [[Listener]] on `spark`'s context. */
  def listen(spark: SparkSession): Listener = {
    val l = new Listener(spark)
    spark.sparkContext.addSparkListener(l)
    l
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Probe jobs <sf> <gate[,gate...]> [reps] | " +
      "stages <sf> <gate> | plan <sf> <outDir> [gate,gate...] | " +
      "phases <sf> <refit|cc> [reps]"
    if (args.length < 3 ||
        !Set("jobs", "stages", "plan", "phases").contains(args(0))) {
      System.err.println(usage); sys.exit(2)
    }
    val (mode, sfDir) = (args(0), args(1))
    val spark = LocalSession("graft-probe", 16, "ERROR")
    mode match {
      case "jobs" =>
        jobs(spark, sfDir, args(2).split(",").map(_.trim).toSeq,
          args.lift(3).fold(3)(_.toInt))
      case "stages" => stages(spark, sfDir, args(2))
      case "plan" =>
        plan(spark, sfDir, args(2),
          args.lift(3).map(_.split(",").map(_.trim).toSet))
          .foreach(println)
      case "phases" =>
        phases(spark, sfDir, args(2), args.lift(3).fold(3)(_.toInt))
    }
    spark.stop()
  }

  private def jobs(spark: SparkSession, sfDir: String,
                   gates: Seq[String], reps: Int): Unit = {
    val probe = listen(spark)
    gates.foreach { gate =>
      val fn = SparkEntry.queries(gate)
      fn(spark, sfDir).count() // warm (JIT + shared caches)
      Sweep.transientStorage(spark)
      for (i <- 1 to reps) {
        val (rows, c) = probe.measure(fn(spark, sfDir).count())
        Sweep.transientStorage(spark)
        println(s"$gate run$i: ${c.line} rows=$rows")
      }
    }
    probe.close()
    println(f"trivial_floor: ${Bench.trivialFloor(spark)}%.3f s")
  }

  private def stages(spark: SparkSession, sfDir: String,
                     gate: String): Unit = {
    val probe = listen(spark)
    val fn = SparkEntry.queries(gate)
    fn(spark, sfDir).count() // warm
    Sweep.transientStorage(spark)
    val (_, c) = probe.measure(fn(spark, sfDir).count())
    Sweep.transientStorage(spark)
    probe.close()
    println(f"$gate wall=${c.sec}%.2fs")
    c.perStage.toSeq.sortBy(-_._2._3).foreach { case (n, (st, tk, ms)) =>
      println(f"  ${ms / 1000.0}%8.1fs tasks=$tk%-5d stages=$st%-4d $n")
    }
    println(f"  TOTAL taskSec=${c.taskMs / 1000.0}%.1f " +
      f"tasks=${c.tasks} stages=${c.perStage.values.map(_._1).sum}")
  }

  /** Writes `<outDir>/<gate>.txt` per gate (all gates, or those in
    * `only`) and returns one summary line per gate, in name order. */
  private[graft] def plan(spark: SparkSession, sfDir: String,
      outDir: String, only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
        val line =
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val w = new java.io.PrintWriter(s"$outDir/$name.txt", "UTF-8")
            try w.println(plan) finally w.close()
            planSummary(name, plan)
          } catch {
            // NonFatal only: after a VM error (OOM, linkage) the later
            // gates' plan lines can't be trusted, so it aborts the sweep
            case scala.util.control.NonFatal(e) =>
              f"$name%-36s ERROR ${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").take(120)
          }
        Sweep.transientStorage(spark)
        line
      }
  }

  /** The red-flag line of one formatted plan: Exchange count, join
    * strategies, cartesian/BNLJ presence, Window presence, and scans
    * whose `PushedFilters` is empty. */
  private def planSummary(name: String, plan: String): String = {
    def n(re: String): Int = re.r.findAllIn(plan).size
    f"$name%-36s ex=${n("\\bExchange\\b")}%-3d " +
      f"smj=${n("SortMergeJoin")}%-2d bhj=${n("BroadcastHashJoin")}%-2d " +
      f"shj=${n("ShuffledHashJoin")}%-2d " +
      f"bnlj=${n("BroadcastNestedLoopJoin")}%-2d " +
      f"cart=${n("CartesianProduct")}%-2d win=${n("\\bWindow\\b")}%-2d " +
      f"scans=${n("Scan parquet")}%-2d " +
      f"nofilter=${n("PushedFilters: \\[\\]")}%-2d"
  }

  private def phases(spark: SparkSession, sfDir: String,
                     which: String, reps: Int): Unit = {
    val probe = listen(spark)
    def phase(label: String)(f: => Unit): Unit =
      println(f"  $label%-12s ${probe.measure(f)._2.line}")
    val ops = graft.operators.SimilarityOps
    val ga = graft.operators.GraphAlgos
    def refit(): Unit = {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
      val state = SparkEntry.freshStateDir("graft_probe_refit")
      phase("ingest1")(ops.ivfIncremental(
        e.filter(col("vec_id") < 300), state, kCells = 8).count())
      phase("ingest2")(ops.ivfIncremental(
        e.filter(col("vec_id") >= 300), state).count())
      phase("refit")(ops.ivfRefit(spark, state, kCells = 16))
      phase("query")(ops.recallAtK(
        ops.ivfIncrementalTopK(q, state, nprobe = 8, k = 5),
        ops.bruteForceTopK(q, e, k = 5), k = 5, floor = 1).count())
    }
    def cc(): Unit = {
      val g0 = sources.GraphStore.tpch(spark, sfDir)
      val sub = g0.edges
        .filter(col("label") === "placed" || col("quantity") >= 52.0)
        .select(col("src"), col("dst")).localCheckpoint()
      val state = SparkEntry.freshStateDir("graft_probe_ccc")
      def third(k: Int) =
        sub.filter(pmod(col("src") + col("dst"), lit(3)) === k)
      phase("ingest1")(ga.ccIncremental(third(0), state).count())
      phase("ingest2")(ga.ccIncremental(third(1), state).count())
      phase("compact")(ga.ccCompact(spark, state))
      phase("ingest3")(ga.ccIncremental(third(2), state)
        .groupBy(col("component").as("root"))
        .agg(count(lit(1)).as("size")).count())
    }
    val run: () => Unit = which match {
      case "refit" => () => refit()
      case "cc" => () => cc()
      case other => sys.error(s"unknown phases target: $other (refit|cc)")
    }
    for (i <- 0 to reps) {
      println(if (i == 0) s"$which warm:" else s"$which rep $i:")
      run()
      Sweep.transientStorage(spark)
    }
    probe.close()
  }
}
