package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ConnectException, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._

import graft.gremlin.{Graft, StepParser}
import graft.operators.GraphAlgos
import graft.sources.GraphStore

/**
 * The engine side of the benchmark: one JVM per run. `run.py` writes a
 * spec file (workload, data dir, seconds, the generated operations) and
 * reads back a TSV of metrics, per-operation timings and answers, and
 * spans. Answers are checked by `run.py`, not here.
 *
 *   Harness <spec-file>          run one workload
 *   Harness oracle <gate>...     print SparkEntry.oracleSql entries
 *
 * Served workloads start the real `graft.Server` main in this JVM and
 * talk to it over its line protocol; `graph-batch` calls
 * `graft.operators.GraphAlgos` directly. Tracing (listener, job groups,
 * spans, the in-process replay) is on only in a traced run.
 */
object Harness extends AdaptiveSparkPlanHelper {
  final case class Op(id: Int, text: String)
  final case class Ddl(metric: String, stmt: String)
  final case class Done(seq: Int, op: Int, start: Double, end: Double,
                        ok: Boolean, answer: String)

  final class Spec(lines: Seq[Array[String]]) {
    private val kv = lines.collect { case Array(k, v) => k -> v }.toMap
    def apply(k: String): String =
      kv.getOrElse(k, sys.error(s"spec is missing '$k'"))
    val ddls: Seq[Ddl] = lines.collect { case Array("ddl", m, s) => Ddl(m, s) }
    val warm: Seq[String] = lines.collect { case Array("warm", q) => q }
    val ops: IndexedSeq[Op] =
      lines.collect { case Array("op", i, q) => Op(i.toInt, q) }.toIndexedSeq
    val replay: Seq[Op] =
      lines.collect { case Array("replay", i, q) => Op(i.toInt, q) }
    val traced: Boolean = apply("trace") == "1"
    val seconds: Double = apply("seconds").toDouble
    val data: String = apply("data")
  }

  private val origin = System.nanoTime()
  /** Harness clock: ms since this JVM's harness started. */
  def now(): Double = (System.nanoTime() - origin) / 1e6

  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val out = new ConcurrentLinkedQueue[String]()

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: gates =>
      gates.foreach { g =>
        val sql = graft.SparkEntry.oracleSql.getOrElse(g,
          sys.error(s"no oracle SQL for $g"))
        println(g + "\t" + java.util.Base64.getEncoder
          .encodeToString(sql.getBytes(UTF_8)))
      }
    case specPath :: Nil =>
      val spec = new Spec(Files.readAllLines(Paths.get(specPath), UTF_8)
        .asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", -1)))
      val code = try {
        HeapWatch.start()
        spec("workload") match {
          case "graph-batch" => graphBatch(spec)
          case _ => served(spec)
        }
        write(spec("out"))
        0
      } catch { case e: Throwable => e.printStackTrace(); 3 }
      // results are on disk and run.py deletes the run's Spark dirs:
      // skip the orderly Spark shutdown
      System.out.flush(); System.err.flush()
      Runtime.getRuntime.halt(code)
    case _ =>
      System.err.println("usage: Harness <spec-file> | oracle <gate>...")
      System.exit(2)
  }

  private def clean(s: String): String =
    s.replace('\t', ' ').replace('\n', ' ').replace('\r', ' ')

  private def write(path: String): Unit = {
    val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path), UTF_8))
    try {
      metrics.foreach { case (k, v) => w.println(s"m\t$k\t$v") }
      out.asScala.foreach(w.println)
    } finally w.close()
  }

  // ---------------------------------------------------------------- served

  /** A client connection speaking Server's line protocol. */
  final class Conn(port: Int) {
    private val sock = new Socket("localhost", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, UTF_8))
    private val pw = new PrintWriter(
      new java.io.OutputStreamWriter(sock.getOutputStream, UTF_8), false)
    /** Result lines up to `#done`, and whether no ERROR line came. */
    def roundTrip(q: String): (Seq[String], Boolean) = {
      pw.println(q); pw.flush()
      val buf = Seq.newBuilder[String]
      var ok = true
      var l = in.readLine()
      while (l != null && l != "#done") {
        if (l.startsWith("ERROR")) ok = false
        buf += l
        l = in.readLine()
      }
      if (l == null) throw new java.io.IOException("server closed")
      (buf.result(), ok)
    }
    def close(): Unit = {
      try { pw.println("exit"); pw.flush() } catch { case _: Throwable => () }
      sock.close()
    }
  }

  private def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def served(spec: Spec): Unit = {
    val port = freePort()
    @volatile var serverFailure: Throwable = null
    val main = new Thread(() =>
      try graft.Server.main(Array(spec.data, port.toString))
      catch { case e: Throwable => serverFailure = e }, "graft-server-main")
    main.setDaemon(true)
    main.start()
    def alive(): Unit = if (!main.isAlive) throw new IllegalStateException(
      s"graft.Server main ended: $serverFailure", serverFailure)

    var session: Option[SparkSession] = None
    while (session.isEmpty) {
      alive(); session = SparkSession.getDefaultSession; Thread.sleep(2)
    }
    val spark = session.get
    val tSession = now()
    val counts = if (spec.traced) Some(new Counts) else None
    counts.foreach(spark.sparkContext.addSparkListener)
    var ctl: Conn = null
    while (ctl == null) {
      alive()
      try ctl = new Conn(port)
      catch { case _: ConnectException => Thread.sleep(10) }
    }
    metrics("graphstore.load_ms") = now() - tSession
    spec.ddls.foreach { d =>
      val t0 = now()
      val (lines, ok) = ctl.roundTrip(d.stmt)
      if (!ok) sys.error(s"${d.stmt}: ${lines.mkString(" ")}")
      metrics(d.metric) = now() - t0
    }
    metrics("setup_done_epoch_ms") = System.currentTimeMillis().toDouble
    health(spark)

    // warm-up: the same clients for warm_seconds, answers unchecked
    runLoop(spec.warm.zipWithIndex.map { case (q, i) => Op(i, q) }.toIndexedSeq,
      spec("clients").toInt, 1, spec("warm_seconds").toDouble,
      () => { val c = new Conn(port); (q: String) => serve(c, q) })
    System.gc()

    val done = timed(spec, counts, spark) {
      runLoop(spec.ops, spec("clients").toInt, spec("unit").toInt,
        spec.seconds,
        () => { val c = new Conn(port); (q: String) => serve(c, q) })
    }
    record(done)
    endState(spark)

    if (spec.traced) replay(spec, spark, ctl, counts.get)
    ctl.close()
  }

  private def serve(c: Conn, q: String): (Boolean, String) = {
    val (lines, ok) = c.roundTrip(q)
    (ok, lines.mkString("\u001f"))
  }

  /**
   * Closed loop: `clients` threads each take the next operation (the
   * list cycles) and send the one after only when the answer is back.
   * A client stops at the first `unit` boundary after `seconds`.
   */
  private def runLoop(ops: IndexedSeq[Op], clients: Int, unit: Int,
                      seconds: Double,
                      connect: () => String => (Boolean, String)): Seq[Done] = {
    if (ops.isEmpty) return Seq.empty
    val results = new ConcurrentLinkedQueue[Done]()
    val cursor = new AtomicInteger(0)
    val start = now()
    val deadline = start + seconds * 1000
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to clients).map { c =>
      val t = new Thread(() => {
        try {
          val call = connect()
          var go = true
          while (go) {
            val i = cursor.getAndIncrement()
            if (i % unit == 0 && now() >= deadline && i > 0)
              go = false
            else {
              val op = ops(i % ops.size)
              val s0 = now()
              val (ok, answer) =
                try call(op.text)
                catch { case e: Exception => (false, "ERROR: " + clean(e.toString)) }
              results.add(Done(i, op.id, s0, now(), ok, answer))
            }
          }
        } catch { case e: Throwable => failures.add(e) }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    results.asScala.toSeq.sortBy(_.seq)
  }

  /** Run the timed region; records its wall time, GC time and, when
    * traced, the Spark counts cut to the region. */
  private def timed(spec: Spec, counts: Option[Counts], spark: SparkSession)
                   (body: => Seq[Done]): Seq[Done] = {
    val gc0 = gcMs()
    val e0 = System.currentTimeMillis()
    val r0 = now()
    val done = body
    val r1 = now()
    val e1 = System.currentTimeMillis()
    metrics("region_ms") = r1 - r0
    metrics("jvm.gc_ms") = gcMs() - gc0
    counts.foreach { c =>
      Thread.sleep(500) // let the listener bus deliver the region's events
      val w = c.window(e0, e1)
      val ops = math.max(1, done.size).toDouble
      val cores = spark.sparkContext.defaultParallelism.toDouble
      val wall = math.max(1.0, (e1 - e0).toDouble)
      metrics("spark.jobs_per_op") = w.jobs / ops
      metrics("spark.stages_per_op") = w.stages / ops
      metrics("spark.tasks_per_op") = w.tasks / ops
      metrics("spark.task_s_per_op") = w.taskMs / 1000.0 / ops
      metrics("spark.sched_delay_ms") = median(w.schedDelayMs.map(_.toDouble))
      metrics("spark.busy_share") = w.taskMs / (wall * cores)
      metrics("spark.driver_gap_share") = 1.0 - w.jobBusyMs / wall
      metrics("spark.shuffle_bytes_per_op") = w.shuffleBytes / ops
      metrics("spark.spill_bytes_per_op") = w.spillBytes / ops
    }
    done
  }

  private def record(done: Seq[Done]): Unit = done.foreach { d =>
    out.add(Seq("op", d.seq, d.op, f"${d.start}%.3f", f"${d.end}%.3f",
      if (d.ok) 1 else 0, clean(d.answer)).mkString("\t"))
  }

  /**
   * Storage held after the timed region, and the JVM's peak memory. The
   * heap is fixed and pre-touched, so VmHWM holds all of it whatever the
   * program does; `rss_peak_mb` counts the heap instead by its peak use
   * after a collection: VmHWM - committed heap + that peak.
   */
  private def endState(spark: SparkSession): Unit = {
    val rdds = spark.sparkContext.getRDDStorageInfo
    metrics("storage_mb") = rdds.map(r => r.memSize + r.diskSize).sum / 1e6
    val mb = 1024.0 * 1024.0
    val vmHwm = Files.readAllLines(Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getCommitted / mb
    val live = HeapWatch.afterGcPeak / mb
    metrics("mem.vmhwm_mb") = vmHwm
    metrics("mem.heap_committed_mb") = heap
    metrics("mem.heap_peak_after_gc_mb") = live
    metrics("rss_peak_mb") = vmHwm - heap + live
  }

  /**
   * Traced run only: each replayed query once more over the wire from
   * one client (no contention), then in-process through the layers the
   * server would call: parse, compile, plan, execute. The in-process
   * pass runs second, so it finds the same warm caches the round trip
   * left.
   */
  private def replay(spec: Spec, spark: SparkSession, ctl: Conn,
                     counts: Counts): Unit = {
    val spans = new Spans(() => now())
    // equal plans share the server's cache entries, so this only
    // registers the same cached graph and postings once more
    val g = Graft(GraphStore.tpch(spark, spec.data).cached())
    spec.ddls.foreach(d => g.ddl(d.stmt))
    val postingCaches: Seq[AnyRef] = spec.ddls.flatMap { d =>
      val m = """(?i)BuildIndex\(\s*([VE])\s*,\s*'([^']+)'\s*\)""".r
        .findFirstMatchIn(d.stmt).get
      g.index.get(m.group(1).equalsIgnoreCase("V"), m.group(2)).flatMap(
        _.postings.queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation => r.cacheBuilder: AnyRef })
    }
    val sc = spark.sparkContext
    def grouped[T](group: String)(f: => T): T = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }
    spec.replay.foreach { op =>
      val id = op.id.toString
      val q = op.text
      val (lines, ok) = spans("server.roundtrip", id)(ctl.roundTrip(q))
      spans("gremlin.parse", id, "replay")(StepParser.parse(q))
      grouped(s"compile-$id")(spans("gremlin.compile", id, "replay")(g.compile(q)))
      val df = grouped(s"compile-$id")(g.df(q))
      spans("gremlin.plan", id, "replay")(df.queryExecution.executedPlan)
      val rows = spans("gremlin.exec", id, "replay")(df.collect())
      val plan = df.queryExecution.executedPlan
      val scanned = collectWithSubqueries(plan) {
        case p if p.children.isEmpty => p.metrics.get("numOutputRows")
          .map(_.value).getOrElse(0L)
      }.sum
      val seeded = collectWithSubqueries(plan) {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder: AnyRef
      }.exists(b => postingCaches.exists(_ eq b))
      out.add(Seq("replay", id, if (ok) 1 else 0, rows.length, scanned,
        if (seeded) 1 else 0, clean(lines.mkString("\u001f"))).mkString("\t"))
    }
    Thread.sleep(500)
    spec.replay.foreach { op =>
      out.add(s"jobs\tcompile\t${op.id}\t${counts.jobsIn(s"compile-${op.id}")}")
    }
    spans.all.foreach(emit)
  }

  private def emit(s: Span): Unit =
    out.add(Seq("span", s.name, f"${s.start}%.3f", f"${s.end}%.3f",
      s.parent, s.op).mkString("\t"))

  // ----------------------------------------------------------- graph-batch

  private def graphBatch(spec: Spec): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the settings of the graft.Bench main
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counts = if (spec.traced) Some(new Counts) else None
    counts.foreach(spark.sparkContext.addSparkListener)
    val t0 = now()
    val graph = GraphStore.tpch(spark, spec.data).cached()
    graph.vertices.count(); graph.edges.count()
    metrics("graphstore.load_ms") = now() - t0
    metrics("setup_done_epoch_ms") = System.currentTimeMillis().toDouble
    health(spark)

    val spans = new Spans(() => now())
    val stateRoot = Paths.get(spec("state"))
    val sc = spark.sparkContext
    val seq = new AtomicInteger(0)
    val call: String => (Boolean, String) = name => {
      val id = seq.getAndIncrement().toString
      if (spec.traced) sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
      val state = stateRoot.resolve(s"cc_$id")
      try {
        val rows = spans(name, id)(graphOp(spark, spec.data, name, state, spans, id))
        (true, render(rows))
      } finally {
        if (spec.traced) {
          sc.clearJobGroup()
          if (Files.isDirectory(state)) {
            val files = Files.walk(state).iterator().asScala
              .filter(Files.isRegularFile(_)).toSeq
            out.add(s"state\t$id\t${files.size}\t${files.map(Files.size).sum}")
          }
        }
        spans("sweep", id)(graft.Sweep.transientStorage(spark))
        deleteTree(state)
      }
    }
    val done = timed(spec, counts, spark) {
      runLoop(spec.ops, 1, spec("unit").toInt, spec.seconds,
        () => call)
    }
    record(done)
    endState(spark)
    if (spec.traced) {
      Thread.sleep(500)
      done.foreach(d => out.add(s"jobs\top\t${d.seq}\t${counts.get.jobsIn(s"op-${d.seq}")}"))
      // edges ingested by one graph_cc_compacted operation (all drops)
      out.add(s"m\tstatestore.edges_ingested\t${ccEdges(GraphStore.tpch(spark, spec.data)).count()}")
    }
    spans.all.foreach(emit)
  }

  private def ccEdges(g0: GraphStore): DataFrame =
    g0.edges.filter(col("label") === "placed" || col("quantity") >= 52.0)
      .select(col("src"), col("dst"))

  /**
   * One graph operation. Five are the `graft.SparkEntry` gates of the
   * same name, called as the program defines them; `graph_cc_compacted`
   * is spelled out here so that its ingests and compaction get spans of
   * their own and its state lives under the run's state dir.
   */
  private def graphOp(spark: SparkSession, data: String, name: String,
                      state: Path, spans: Spans, id: String): Array[Row] =
    name match {
      case "graph_cc_compacted" =>
        val sub = ccEdges(GraphStore.tpch(spark, data)).localCheckpoint()
        val dir = state.toString
        def drop(r: Int) = sub.filter(pmod(col("src") + col("dst"), lit(3)) === r)
        spans("statestore.ingest", id, name)(GraphAlgos.ccIncremental(drop(0), dir))
        spans("statestore.ingest", id, name)(GraphAlgos.ccIncremental(drop(1), dir))
        spans("statestore.compact", id, name)(GraphAlgos.ccCompact(spark, dir))
        spans("statestore.ingest", id, name)(GraphAlgos.ccIncremental(drop(2), dir))
          .groupBy(col("component").as("root"))
          .agg(count(lit(1)).as("size")).collect()
      case gate =>
        val q = graft.SparkEntry.queries.getOrElse(gate,
          sys.error(s"unknown graph operation $gate"))
        q(spark, data).collect()
    }

  /** Row count, md5 of the sorted rows (columns in name order), and the
    * rows themselves when there are few. */
  private def render(rows: Array[Row]): String = {
    if (rows.isEmpty) return "n=0;md5=;rows="
    val names = rows.head.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val lines = rows.map(r => order.map(i =>
      if (r.isNullAt(i)) "" else r.get(i).toString).mkString(",")).sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes(UTF_8)).map(b => f"$b%02x").mkString
    val shown = if (lines.length <= 50) lines.mkString("\u001f") else ""
    s"n=${lines.length};md5=$md5;rows=$shown"
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  // ---------------------------------------------------------------- health

  /** Box-drift record: the median of 5 trivial jobs and a fixed CPU spin
    * (the graft.Bench health probes), taken after set-up. */
  private def health(spark: SparkSession): Unit = {
    val jobs = (1 to 5).map { _ =>
      val t0 = now()
      spark.range(1L << 20).selectExpr("sum(id)").collect()
      now() - t0
    }
    metrics("health.trivial_job_ms") = median(jobs)
    val t0 = now()
    var acc = 0L
    var z = 0x243F6A8885A308D3L
    var it = 0
    while (it < 50000000) {
      z += 0x9E3779B97F4A7C15L
      var m = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      m = (m ^ (m >>> 27)) * 0x94D049BB133111EBL
      acc ^= m ^ (m >>> 31)
      it += 1
    }
    metrics("health.cpu_spin_ms") = now() - t0
    metrics("health.spin_check") = (acc & 1).toDouble
  }

  private def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Heap use as the program drives it: the peak of the heap still in use
  * after a collection, read from the JVM's GC notifications. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  def start(): Unit = {
    val heapNames = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapNames(k) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max)
          }, null, null)
      case _ => ()
    }
  }
  def afterGcPeak: Long = peak.get
}
