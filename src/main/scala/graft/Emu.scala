package graft

import graft.gremlin.Graft
import graft.sources.GraphStore
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random

/**
 * Throughput-emulation harness — the Spark rendering of the reference's
 * `emu` mode (`driver/worker.hpp:91-261`): query templates with
 * placeholder values drawn from the data, executed by concurrent
 * clients, reporting q/s and a latency CDF
 * (`base/throughput_monitor.hpp`).
 *
 * Template placeholders: `$RAND(key)` substitutes a random vertex
 * property value of `key` (sampled once up-front, fixed seed —
 * mirroring the reference's draw from the index store).
 *
 *   sbt "runMain graft.Emu /root/testdata/sf0.01 8 100"
 *   sbt "runMain graft.Emu modern 4 50 'g.V().has(\'name\', eq($RAND(name))).out().count()'"
 */
object Emu {

  private val keyRe = """\$RAND\(([A-Za-z_]+)\)""".r
  /** The distinct `$RAND(key)` keys the templates draw from. */
  private[graft] def keysOf(templates: Seq[String]): Seq[String] =
    templates.flatMap(t => keyRe.findAllMatchIn(t).map(_.group(1))).distinct

  /** Substitute each `$RAND(key)` with a value drawn from `pools(key)`:
    * numeric values stay bare, strings get quoted; quoteReplacement so
    * '$'/'\' in data values aren't read as group references. */
  private[graft] def instantiate(t: String, pools: Map[String, Array[String]],
                                 rand: Random): String =
    keyRe.replaceAllIn(t, m => {
      val pool = pools(m.group(1))
      val v = pool(rand.nextInt(pool.length))
      scala.util.matching.Regex.quoteReplacement(
        if (v.matches("-?[0-9.]+")) v
        else "'" + v.replace("'", "\\'") + "'")
    })

  val DefaultTemplates: Seq[String] = Seq(
    "g.V().has('nationkey', eq($RAND(nationkey))).count()",
    "g.V().has('name', eq($RAND(name))).out('placed').values('totalprice').sum()",
    "g.V().hasLabel('part').has('brand', eq($RAND(brand))).in('contains').count()",
    "g.V().has('mktsegment', eq($RAND(mktsegment))).out('placed').has('totalprice', gt(100000.0)).count()",
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val concurrency = args.lift(1).map(_.toInt).getOrElse(8)
    val iterations = args.lift(2).map(_.toInt).getOrElse(100)
    val templates =
      if (args.length > 3) args.drop(3).toSeq else DefaultTemplates

    val spark = LocalSession("graft-emu", 32, "ERROR", serving = true)

    val graph = (if (sfDir == "modern") GraphStore.modern(spark)
                 else GraphStore.tpch(spark, sfDir)).cached()
    graph.vertices.count(); graph.edges.count() // warm the cache
    val g = Graft(graph)
    // serve like the reference's emu mode: point templates draw values
    // from (and are answered by) the posting-list indexes
    keysOf(templates).foreach(k =>
      if (graph.vertices.columns.contains(k)) g.ddl(s"BuildIndex(V, '$k')"))

    // sample substitution pools once, fixed seed (reference: $RAND from
    // the index store, worker.hpp:184-199)
    val rand = new Random(42)
    val keys = keysOf(templates)
    val pools: Map[String, Array[String]] = keys.map { k =>
      k -> graph.vertices.select(k).where(s"$k IS NOT NULL")
        .distinct().limit(1000).collect().map(_.get(0).toString)
    }.toMap

    // pre-instantiate the full workload deterministically
    val workload = (0 until iterations).map(i =>
      instantiate(templates(i % templates.length), pools, rand))
    // what Server serves: the console rendering of each answer
    closedLoop("throughput", workload, concurrency) { () =>
      q => { g.strings(q); true }
    }
    spark.stop()
  }

  /** Closed-loop load: `concurrency` client threads each open one
    * client with `newClient()` and pull queries off a shared cursor
    * until `workload` is used up. A query counts (and its latency is
    * kept) when the client returns true; false or a throw counts as an
    * error. Prints one JSON line: `metric`, qps, queries, errors,
    * wall_sec, lat_ms p50/p95/p99 and concurrency. */
  private[graft] def closedLoop(metric: String, workload: IndexedSeq[String],
      concurrency: Int)(newClient: () => String => Boolean): Unit = {
    val latencies = new ConcurrentLinkedQueue[Double]()
    val errors = new AtomicInteger(0)
    val queriesRun = new AtomicInteger(0)
    val cursor = new AtomicInteger(0)
    val done = new CountDownLatch(concurrency)

    val t0 = System.nanoTime()
    (1 to concurrency).foreach { _ =>
      new Thread(() => {
        try {
          val run = newClient()
          var i = cursor.getAndIncrement()
          while (i < workload.length) {
            val s0 = System.nanoTime()
            try {
              if (run(workload(i))) {
                latencies.add((System.nanoTime() - s0) / 1e6)
                queriesRun.incrementAndGet()
              } else errors.incrementAndGet()
            } catch { case _: Throwable => errors.incrementAndGet() }
            i = cursor.getAndIncrement()
          }
        } finally done.countDown()
      }).start()
    }
    done.await()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val lats = latencies.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue()).sorted
    def pct(p: Double): Double =
      if (lats.isEmpty) 0 else lats(math.min(lats.length - 1,
        (p * lats.length).toInt))
    val qps = queriesRun.get() / wallSec
    println(f"""{"metric":"$metric","qps":$qps%.1f,"queries":${queriesRun.get()},"errors":${errors.get()},"wall_sec":$wallSec%.2f,"lat_ms":{"p50":${pct(0.5)}%.1f,"p95":${pct(0.95)}%.1f,"p99":${pct(0.99)}%.1f},"concurrency":$concurrency}""")
  }
}
