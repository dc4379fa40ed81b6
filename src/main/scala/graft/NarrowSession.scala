package graft

import org.apache.spark.sql.SparkSession

/**
 * The one builder for graft's AQE-off child sessions: `apply(parent,
 * width)` is `parent.newSession()` with
 *  - `spark.sql.adaptive.enabled=false` and
 *    `spark.sql.shuffle.partitions=width` (static plans: one driver job
 *    per query instead of one per exchange, no per-stage
 *    re-optimization — the latency of small plans);
 *  - the parent's session time zone (the UTC pin every graft session
 *    keeps);
 *  - `spark.sql.sources.parallelPartitionDiscovery.threshold=256`:
 *    hive-bucketed state tables at the store's bounded fan (default 64
 *    dirs) are listed on the driver in ~ms instead of through a
 *    distributed file-listing job per read (~0.15 s at gate scale);
 *  - graft's kernels registered (`VectorExpressions.register`).
 * Other runtime SQL settings of the parent are NOT copied: a child
 * starts from the SparkConf, like any `newSession()`.
 *
 * Users: `StateStore.maint` (the parent's width), SCC small mode and
 * peel migration (`GraphAlgos`, the loop's adaptive width), and the
 * Gremlin light lane (`Graft`, width 1: a light query's driver-computed
 * rows come back as a local relation of this session).
 *
 * `newSession()` isolates the conf: no caller mutates a session-global
 * setting that concurrent queries under Server/Emu would see. The child
 * shares the SparkContext and the CacheManager, so checkpointed RDDs,
 * broadcasts, cached tables and returned frames cross the boundary.
 * Children are cached per (parent, width), weakly keyed by the parent
 * so per-connection serving sessions don't accumulate, and a child is
 * fully configured BEFORE it is published: a cached child is never
 * mutated (concurrent users read its conf without locks).
 */
object NarrowSession {
  private val children = new java.util.WeakHashMap[
    SparkSession, Map[Int, SparkSession]]()

  def apply(parent: SparkSession, width: Int): SparkSession =
    children.synchronized {
      val byWidth = Option(children.get(parent)).getOrElse(Map.empty)
      byWidth.getOrElse(width, {
        val c = parent.newSession()
        c.conf.set("spark.sql.shuffle.partitions", width.toString)
        c.conf.set("spark.sql.adaptive.enabled", "false")
        c.conf.set("spark.sql.session.timeZone",
          parent.sessionState.conf.sessionLocalTimeZone)
        c.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
          "256")
        graft.functions.VectorExpressions.register(c)
        children.put(parent, byWidth + (width -> c))
        c
      })
    }
}
