package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory of graft's mains: `local[n]` with
 * `spark.sql.shuffle.partitions=n`, where `n` is `SPARK_GRAFT_CPUS`
 * (else the caller's `fallbackCpus`), graft's kernels injected through
 * [[GraftExtensions]], the UTC session time zone, AQE on and the UI off.
 *
 * `serving = true` adds the concurrent-serving pair (`Server`, `Emu`):
 *  - `spark.scheduler.mode=FAIR`: in-flight queries share the executor
 *    threads, like the reference's per-query thread pools;
 *  - `spark.cleaner.periodicGC.interval=60s`. A serving main must NEVER
 *    call `Sweep.transientStorage`: a sweep would free another
 *    connection's in-flight locally-checkpointed frontier, which cannot
 *    be recomputed. Periodic driver GC lets the ContextCleaner free only
 *    UNREACHABLE checkpoint blocks, which is reachability-safe under
 *    concurrency (CLAUDE.md).
 */
object LocalSession {
  def apply(appName: String, fallbackCpus: Int, logLevel: String,
            serving: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", fallbackCpus.toString)
    val b = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (serving) b
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.cleaner.periodicGC.interval", "60s") else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
