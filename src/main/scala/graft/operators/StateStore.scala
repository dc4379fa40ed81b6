package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Versioned on-disk state for incremental (cross-snapshot) operators —
 * the nightly-crawl shape where band postings / bloom bytes persist
 * between corpus versions and each run processes only the increment.
 *
 * Layout: `root/inc_0`, `root/inc_1`, … — one directory per ingested
 * increment, holding whatever parquet tables the operator stores. A
 * directory counts as ingested only once its `COMMIT` marker exists,
 * written AFTER every table write succeeded; a crash mid-increment
 * leaves an uncommitted directory that the retry simply overwrites
 * (same index, because the index is the count of COMMITTED dirs), so
 * ingest is restart-idempotent. All paths go through the Hadoop
 * FileSystem API, so `root` can live on any cluster filesystem.
 */
object StateStore {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** MAINTENANCE session for the store's eager bookkeeping jobs (state
    * table writes, compaction reads/stages, model fits run inside a
    * rewrite): the parent's width with AQE OFF ([[graft.NarrowSession]]).
    * Every one of these plans is 1-3 STATIC stages — a
    * checkpoint/path-read source, at most one explicit-width
    * repartition, a write or collect — so AQE contributes nothing (its
    * coalescing is disabled on explicit-width repartitions anyway)
    * while charging one extra driver JOB per exchange (stage
    * materialization) plus per-stage re-optimization, which at gate
    * scale IS the latency (the SCC small-mode lesson, measured there at
    * ~55 ms/stage; an ingest's repartition+write runs as two jobs under
    * AQE, one without). Parent-session RESULTS are unchanged: the
    * written table CONTENTS are a pure function of the input multiset
    * (hive dirs split by value; all state-table readers are order-free
    * by the store's contracts), so only job count and intra-file row
    * order move. */
  private[graft] def maint(spark: SparkSession): SparkSession =
    graft.NarrowSession(spark, spark.sessionState.conf.numShufflePartitions)

  /** Rebase a frame onto `session` through its RDD — the documented
    * cross-session migration (`child.createDataFrame(df.rdd,
    * df.schema)`). Callers pass CHECKPOINTED (or scan-only) frames so
    * `.rdd` is free of new work; an exchange-ful frame would
    * materialize its stages on the parent at call time. */
  private[graft] def rebase(df: DataFrame,
                            session: SparkSession): DataFrame =
    session.createDataFrame(df.rdd, df.schema)

  private val CompactingMarker = "COMPACTING"
  private val CompactTmp = ".compact_tmp"
  private val TokenFile = "COMPACT_TOKEN"

  /** Committed increment dirs under `root`, oldest first; empty if the
    * root does not exist yet. Finishes any interrupted [[compact]]
    * first, so readers never observe a half-swapped root. */
  def committed(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    val r = new Path(root)
    if (!f.exists(r)) Seq.empty
    else {
      recover(f, r)
      f.listStatus(r).toSeq.map(_.getPath)
        .filter(p => p.getName.matches("inc_\\d+") &&
          f.exists(new Path(p, "COMMIT")))
        .sortBy(_.getName.drop(4).toInt)
        .map(_.toString)
    }
  }

  /** Directory for the NEXT increment. Index = committed count, so an
    * uncommitted leftover from a crashed run is overwritten, never
    * skipped — the retry lands on the same index. */
  def nextDir(spark: SparkSession, root: String): String =
    s"$root/inc_${committed(spark, root).size}"

  /** Mark an increment dir ingested (write after all its tables). */
  def commit(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).create(new Path(dir, "COMMIT"), true).close()

  /**
   * Compact every committed increment directory into a single `inc_0`.
   *
   * Why: after a season of nightly ingests the root holds N small
   * per-increment tables and every read unions N directories; at
   * crawl cadence N reaches hundreds and the per-file open cost (and
   * small-file pressure on the cluster FS) dominates the narrow scans
   * the incremental operators were designed around. Compaction is
   * READ-EQUIVALENT by the store's own contract: every reader
   * aggregates over the UNION of committed dirs' tables (docs/posting
   * unions, partial re-aggregation, bloom OR-folds are all
   * associative), so one directory holding the per-table unions
   * answers every query identically — a spec asserts the operator-
   * level equality per face.
   *
   * Crash safety (single writer, same restart-idempotence bar as
   * ingest): the merged tables are staged under `.compact_tmp` with a
   * fresh token, the root-level `COMPACTING` marker (holding that
   * token) is the point of no return, and only then are the old dirs
   * deleted and the stage renamed to `inc_0` + marker removed.
   * [[committed]] runs recovery first, so a crash at ANY step resumes
   * deterministically: the token tells recovery whether an existing
   * `inc_0` is the finished rename (preserve) or a stale source
   * (delete); without the marker a stale stage is simply re-staged.
   *
   * Callers must materialize any DataFrame returned by an earlier
   * operator call before compacting — those plans read the pre-compact
   * files lazily (the read-back contract), and compaction replaces the
   * files.
   *
   * Two generalizations encode per-operator reader contracts:
   *  - `lastTables`: tables whose reader takes only the NEWEST dir's
   *    copy (e.g. [[GraphAlgos.ccIncremental]]'s cumulative `labels`)
   *    compact to the LAST dir's table, not the union — unioning a
   *    last-read table would hand later reads stale rows.
   *  - hive-partitioned tables (one `col=value` directory level, e.g.
   *    the [[IdLedger]]'s `ids/__ib=N` that every ingest ledger
   *    writes) are re-written with the SAME `partitionBy`, so the
   *    ledger's bucket pruning survives compaction; its `idbloom` rows
   *    union and OR-fold.
   */
  def compact(spark: SparkSession, root: String,
              lastTables: Set[String] = Set.empty): Unit =
    if (committed(spark, root).size > 1)
      compactRewrite(spark, root, lastTables)(identity)

  /**
   * [[compact]] with a whole-state REWRITE hook — the
   * maintenance face that lets an operator rebuild derived tables at
   * compaction time (the one moment every byte is being rewritten
   * anyway): resize a saturated bloom ledger, re-bucket a hive
   * layout, retrain + reassign a frozen model. `rewrite` receives
   * every table's merged union (lastTables taking only the newest
   * dir's copy) with its inferred partition columns, and returns the
   * table map to stage — add, drop, or transform tables freely; the
   * crash-safe stage/marker/swap machinery is identical to plain
   * [[compact]], so a crash at any step still recovers to a whole
   * root. Derived-table builds may run jobs during staging (they read
   * the OLD files, which stay in place until the marker).
   *
   * Partition columns are inferred from the `col=value` directory
   * level across ALL source dirs and must agree — a mixed layout
   * (some increments partitioned, some not) fails loudly rather than
   * silently flattening the pruning the ledger reads rely on.
   */
  def compactRewrite(spark: SparkSession, root: String,
                     lastTables: Set[String] = Set.empty)(
      rewrite: Map[String, (DataFrame, Seq[String])]
        => Map[String, (DataFrame, Seq[String])]): Unit = {
    val f = fs(spark, root)
    val r = new Path(root)
    val dirs = committed(spark, root) // runs recovery
    if (dirs.isEmpty) return // single-dir states still rewrite (resize)
    val tmp = new Path(r, CompactTmp)
    if (f.exists(tmp)) f.delete(tmp, true)
    val tables = dirs.flatMap(d => f.listStatus(new Path(d)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)).distinct
    val merged: Map[String, (DataFrame, Seq[String])] =
      tables.map { t =>
        val srcs0 = dirs.filter(d => f.exists(new Path(d, t)))
          .map(d => s"$d/$t")
        val srcs = if (lastTables.contains(t)) Seq(srcs0.last) else srcs0
        // one `col=value` directory level ⇒ the table was written
        // partitionBy(col); preserve it (nested partitioning unused
        // here). Inferred across ALL srcs — keying off the first dir
        // alone silently lost the layout when it differed (advice r12)
        val partsPerSrc = srcs.map(s => f.listStatus(new Path(s)).toSeq
          .filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.contains("=")).map(_.split("=")(0))
          .distinct.sorted)
        require(partsPerSrc.distinct.size == 1,
          s"compact: mixed partition layout for table '$t' across " +
            s"increments (${partsPerSrc.distinct.mkString(" vs ")}) — " +
            "rewrite the state to one layout before compacting")
        // per-root reads + union: multi-root partition inference is
        // unsupported (the IdLedger.archiveIds precedent). Reads build on
        // the AQE-off [[maint]] session, so the whole
        // read→rewrite→stage chain (including any jobs the rewrite
        // hook runs, e.g. a refit's model fit) pays one job per
        // action instead of one per query stage.
        t -> (srcs.map(maint(spark).read.parquet(_))
          .reduce(_.unionByName(_)), partsPerSrc.head)
      }.toMap
    // the staged tables are independent outputs of one state dir, so
    // their writes overlap (opt guide §2.6: submit independent jobs
    // from a thread pool so one write's straggler tail back-fills with
    // the next write's tasks); the token/marker/swap below still runs
    // strictly AFTER every write returns, so crash safety is unchanged.
    // Layout discipline (§6 small files, measured at 90b25f6):
    //  - partitioned tables repartition by their partition columns at
    //    the session width, so each `col=value` dir lands as ONE file
    //    per compaction instead of one file per input task — without
    //    it the file count grows with every compaction and the write
    //    runs one task per inherited input file;
    //  - small non-partitioned tables (by plan estimate) coalesce to
    //    one file, so later reads open one footer. Width and the
    //    estimate gate both scale with the session/config, never a
    //    local core count.
    val width = spark.sessionState.conf.numShufflePartitions
    inParallel(rewrite(merged).toSeq.map { case (t, (df, partCols)) =>
      () => {
        import org.apache.spark.sql.functions.col
        val shaped =
          if (partCols.nonEmpty)
            df.repartition(width, partCols.map(col): _*)
          else if (df.queryExecution.optimizedPlan.stats.sizeInBytes
              <= (64L << 20)) df.coalesce(1)
          else df
        val w = shaped.write.mode("overwrite")
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(new Path(tmp, t).toString)
      }
    })
    val token = java.util.UUID.randomUUID().toString
    writeSmall(f, new Path(tmp, TokenFile), token)
    writeSmall(f, new Path(tmp, "COMMIT"), "")
    // point of no return: from here recovery (not the old dirs) owns
    // the root's truth
    writeSmall(f, new Path(r, CompactingMarker), token)
    finishCompaction(f, r, token)
  }

  /** Steps after the marker write; shared verbatim with recovery so a
    * crash at any point simply re-runs it. */
  private def finishCompaction(f: org.apache.hadoop.fs.FileSystem,
                               r: Path, token: String): Unit = {
    val tmp = new Path(r, CompactTmp)
    f.listStatus(r).toSeq.map(_.getPath)
      .filter(_.getName.matches("inc_\\d+"))
      // an inc_0 carrying THIS compaction's token is the finished
      // rename — everything else (old sources, stale uncommitted
      // leftovers) is superseded by the stage
      .filter(p => !(f.exists(new Path(p, TokenFile)) &&
        readSmall(f, new Path(p, TokenFile)) == token))
      .foreach(p => f.delete(p, true))
    if (f.exists(tmp)) {
      if (!f.rename(tmp, new Path(r, "inc_0")))
        throw new java.io.IOException(s"compact: rename failed under $r")
    }
    f.delete(new Path(r, CompactingMarker), false)
  }

  /** Finish an interrupted compaction; no-op without the marker. */
  private def recover(f: org.apache.hadoop.fs.FileSystem,
                      r: Path): Unit = {
    val m = new Path(r, CompactingMarker)
    if (f.exists(m)) finishCompaction(f, r, readSmall(f, m))
  }

  private def writeSmall(f: org.apache.hadoop.fs.FileSystem, p: Path,
                         s: String): Unit = {
    val out = f.create(p, true)
    out.write(s.getBytes("UTF-8")); out.close()
  }

  private def readSmall(f: org.apache.hadoop.fs.FileSystem,
                        p: Path): String = {
    val in = f.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  /**
   * Time-travel read: table `table` as of the first `upToIncrements`
   * COMMITTED increments — the Iceberg/Delta "read snapshot N" face
   * on the store's append-only layout. Because increments are
   * immutable once committed and the commit marker totally orders
   * them, "as of increment k" is simply the union of the first k
   * committed dirs that carry the table: reproducible forever (audit,
   * bisecting a bad ingest, training-set freezes) with no extra
   * metadata. Uncommitted leftovers are invisible by construction.
   * Reads only footers+data of the selected dirs; at 100 TB the
   * per-increment dirs are the partition pruning.
   */
  def readAsOf(spark: SparkSession, root: String, table: String,
               upToIncrements: Int): DataFrame = {
    val f = fs(spark, root)
    val dirs = committed(spark, root).take(upToIncrements)
      .map(d => s"$d/$table")
      .filter(d => f.exists(new Path(d)))
    require(dirs.nonEmpty,
      s"readAsOf: no committed '$table' under $root in the first " +
        s"$upToIncrements increments")
    spark.read.parquet(dirs: _*)
  }

  /** Run independent Spark actions (an ingest's or compaction's
    * state-TABLE writes — different target paths, no shared lineage
    * beyond already-materialized checkpoints) concurrently and wait
    * for all of them (opt guide §2.6: actions are only sequential
    * because the driver calls them sequentially; overlapping
    * independent jobs back-fills each job's straggler tail). Any
    * failure propagates UNWRAPPED after every task settles, so a
    * caller's commit marker is never written past a failed write and
    * crash-point specs see the original exception type. Sequential
    * fast-path for 0/1 tasks. */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        }))
      var firstFailure: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null) firstFailure = e.getCause
          case e: InterruptedException =>
            // an interrupted driver must not leave sibling write jobs
            // running detached (advice r13): cancel what hasn't
            // finished, wait for the pool to settle, then rethrow —
            // "failure propagates after every task settles" holds for
            // interrupts too
            futs.foreach(_.cancel(true))
            pool.shutdownNow()
            pool.awaitTermination(60,
              java.util.concurrent.TimeUnit.SECONDS)
            Thread.currentThread().interrupt()
            throw e
        }
      }
      if (firstFailure != null) throw firstFailure
    } finally pool.shutdown()
  }

  /** Exact row count of a parquet table directory from file FOOTERS —
    * a driver-side metadata fold (no Spark job), recursive so
    * hive-partitioned layouts count across their `col=value` dirs.
    * Used where an ingest only needs a SIZE to pick a code path (e.g.
    * [[GraphAlgos.ccIncremental]]'s small-graph threshold): footer
    * row counts are exact parquet metadata, and two driver footer
    * folds replace two scheduler-bound count() jobs per ingest. */
  private[graft] def parquetRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val f = p.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) files += s
    }
    def rows(s: org.apache.hadoop.fs.FileStatus): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
      try r.getRecordCount finally r.close()
    }
    if (files.size <= 2) files.map(rows).sum
    else {
      // footer opens are independent tiny I/Os: fold them on a small
      // pool so a many-file layout costs one I/O round-trip, not N
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.size))
      try {
        val futs = files.map(s =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            override def call(): Long = rows(s)
          }))
        futs.map(_.get()).sum
      } catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      } finally pool.shutdown()
    }
  }

  /** Recursively delete a state root (or any path) — the one shared
    * cleanup for gates, probes, and specs, via the same Hadoop FS
    * layer the store reads through (no SparkSession needed, so
    * callers without one can use it too). No-op if absent. */
  def delete(path: String): Unit = {
    val p = new Path(path)
    val f = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    if (f.exists(p)) { f.delete(p, true); () }
  }
}
