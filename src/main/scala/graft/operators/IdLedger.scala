package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-increment idempotence ledger for [[StateStore]] ingests: the one
 * re-present detector behind [[GraphAlgos.ccIncremental]] (keyed by the
 * canonical edge `(src, dst)`) and both incremental-ANN ingests (keyed
 * by `vec_id`). A key is a list of long columns — an edge's id IS its
 * endpoint pair, the reference's packed edge-id scheme. Each increment
 * dir persists two ledger tables next to the operator's own data:
 *
 *  - `ids`: the increment's keys as narrow long rows, hive-partitioned
 *    by `__ib = xxhash64(keys) mod buckets`, so the exact-verify read
 *    partition-prunes to the touched buckets;
 *  - `idbloom`: one row — bloom bytes over the increment's key hashes
 *    plus the per-state sizing, persisted at FIRST ingest and read
 *    back by every later one (callers' parameters only size a NEW
 *    state).
 *
 * An ingest OR-folds the committed dirs' blooms (bytes × dirs — a
 * driver fold, cached), splits the drop into the bloom-NEGATIVE rows
 * (blooms never false-negative, so these are *definitely* new and
 * ingest with ZERO archive I/O) and the bloom-positive tail
 * (re-presents + the ~1e-5 FP rate), and only that tail exact-verifies
 * against the bucket-pruned archive `ids` read. A fresh nightly drop
 * therefore never touches the key history — the ingest cost tracks the
 * drop, not the archive.
 *
 * [[StateStore.compact]] folds ledger dirs with plain union semantics:
 * blooms OR-fold across rows (associative), the `ids` union keeps its
 * hive layout through compact's partition-preserving rewrite;
 * [[rebuilt]] re-sizes both tables inside a
 * [[StateStore.compactRewrite]].
 */
private[graft] object IdLedger {
  /** Default per-state sizing: 64 buckets keeps per-increment file
    * counts sane (≤64 files after the pre-write repartition) while a
    * handful of FP keys open ≈ that many bucket dirs; 2^25 bloom bits
    * (4 MiB) hold ~3M keys per state at ~1e-5 FP with 5 hashes — FP
    * rate only costs verify I/O, never correctness. Size to the
    * expected ARCHIVE key count via the owning operator's params (the
    * default bloom saturates near ~7.5M keys: ~13% FP opens nearly
    * every bucket, measured r12). */
  val Buckets = 64
  val BloomBits = 1 << 25
  val BloomHashes = 5

  private[operators] def hasTable(spark: SparkSession,
                                  path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Per-dir bloom cache, keyed by (path, mtime): committed blooms are
    * immutable (compaction produces new files/mtimes), so an ingest
    * that just wrote the previous increment's bloom folds the meta
    * with ZERO read jobs (r12 verdict: the ledger added ~4 constant
    * jobs per ingest). */
  private val cache =
    new java.util.LinkedHashMap[(String, Long),
        (Array[Byte], Int, Int)](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long),
            (Array[Byte], Int, Int)]): Boolean = size() > 16
    }

  private def mtime(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/idbloom")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
  }

  /** OR-folded bloom bytes + the persisted per-state sizing of the
    * committed dirs (each dir's bloom COVERS its own keys, so the fold
    * equals a filter over the union, never false-negative; bytes ×
    * dirs on the driver; uncached dirs cost one tiny read job each,
    * typically none). A dir missing `idbloom` is a pre-ledger state:
    * fail with the migration path rather than a raw path-not-found. */
  private def meta(spark: SparkSession,
                   dirs: Seq[String]): (Array[Byte], Int, Int) = {
    val missing = dirs.filterNot(d => hasTable(spark, s"$d/idbloom"))
    require(missing.isEmpty,
      s"pre-ledger state (no idbloom table) under ${missing.mkString(", ")}: " +
        "this state predates the per-increment id ledger — rebuild it " +
        "with the operator's ledger-rebuild compaction " +
        "(GraphAlgos.ccCompact(spark, statePath, buckets, bloomBits) / " +
        "SimilarityOps.binaryHammingLedgerRebuild / ivfLedgerRebuild) " +
        "or re-ingest into a fresh state")
    val perDir = dirs.map { d =>
      val key = (d, mtime(spark, d))
      val hit = cache.synchronized(Option(cache.get(key)))
      hit.getOrElse {
        val rows = spark.read.parquet(s"$d/idbloom").collect()
        val folded = rows.map(_.getAs[Array[Byte]]("__bloom"))
          .reduce((a, b) =>
            Array.tabulate(a.length)(i => (a(i) | b(i)).toByte))
        val v = (folded, rows.head.getAs[Int]("buckets"),
          rows.head.getAs[Int]("bloom_bits"))
        cache.synchronized { cache.put(key, v) }
        v
      }
    }
    (perDir.map(_._1).reduce((a, b) =>
      Array.tabulate(a.length)(i => (a(i) | b(i)).toByte)),
      perDir.head._2, perDir.head._3)
  }

  /** The archive-key read of an ingest's exact-verify, PRUNED to the
    * given hash buckets — exposed for the plan-guard specs, which
    * assert the scan roots are exactly the touched bucket dirs (a
    * fresh drop's bloom-positive tail never opens — or LISTS —
    * untouched bucket dirs). Pruning is PATH-level: touched `__ib=N`
    * leaf dirs go to the reader directly, so a 64-bucket × N-increment
    * ledger costs a handful of driver exists() probes instead of a
    * full-root listing job per dir (a >32-path root triggers Spark's
    * distributed file-listing job — measured ~0.13 s per dir per
    * ingest at gate scale, r14). An OR-fold false-positive bucket
    * absent everywhere reads empty, which the anti-join treats as
    * fresh. `keys` defaults to the ANN ingests' single `vec_id`. */
  private[graft] def archiveIds(spark: SparkSession, dirs: Seq[String],
                                touched: Seq[Int],
                                keys: Seq[String] = Seq("vec_id"))
      : DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = dirs.flatMap { d =>
      val root = new org.apache.hadoop.fs.Path(s"$d/ids")
      val f = root.getFileSystem(conf)
      // the TABLE must exist — a missing `ids` is a corrupted/foreign
      // state and must fail loudly (a silent empty read would admit a
      // re-present as fresh); an absent BUCKET dir within an existing
      // table is the legitimate sparse/FP case and reads empty
      require(f.exists(root),
        s"IdLedger: missing ids table under $d — corrupted state?")
      touched.map(b => new org.apache.hadoop.fs.Path(root, s"__ib=$b"))
        .filter(f.exists).map(_.toString)
    }
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(keys.map(k =>
          org.apache.spark.sql.types.StructField(k,
            org.apache.spark.sql.types.LongType))))
    else spark.read.parquet(paths: _*).select(keys.map(col): _*)
  }

  /** Per-state ledger sizing: persisted meta when the state exists,
    * the caller's defaults for a new one. The bloom bytes ride along
    * so [[splitFresh]] folds meta exactly once per ingest. */
  private[graft] def sizing(spark: SparkSession, prior: Seq[String],
                            defBuckets: Int, defBits: Int)
      : (Option[Array[Byte]], Int, Int) =
    if (prior.isEmpty) (None, defBuckets, defBits)
    else { val m = meta(spark, prior); (Some(m._1), m._2, m._3) }

  /** Attach the ledger's hash columns (`__h` over the keys, `__ib`) to
    * a drop; the key columns must cast to long (the ledger's storage
    * type). */
  private[graft] def withHash(drop: DataFrame, keys: Seq[String],
                              buckets: Int): DataFrame =
    drop.withColumn("__h", xxhash64(keys.map(k => col(k).cast("long")): _*))
      .withColumn("__ib",
        pmod(col("__h"), lit(buckets.toLong)).cast("int"))

  /** A split drop: the not-yet-ingested rows (LAZY), the drop's own
    * bloom bytes (covering the WHOLE drop — a superset of `fresh`;
    * supersets only ADD bits, so no-false-negative holds and a
    * re-present's bits are already set in the dir that owns it) ready
    * for [[writeBloom]], and the drop's row count — an admissible UPPER
    * bound on `fresh`'s rows, free in the same aggregation row. */
  private[graft] case class Split(fresh: DataFrame,
                                  bloomBytes: Array[Byte],
                                  rows: Long)

  /** Split a hashed drop (from [[withHash]], CHECKPOINTED by the
    * caller — the split references it three times) into its
    * not-yet-ingested rows: ONE aggregation job computes the drop's
    * bloom bytes, the bloom-positive touched buckets and the row count
    * (r12 verdict #3); bloom-negative rows pass through with no
    * archive I/O and only the positive tail anti-joins the
    * bucket-pruned archive keys. The drop's key columns must be long
    * and named as stored. */
  private[graft] def splitFresh(hashed: DataFrame, keys: Seq[String],
                                prior: Seq[String],
                                bloom: Option[Array[Byte]],
                                bloomBits: Int): Split = {
    val spark = hashed.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val VE = graft.functions.VectorExpressions
    val inBloom = bloom match {
      case Some(b) =>
        val bc = spark.sparkContext.broadcast(b)
        VE.bloomContainsBc(col("__h"), bc, bloomBits, BloomHashes)
      case None => lit(false)
    }
    // [[graft.functions.BloomBytesAgg]]: one sparse-capped buffer per
    // map partition through the shuffle, ONE binary row to the driver
    val aggRow = hashed.agg(
        VE.bloomAgg(col("__h"), bloomBits, BloomHashes).as("__b"),
        collect_set(when(inBloom, col("__ib"))).as("__t"),
        count(lit(1)).as("__n"))
      .collect().head
    val touched = aggRow.getSeq[Int](1)
    val fresh =
      if (prior.isEmpty || touched.isEmpty) hashed
      else hashed.filter(!inBloom).unionByName(
        hashed.filter(inBloom)
          .join(archiveIds(spark, prior, touched, keys), keys, "left_anti"))
    Split(fresh, aggRow.getAs[Array[Byte]](0), aggRow.getLong(2))
  }

  /** Compaction-time ledger REBUILD at a new sizing, for use inside a
    * [[StateStore.compactRewrite]]: fresh `ids`/`idbloom` tables
    * derived from the owning operator's own keys (`ids`' columns ARE
    * the key columns, long-castable) replace the merged ones in `m`.
    * The rescue for a state whose archive outgrew its first-ingest
    * bloom, and the migration for pre-ledger states; two passes over
    * the old files — a compaction is O(archive) by definition. */
  private[graft] def rebuilt(m: Map[String, (DataFrame, Seq[String])],
                             ids: DataFrame, buckets: Int,
                             bloomBits: Int)
      : Map[String, (DataFrame, Seq[String])] = {
    val spark = ids.sparkSession
    val keys = ids.columns.toSeq
    val hashed = withHash(ids, keys, buckets)
    val bloom = CurationOps.bloomFromHashes(
      hashed.select(col("__h")), bloomBits, BloomHashes)
    import spark.implicits._
    // no repartition here: [[StateStore.compactRewrite]] repartitions
    // every partitioned staged table by its partition columns at the
    // session width before writing
    m + ("ids" -> (hashed.select(
          keys.map(k => col(k).cast("long").as(k)) :+ col("__ib"): _*),
        Seq("__ib"))) +
      ("idbloom" -> (Seq((bloom, buckets, bloomBits))
        .toDF("__bloom", "buckets", "bloom_bits")
        .repartition(1), Seq.empty[String]))
  }

  /** Persist the increment's `ids` table under `dir`: the fresh rows'
    * keys, hive-partitioned by `__ib`, one file per bucket. */
  private[graft] def writeIds(fresh: DataFrame, keys: Seq[String],
                              dir: String): Unit =
    // EXPLICIT width on the bucket repartition: without a partition
    // count AQE coalesces the tiny shuffle to ONE partition and a
    // single task writes all ~64 bucket files serially — measured
    // ~1.0 s vs ~0.45 s at width 8-32 (at 90b25f6)
    fresh.select(keys.map(k => col(k).cast("long").as(k)) :+ col("__ib"): _*)
      .repartition(fresh.sparkSession.sessionState.conf
        .numShufflePartitions, col("__ib"))
      .write.partitionBy("__ib").mode("overwrite").parquet(s"$dir/ids")

  /** Persist the increment's `idbloom` row: the DROP's bloom bytes from
    * [[splitFresh]]'s one aggregation job — no second pass. The written
    * bloom covers a superset of the `ids` rows (see [[Split]]); the
    * cache then serves the next ingest's meta fold without a read
    * job. Independent of [[writeIds]] (driver-held bytes), so callers
    * overlap the two with their own table writes (opt guide §2.6). */
  private[graft] def writeBloom(spark: SparkSession, dir: String,
                                buckets: Int, bloomBits: Int,
                                bloomBytes: Array[Byte]): Unit = {
    import spark.implicits._
    Seq((bloomBytes, buckets, bloomBits))
      .toDF("__bloom", "buckets", "bloom_bits")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/idbloom")
    cache.synchronized {
      cache.put((dir, mtime(spark, dir)), (bloomBytes, buckets, bloomBits))
      ()
    }
  }
}
