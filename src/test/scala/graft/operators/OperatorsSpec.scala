package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {

  private lazy val docs: DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  }
  private lazy val embs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  // ---------------- TextOps ----------------

  test("token counts") {
    import spark.implicits._
    val df = Seq((1L, "a bb ccc"), (2L, "hello, world!")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.tokenCount(col("text")),
      TextOps.bpeishCount(col("text"))).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) == ((3, 3)))
    assert(out(2L) == ((2, 4))) // hello , world !
  }

  test("langId heuristic") {
    import spark.implicits._
    val df = Seq(
      "the cat and the hat", "der hund und die katze ist",
      "le chat et la maison est", "el gato y los perros es",
      "你好世界", "zzz qqq xxx").toDF("text")
    val out = df.select(TextOps.langId(col("text"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "fr", "es", "zh", "unknown"))
  }

  test("quality score bounded and deterministic") {
    val out = docs.select(TextOps.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).collect().head
    assert(out.getDouble(0) >= 0.0 && out.getDouble(1) <= 1.0)
  }

  test("quality score is finite for empty text") {
    import spark.implicits._
    val q = Seq("", "   ", "x").toDF("text")
      .select(TextOps.qualityScore(col("text")).as("q"))
      .collect().map(_.getDouble(0))
    assert(q.forall(v => !v.isNaN && v >= 0.0 && v <= 1.0))
  }

  test("simhash maxDist=0 finds exactly identical signatures") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = DedupOps.simhash(df, maxDist = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("fingerprints: md5 + winnow agree on identical text") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghij"), (2L, "abcdefghij"), (3L, "abcdefghiX"))
      .toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextOps.docFingerprint(col("text")).as("f"),
      TextOps.winnowFingerprint(col("text")).as("w")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  // ---------------- DedupOps ----------------

  test("exact dedup keeps min id and counts") {
    import spark.implicits._
    val df = Seq((5L, "x"), (2L, "x"), (9L, "y")).toDF("doc_id", "text")
    val out = DedupOps.exact(df).collect()
      .map(r => (r.getString(1), (r.getLong(0), r.getLong(2)))).toMap
    assert(out("x") == ((2L, 2L)))
    assert(out("y") == ((9L, 1L)))
  }

  /** Brute-force trigram-Jaccard pairs — the independent oracle. */
  private def brutePairs(tau: Double, shingleN: Int = 3): Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id").as("id"),
      DedupOps.wordShingles(col("text"), shingleN).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sa"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sb"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(DedupOps.jaccard(col("sa"), col("sb")) >= tau)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("minhash LSH finds exactly the true trigram-jaccard pairs") {
    val expected = brutePairs(0.8)
    val got = DedupOps.minhashLsh(docs, tau = 0.8).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture should contain planted near-dups")
    assert(got == expected)
  }

  test("canonicalUrl: authority case, www, ports, fragments, tracking, slash") {
    import spark.implicits._
    // expected strings replicated in DuckDB (same chain, \1 + 'g'
    // dialect) while authoring the curation_url_canonical oracle
    val cases = Seq(
      "HTTP://WWW.Site3.COM:80/Path7/?utm_source=x&q=5#frag" ->
        "http://site3.com/Path7/?q=5", // path case preserved
      "https://site3.com:443/path8?q=5&utm_campaign=c" ->
        "https://site3.com/path8?q=5",
      "http://site3.com/path9/" -> "http://site3.com/path9",
      "https://www.site3.com/path10?gclid=g" -> "https://site3.com/path10",
      "http://x.com/p?utm_a=1&utm_b=2&q=3" -> "http://x.com/p?q=3",
      "not a url" -> "not a url",
      "https://x.com/" -> "https://x.com",
      "http://x.com/p?q=3&utm_a=1" -> "http://x.com/p?q=3")
    val got = cases.map(_._1).toDF("url")
      .select(CurationOps.canonicalUrl(col("url"))).collect()
      .map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  // ------------- incremental (cross-snapshot) state -------------

  /** Fresh empty state root under /tmp for one spec run. */
  private def tmpState(name: String): String = {
    val d =
      s"/tmp/graft_spec_state_${ProcessHandle.current().pid()}_$name"
    StateStore.delete(d)
    d
  }

  /** Hadoop listStatus qualifies local paths with a file: scheme. */
  private def stripScheme(p: String): String = p.stripPrefix("file:")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental minhash: increments union to the full recompute, disjointly") {
    val state = tmpState("mh_eq")
    val full = pairSet(DedupOps.minhashLsh(docs, tau = 0.8))
    val p1 = pairSet(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 0), state, tau = 0.8))
    val p2 = pairSet(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 1), state, tau = 0.8))
    assert(full.nonEmpty, "fixture should contain planted near-dups")
    assert((p1 ++ p2) == full)
    // run 1 pairs are even-even; every run-2 pair touches an odd id —
    // no pair is ever emitted twice across a run sequence
    assert(p1.intersect(p2).isEmpty)
    assert(StateStore.committed(spark, state).size == 2)
  }

  test("incremental minhash: re-presenting an ingested increment is a no-op") {
    val state = tmpState("mh_idem")
    val inc1 = docs.filter(col("doc_id") % 2 === 0)
    val p1 = pairSet(DedupOps.minhashLshIncremental(inc1, state, tau = 0.8))
    val again = DedupOps.minhashLshIncremental(inc1, state, tau = 0.8)
    assert(again.count() == 0)
    assert(StateStore.committed(spark, state).size == 1,
      "a no-op re-run must not grow the state")
    // and the state is untouched: the next real increment still
    // completes the full answer
    val p2 = pairSet(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 1), state, tau = 0.8))
    assert((p1 ++ p2) == pairSet(DedupOps.minhashLsh(docs, tau = 0.8)))
  }

  test("incremental minhash: uncommitted leftover dir is ignored and overwritten") {
    val state = tmpState("mh_crash")
    val p1 = pairSet(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 0), state, tau = 0.8))
    // simulate a crash mid-ingest: garbage under the NEXT index, no COMMIT
    val crashed = new java.io.File(s"$state/inc_1/docs")
    crashed.mkdirs()
    java.nio.file.Files.write(crashed.toPath.resolve("part-garbage"),
      Array[Byte](1, 2, 3))
    assert(StateStore.committed(spark, state).size == 1)
    // the retry lands on the same index, overwrites, and equality holds
    val p2 = pairSet(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 1), state, tau = 0.8))
    assert((p1 ++ p2) == pairSet(DedupOps.minhashLsh(docs, tau = 0.8)))
    assert(StateStore.committed(spark, state).size == 2)
  }

  test("incremental exact dedup: merged partials == full groupBy, ingest idempotent") {
    import spark.implicits._
    val state = tmpState("ex_eq")
    val df = Seq((5L, "x"), (2L, "x"), (9L, "y"), (12L, "x"), (7L, "z"))
      .toDF("doc_id", "text")
    def asMap(d: DataFrame) = d.collect()
      .map(r => (r.getString(1), (r.getLong(0), r.getLong(2)))).toMap
    val full = asMap(DedupOps.exact(df))
    DedupOps.exactIncremental(df.filter(col("doc_id") < 8), state)
    val merged = asMap(DedupOps.exactIncremental(
      df.filter(col("doc_id") >= 8), state))
    assert(merged == full)
    assert(full("x") == ((2L, 3L))) // min id from inc 1, count across both
    // re-presenting increment 1 changes nothing (ledger anti-join) —
    // without it, text "x"'s count would re-inflate
    val again = asMap(DedupOps.exactIncremental(
      df.filter(col("doc_id") < 8), state))
    assert(again == full)
  }

  test("incremental bloom state: merged bytes == union build, probe equal, idempotent") {
    val state = tmpState("bloom")
    val h1 = docs.filter(col("doc_id") % 10 === 0)
    val h2 = docs.filter(col("doc_id") % 10 === 5)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0 &&
      col("doc_id") % 10 =!= 5)
    val bits = 1 << 16
    CurationOps.bloomStateAdd(h1, state, numBits = bits)
    val merged = CurationOps.bloomStateAdd(h2, state, numBits = bits)
    // bit-identical to one build over the held-out union
    val fullState = tmpState("bloom_full")
    val fullBytes = CurationOps.bloomStateAdd(
      h1.unionByName(h2), fullState, numBits = bits)
    assert(java.util.Arrays.equals(merged, fullBytes))
    // probe equality: stateful == one-shot over the union
    def flags(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val inc = flags(CurationOps.bloomDecontaminateStateful(
      corpus, state, numBits = bits))
    val full = flags(CurationOps.bloomDecontaminate(
      corpus, h1.unionByName(h2), numBits = bits))
    assert(inc == full)
    assert(inc.values.exists(_ > 0L), "fixture should flag something")
    // re-adding an already-merged set changes nothing (bit_or algebra)
    val again = CurationOps.bloomStateAdd(h1, state, numBits = bits)
    assert(java.util.Arrays.equals(merged, again))
  }

  test("compact: read-equivalent for minhash/exact/bloom state, no-op re-ingest survives") {
    import spark.implicits._
    // minhash face: two ingested halves compact into ONE dir; the
    // answer so far plus the post-compact increment still unions to
    // the one-shot recompute, and the compacted ledger still blocks a
    // re-presented increment
    val mh = tmpState("cmp_mh")
    val evens = docs.filter(col("doc_id") % 4 === 0)
    val odds = docs.filter(col("doc_id") % 4 === 1)
    val rest = docs.filter(col("doc_id") % 4 >= 2)
    val p1 = pairSet(DedupOps.minhashLshIncremental(evens, mh, tau = 0.8))
    val p2 = pairSet(DedupOps.minhashLshIncremental(odds, mh, tau = 0.8))
    StateStore.compact(spark, mh)
    assert(StateStore.committed(spark, mh).map(stripScheme) ==
      Seq(s"$mh/inc_0"), "two dirs must fold into a committed inc_0")
    val p3 = pairSet(DedupOps.minhashLshIncremental(rest, mh, tau = 0.8))
    assert((p1 ++ p2 ++ p3) == pairSet(DedupOps.minhashLsh(docs, tau = 0.8)))
    assert(DedupOps.minhashLshIncremental(evens, mh, tau = 0.8).count() == 0,
      "compacted ledger must still anti-join a re-presented increment")
    // exact face: compacting partials preserves the merged aggregate
    val ex = tmpState("cmp_ex")
    val df = Seq((5L, "x"), (2L, "x"), (9L, "y"), (12L, "x"), (7L, "z"))
      .toDF("doc_id", "text")
    def asMap(d: DataFrame) = d.collect()
      .map(r => (r.getString(1), (r.getLong(0), r.getLong(2)))).toMap
    DedupOps.exactIncremental(df.filter(col("doc_id") < 8), ex)
    DedupOps.exactIncremental(df.filter(col("doc_id") >= 8), ex)
    StateStore.compact(spark, ex)
    assert(StateStore.committed(spark, ex).size == 1)
    // a fully-re-presented increment reads the merged state unchanged
    assert(asMap(DedupOps.exactIncremental(df.filter(col("doc_id") < 8), ex))
      == asMap(DedupOps.exact(df)))
    // bloom face: the compacted table holds BOTH cumulative rows; the
    // OR-fold reader and further adds stay byte-identical to one build
    val bl = tmpState("cmp_bl")
    val bits = 1 << 16
    val h1 = docs.filter(col("doc_id") % 10 === 0)
    val h2 = docs.filter(col("doc_id") % 10 === 5)
    CurationOps.bloomStateAdd(h1, bl, numBits = bits)
    CurationOps.bloomStateAdd(h2, bl, numBits = bits)
    StateStore.compact(spark, bl)
    val fullRef = tmpState("cmp_bl_ref")
    val refBytes = CurationOps.bloomStateAdd(h1.unionByName(h2), fullRef,
      numBits = bits)
    val h3 = docs.filter(col("doc_id") % 10 === 7)
    val after = CurationOps.bloomStateAdd(h3, bl, numBits = bits)
    val refAfter = CurationOps.bloomStateAdd(h3, fullRef, numBits = bits)
    assert(java.util.Arrays.equals(after, refAfter))
    assert(!java.util.Arrays.equals(after, refBytes),
      "h3 should set new bits")
    // single-dir root: compact is a no-op
    StateStore.compact(spark, bl) // folds the post-compact h3 dir in
    val pre = StateStore.committed(spark, bl)
    assert(pre.size == 1)
    StateStore.compact(spark, bl)
    assert(StateStore.committed(spark, bl) == pre)
  }

  test("compact crash recovery: interrupted swap resumes from the marker") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val state = tmpState("cmp_crash")
    val p1 = pairSet(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 0), state, tau = 0.8))
    DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 1), state, tau = 0.8)
    StateStore.compact(spark, state)
    val full = pairSet(DedupOps.minhashLsh(docs, tau = 0.8))
    // simulate a crash BETWEEN the marker write and the swap of a
    // second compaction: stage = a copy of the compacted inc_0 with a
    // fresh token, marker present, old inc_0 still on disk
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyTree(Paths.get(s"$state/inc_0"), Paths.get(s"$state/.compact_tmp"))
    Files.write(Paths.get(s"$state/.compact_tmp/COMPACT_TOKEN"),
      "token-2".getBytes("UTF-8"))
    // the tree copy brought inc_0's checksum sidecar along; the
    // overwritten token would fail Hadoop's checksummed local reads
    Files.deleteIfExists(Paths.get(s"$state/.compact_tmp/.COMPACT_TOKEN.crc"))
    Files.write(Paths.get(s"$state/COMPACTING"), "token-2".getBytes("UTF-8"))
    // recovery runs inside committed(): old inc_0 (stale token) falls,
    // the stage becomes inc_0, the marker clears — reads are whole
    assert(StateStore.committed(spark, state).map(stripScheme) ==
      Seq(s"$state/inc_0"))
    assert(!Files.exists(Paths.get(s"$state/COMPACTING")))
    assert(!Files.exists(Paths.get(s"$state/.compact_tmp")))
    // state content survived both the compaction and the recovery: a
    // re-presented increment is still a no-op
    assert(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 0), state, tau = 0.8).count() == 0)
    // crash AFTER the swap (marker left behind, inc_0 carries the
    // marker's token): recovery must PRESERVE inc_0 and just clean up
    Files.write(Paths.get(s"$state/COMPACTING"), "token-2".getBytes("UTF-8"))
    assert(StateStore.committed(spark, state).map(stripScheme) ==
      Seq(s"$state/inc_0"))
    assert(DedupOps.minhashLshIncremental(
      docs.filter(col("doc_id") % 2 === 0), state, tau = 0.8).count() == 0)
    assert(p1.subsetOf(full))
  }

  test("compact crash points: a recovering reader always sees a whole root") {
    import java.nio.file.{Files, Paths}
    // the claim under test: committed() runs recovery FIRST, so a
    // reader (readAsOf rides committed()) arriving after a crash at
    // ANY step of compact() observes either the full pre-compact dir
    // set or the full post-compact single dir — never a half-swapped
    // root. Enumerate every crash point by replaying compact()'s step
    // sequence by hand and stopping (then injecting a reader) at each.
    import spark.implicits._
    def freshStore(tag: String): String = {
      val root = tmpState(s"cmp_pts_$tag")
      for (i <- 0 until 3) {
        val dir = StateStore.nextDir(spark, root)
        (i * 10 until i * 10 + 10).map(_.toLong).toDF("id")
          .write.mode("overwrite").parquet(s"$dir/t")
        StateStore.commit(spark, dir)
      }
      root
    }
    // replay compact()'s observable on-disk steps 1..6:
    //   1 stage tables under .compact_tmp     4 delete SOME old dirs
    //   2 stage token + stage COMMIT          5 delete ALL old dirs + rename
    //   3 root COMPACTING marker              6 everything but marker removal
    def crashAt(root: String, step: Int): Unit = {
      val token = "tok-spec"
      if (step >= 1) {
        spark.read.parquet(s"$root/inc_0/t", s"$root/inc_1/t",
          s"$root/inc_2/t").write.mode("overwrite")
          .parquet(s"$root/.compact_tmp/t")
      }
      if (step >= 2) {
        Files.write(Paths.get(s"$root/.compact_tmp/COMPACT_TOKEN"),
          token.getBytes("UTF-8"))
        Files.write(Paths.get(s"$root/.compact_tmp/COMMIT"),
          Array.empty[Byte])
      }
      if (step >= 3)
        Files.write(Paths.get(s"$root/COMPACTING"), token.getBytes("UTF-8"))
      if (step >= 4) StateStore.delete(s"$root/inc_1")
      if (step >= 5) {
        StateStore.delete(s"$root/inc_0")
        StateStore.delete(s"$root/inc_2")
        Files.move(Paths.get(s"$root/.compact_tmp"),
          Paths.get(s"$root/inc_0"))
      }
      // step 6 == 5 here: marker removal is the one remaining write,
      // and the post-rename inc_0 carries the marker's token
    }
    for (step <- 1 to 5) {
      val root = freshStore(s"s$step")
      crashAt(root, step)
      // the reader: recovery runs inside committed()/readAsOf
      val seen = StateStore.readAsOf(spark, root, "t", 3)
        .collect().map(_.getLong(0)).toSet
      assert(seen == (0L until 30L).toSet,
        s"crash point $step: reader saw ${seen.size} of 30 rows")
      val dirs = StateStore.committed(spark, root).map(stripScheme)
      if (step < 3) {
        // marker not yet written: the OLD dirs are still the truth and
        // the stale stage must not surface as a committed increment
        assert(dirs == Seq(s"$root/inc_0", s"$root/inc_1", s"$root/inc_2"),
          s"crash point $step: $dirs")
      } else {
        // point of no return passed: recovery must finish the swap
        assert(dirs == Seq(s"$root/inc_0"), s"crash point $step: $dirs")
        assert(!Files.exists(Paths.get(s"$root/COMPACTING")))
        assert(!Files.exists(Paths.get(s"$root/.compact_tmp")))
      }
      // a subsequent real compact converges to the same single dir
      StateStore.compact(spark, root)
      assert(StateStore.readAsOf(spark, root, "t", 3)
        .collect().map(_.getLong(0)).toSet == (0L until 30L).toSet)
      StateStore.delete(root)
    }
  }

  test("retrievalMetrics: hand-checked hits, first rank, RR, recall") {
    import spark.implicits._
    val run = Seq((1, 10L, 1), (1, 11L, 2), (1, 12L, 3),
      (2, 20L, 1), (2, 21L, 2), (3, 30L, 1))
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1, 11L), (1, 12L), (1, 99L), (3, 31L))
      .toDF("query_id", "doc_id")
    val out = TextOps.retrievalMetrics(run, qrels, k = 2)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4),
          r.getLong(5)))).toMap
    // q1: 3 relevant, one hit (11 at rank 2; 12 is past k) -> RR 1/2,
    // recall 1/3
    assert(out(1) == ((3L, 1L, 2, 500000L, 333L)))
    // q2: no judgments at all -> zeros, but the row must exist
    assert(out(2) == ((0L, 0L, 0, 0L, 0L)))
    // q3: a judged doc that was never retrieved -> recall 0, rank 0
    assert(out(3) == ((1L, 0L, 0, 0L, 0L)))
  }

  test("temperatureMix: epochs replicate low-resource sources exactly") {
    import spark.implicits._
    val df = ((1 to 1).map(i => (i.toLong, "a")) ++
      (101 to 200).map(i => (i.toLong, "b"))).toDF("doc_id", "source")
    val out = CurationOps.temperatureMix(df, budget = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // w_a=1, w_b=10, tot=11: rate_a = 50*1*1000/(11*1) = 4545 permille
    // -> epochs 0..3 are kept UNCONDITIONALLY (full-weight epochs pass
    // the uniform test for every u < 2^32), epoch 4 fractionally
    val aCopies = out.count(_._2 == "a")
    assert(aCopies == 4 || aCopies == 5, s"a copies = $aCopies")
    assert(out.filter(_._2 == "a").map(_._3).sorted.take(4).toSeq ==
      Seq(0L, 1L, 2L, 3L))
    // rate_b = 454 permille: a binomial(100) at p=.454 — wide bounds
    val bCopies = out.count(_._2 == "b")
    assert(bCopies > 25 && bCopies < 70, s"b copies = $bCopies")
    assert(out.forall(_._3 >= 0) && out.distinct.length == out.length)
    // deterministic: the exact same multiset on a rerun
    val again = CurationOps.temperatureMix(df, budget = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.sorted.toSeq == out.sorted.toSeq)
  }

  test("preferencePairs: extremes, tiebreaks, degenerate groups drop") {
    import spark.implicits._
    val df = Seq(
      (1L, "g1", "aaaaaaaaaa"), (2L, "g1", "bbbbbbbbbb"),
      (3L, "g1", "ccccc"),
      (4L, "g2", "dddd"),
      (5L, "g3", "eee"), (6L, "g3", "fff"))
      .toDF("doc_id", "group", "text")
    val out = CurationOps.preferencePairs(df, col("group"),
      length(col("text"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // g1: chosen = min id among the length-10 tie (1), rejected = 3
    assert(out == Map("g1" -> ((1L, 10L, 3L, 5L, 5L))))
    // g2 (single doc) and g3 (equal quality) never emit
  }

  test("sourceOverlap: shared texts counted once per source pair") {
    import spark.implicits._
    val df = Seq(
      (1L, "sa", "shared one"), (2L, "sb", "shared one"),
      (3L, "sb", "shared one"), // duplicate copy must not double-count
      (4L, "sc", "shared one"),
      (5L, "sa", "shared two"), (6L, "sc", "shared two"),
      (7L, "sa", "only here")).toDF("doc_id", "source", "text")
    val out = CurationOps.sourceOverlap(df).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out == Map(("sa", "sb") -> 1L, ("sa", "sc") -> 2L,
      ("sb", "sc") -> 1L))
  }

  test("vocabularyProfile: tokens/types/hapax per-mille, hand-checked") {
    import spark.implicits._
    // source a: "x x y" + "y z" -> tokens 5, types {x:2,y:2,z:1} = 3,
    // hapax {z} = 1; ttr = 3000 div 5 = 600; hapax_pm = 1000 div 3 = 333
    val df = Seq(("a", "x x y"), ("a", "y z"), ("b", "q"))
      .toDF("source", "text")
    val out = TextOps.vocabularyProfile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out("a") == ((5L, 3L, 1L, 600L, 333L)))
    assert(out("b") == ((1L, 1L, 1L, 1000L, 1000L)))
  }

  test("ngramDiversity: exact bigram counts, short-doc edge") {
    import spark.implicits._
    val df = Seq(
      ("a", "x y x y"),   // bigrams: "x y","y x","x y" -> 3 total, 2 uniq
      ("a", "x y"),       // "x y" -> total 4, uniq stays 2
      ("b", "solo")).toDF("source", "text") // 1-token doc: 1 gram
    val out = TextOps.ngramDiversity(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out == Map("a" -> ((4L, 2L, 500L)), "b" -> ((1L, 1L, 1000L))))
  }

  test("prefix-filtered token jaccard equals brute force") {
    val expected = brutePairs(0.95, shingleN = 1)
    val got = DedupOps.tokenJaccard(docs, tau = 0.95).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("containmentPairs equals brute force and is one-directional") {
    import spark.implicits._
    // planted subset shapes: 3 ⊂ 1 exactly, 4 near-contained in 1
    // (4/5 tokens), 5 disjoint; 1 is NOT contained in 3 (asymmetry)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "lambda mu nu xi omicron"),
      (3L, "alpha beta gamma"),
      (4L, "alpha beta gamma delta pi"),
      (5L, "rho sigma tau")).toDF("doc_id", "text")
    val got = DedupOps.containmentPairs(corpus, tau = 0.8, shingleN = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.keySet == Set((3L, 1L), (3L, 4L), (4L, 1L)))
    assert(got((3L, 1L)) == 1.0 && got((3L, 4L)) == 1.0)
    assert(got((4L, 1L)) == 0.8)
    // brute force over the real fixture corpus on the trigram-shingle
    // face, incl. the boundary integer threshold (o*1000 >= 900*|A|)
    val sets = docs.select(col("doc_id"),
      DedupOps.wordShingles(col("text"), 3).as("sh"))
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sa"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sb"))
    val brute = a.join(b, col("id_a") =!= col("id_b"))
      .withColumn("o", graft.functions.VectorExpressions
        .setIntersectSize(col("sa"), col("sb")))
      .filter(col("o") * 1000 >= lit(900) * size(col("sa")))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val real = DedupOps.containmentPairs(docs, tau = 0.9, shingleN = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(real == brute)
  }

  test("simhash blocking is lossless for hamming <= maxDist") {
    val sample = docs.limit(120).cache()
    val sigs = sample.select(col("doc_id").as("id"),
      DedupOps.simhashBits(col("text")).as("s"))
    val a = sigs.select(col("id").as("id_a"), col("s").as("sa"))
    val b = sigs.select(col("id").as("id_b"), col("s").as("sb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("h", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("h") <= 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = DedupOps.simhash(sample, maxDist = 3).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
  }

  test("LSH-bucketed embedding near-dup equals brute force") {
    // low-τ fixture regime: coarse buckets (see embeddingNearDup doc)
    for (tau <- Seq(0.45, 0.4)) {
      val exact = DedupOps.embeddingNearDupExact(embs, tau = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val lsh = DedupOps.embeddingNearDup(embs, tau = tau, nBits = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty, "fixture should contain near-dup embeddings")
      assert(lsh == exact, s"tau=$tau: LSH missed ${exact -- lsh}")
    }
    // default (fine-bucket, τ=0.9) regime: plant exact and near twins
    val twins = embs.limit(50)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val corpus = embs.select("vec_id", "embedding").unionByName(twins)
    val exact9 = DedupOps.embeddingNearDupExact(corpus, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh9 = DedupOps.embeddingNearDup(corpus, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact9.size == 50 && lsh9 == exact9)
  }

  test("minhash bucket cap bounds candidates, logs, and keeps the rest") {
    import spark.implicits._
    // 40 docs sharing one degenerate shingle population (every band
    // bucket holds all 40) + 2 clean near-dups with their own shingles
    val degenerate = (1L to 40L).map(i => (i, "spam spam spam spam spam"))
    val clean = Seq(
      (100L, "unique alpha beta gamma delta epsilon zeta"),
      (101L, "unique alpha beta gamma delta epsilon eta"))
    val df = (degenerate ++ clean).toDF("doc_id", "text")
    val capped = DedupOps.minhashLsh(df, tau = 0.5, maxBucket = 10)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // truncation keeps the 10 smallest ids per bucket: pairs within
    // 1..10 survive, pairs touching 11..40 are capped away
    assert(capped.contains((100L, 101L)), "clean pair must survive the cap")
    assert(capped.filter(p => p._1 <= 40).forall(p => p._2 <= 10),
      "no candidate may touch a truncated posting")
    assert((1L to 10L).combinations(2).map(s => (s(0), s(1)))
      .forall(p => capped.contains(p)), "kept prefix stays fully paired")
    // the cap is not silent: observed metrics recorded the truncation
    // (listener delivery is async — poll through the helper)
    val m = CapMetrics.await("minhashLsh")(
      _.get("capped_postings").exists(_.asInstanceOf[Long] > 0))
    assert(m.get("capped_postings").exists(_.asInstanceOf[Long] > 0))
    assert(m.get("max_bucket_size").exists(_.asInstanceOf[Int] == 40))
    // uncapped control: every degenerate pair is found
    val uncapped = DedupOps.minhashLsh(df, tau = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((1L to 40L).combinations(2).map(s => (s(0), s(1)))
      .forall(p => uncapped.contains(p)))
  }

  // ---------------- SimilarityOps ----------------

  test("brute-force top-k matches a driver-side reference") {
    val k = 5
    val out = SimilarityOps.bruteForceTopK(
      embs.filter(col("vec_id") === 0), embs, k = k)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq

    // independent re-computation on the driver
    val vecs = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val q = vecs(0L)
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k)
      .map { case (id, c) =>
        (id, BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(out == expected)
  }

  test("maxsim top-k matches a driver-side late-interaction reference") {
    val k = 5
    val out = SimilarityOps.maxSimTopK(
      embs.filter(col("vec_id") === 0), embs, k = k)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val vecs = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    // 4 tokens of 16 dims; per query token the max doc-token cosine,
    // summed by the same left fold the operator and oracle use
    def maxsim(q: Array[Float], d: Array[Float]): Double =
      (0 until 4).map(s => (0 until 4).map(t =>
        cos(q.slice(s * 16, s * 16 + 16), d.slice(t * 16, t * 16 + 16)))
        .max).reduce(_ + _)
    val qv = vecs(0L)
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, maxsim(qv, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .map { case (id, s) =>
        (id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(out == expected)
  }

  test("maxSimRerank: candidate scores equal the exact face; recall") {
    val k = 5
    val q = embs.filter(col("vec_id") < 10)
    val exact = SimilarityOps.maxSimTopK(q, embs, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val rerank = SimilarityOps.maxSimRerank(q, embs, k = k)
    val rr = rerank.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // a reranked pair that IS in the exact top-k must carry the exact
    // face's score bit-for-bit (same chain, candidate-restricted)
    val shared = rr.keySet.intersect(exact.keySet)
    assert(shared.nonEmpty)
    shared.foreach(p => assert(rr(p) == exact(p), s"score drift at $p"))
    // every query retrieves, at full rank depth
    val perQ = rr.keySet.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQ.size == 10 && perQ.values.forall(_ == k))
    // recall floor (the gate's claim): >= 2 of the exact top-5 per query
    val hits = exact.keySet.groupBy(_._1).map { case (qid, ps) =>
      qid -> ps.count(rr.contains) }
    assert(hits.values.forall(_ >= 2), s"recall floor breached: $hits")
  }

  test("binaryHammingTopK equals a driver-side signature replica") {
    val k = 5
    val out = SimilarityOps.binaryHammingTopK(
        embs.filter(col("vec_id") === 0), embs, k = k)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    val vecs = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sig(v: Array[Float]): (Long, Long) = {
      var a = 0L; var b = 0L
      for (i <- 0 until 32) if (v(i) > 0) a |= 1L << i
      for (i <- 0 until 32) if (v(32 + i) > 0) b |= 1L << i
      (a, b)
    }
    val q = sig(vecs(0L))
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        val s = sig(v)
        (id, (java.lang.Long.bitCount(q._1 ^ s._1) +
          java.lang.Long.bitCount(q._2 ^ s._2)).toLong)
      }
      .sortBy { case (id, h) => (h, id) }.take(k)
      .zipWithIndex.map { case ((id, h), i) => (id, h, i + 1) }
    assert(out == expected)
  }

  test("ivfIncremental: union == one-shot on frozen centroids, no-op") {
    def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val state = tmpState("ivf_inc")
    val dropA = embs.filter(col("vec_id") % 2 === 0)
    SimilarityOps.ivfIncremental(dropA, state).count()
    SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") % 2 === 1), state).count()
    assert(StateStore.committed(spark, state).size == 2)
    // the frozen model read back exactly as fit
    val stored = spark.read
      .parquet(StateStore.committed(spark, state).head + "/centroids")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    val q = embs.filter(col("vec_id") < 5)
    // incremental state answers frame-identically to the one-shot IVF
    // over the union corpus with the SAME frozen centroids
    assert(rows(SimilarityOps.ivfIncrementalTopK(q, state,
        nprobe = 4, k = 5)) ==
      rows(SimilarityOps.ivfTopK(q, embs, stored, nprobe = 4, k = 5)))
    // re-presented drop: no new dir, empty read-back
    assert(SimilarityOps.ivfIncremental(dropA, state).count() == 0)
    assert(StateStore.committed(spark, state).size == 2)
    // postings keep the cell partition layout (queries prune to it)
    val pDirs = new java.io.File(StateStore.committed(spark, state).head
        .stripPrefix("file:") + "/postings").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(pDirs.nonEmpty && pDirs.forall(_.startsWith("__cell=")),
      pDirs.mkString(", "))
    // compaction: one dir, centroids survive, query still == one-shot,
    // cell layout preserved through the rewrite
    StateStore.compact(spark, state)
    val cDirs = StateStore.committed(spark, state)
    assert(cDirs.size == 1)
    assert(rows(SimilarityOps.ivfIncrementalTopK(q, state,
        nprobe = 4, k = 5)) ==
      rows(SimilarityOps.ivfTopK(q, embs, stored, nprobe = 4, k = 5)))
    val pDirs2 = new java.io.File(cDirs.head.stripPrefix("file:")
        + "/postings").listFiles().filter(_.isDirectory).map(_.getName)
    assert(pDirs2.nonEmpty && pDirs2.forall(_.startsWith("__cell=")),
      pDirs2.mkString(", "))
    // and a re-present against the compacted ledger stays a no-op
    assert(SimilarityOps.ivfIncremental(dropA, state).count() == 0)
    assert(StateStore.committed(spark, state).size == 1)
  }

  test("BloomBytesAgg == explode/bit_or bloom build, byte for byte") {
    import spark.implicits._
    val VE = graft.functions.VectorExpressions
    VE.register(spark)
    val hashes = (1L to 5000L).map(i => i * 0x9E3779B97F4A7C15L)
      .toDF("__h").repartition(8)
    for (bits <- Seq(1 << 10, 1 << 16)) {
      val legacy = CurationOps.bloomFromHashes(hashes, bits, 5)
      val agged = hashes.agg(VE.bloomAgg(col("__h"), bits, 5))
        .collect().head.getAs[Array[Byte]](0)
      val diffs = legacy.indices.filter(i => legacy(i) != agged(i))
      assert(java.util.Arrays.equals(legacy, agged),
        s"bits=$bits lens=${legacy.length}/${agged.length} " +
        s"diffIdx=${diffs.take(8)} " +
        diffs.take(4).map(i => s"$i:${legacy(i)}vs${agged(i)}").mkString(","))
    }
    // a large filter exercises the dense-buffer path + OR merge
    val big = hashes.agg(VE.bloomAgg(col("__h"), 1 << 20, 5))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(big,
      CurationOps.bloomFromHashes(hashes, 1 << 20, 5)))
  }

  test("IdLedger sizing: persisted at first ingest, read back by later") {
    val state = tmpState("bh_sizing")
    val q = embs.filter(col("vec_id") < 3)
    // tiny custom sizing on the FIRST ingest; the second passes
    // defaults and must pick the stored sizing back up
    SimilarityOps.binaryHammingIncremental(q,
      embs.filter(col("vec_id") % 2 === 0), state, k = 5,
      ledgerBuckets = 8, ledgerBloomBits = 1 << 16).count()
    SimilarityOps.binaryHammingIncremental(q,
      embs.filter(col("vec_id") % 2 === 1), state, k = 5).count()
    val dirs = StateStore.committed(spark, state)
    val metas = spark.read.parquet(dirs.map(_ + "/idbloom"): _*)
      .select("buckets", "bloom_bits")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(metas == Set((8, 1 << 16)), metas.toString)
    // the ids layout honors the stored bucket count in EVERY dir
    dirs.foreach { d =>
      val ibDirs = new java.io.File(d.stripPrefix("file:") + "/ids")
        .listFiles().filter(_.isDirectory).map(_.getName)
      assert(ibDirs.nonEmpty &&
        ibDirs.forall(n => n.stripPrefix("__ib=").toInt < 8),
        ibDirs.mkString(", "))
    }
    // a pre-ledger (r12-format) state fails with the migration hint,
    // not a raw path-not-found
    dirs.foreach(d => StateStore.delete(s"$d/idbloom"))
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.binaryHammingIncremental(q,
        embs.limit(5), state, k = 5)
    }
    assert(e.getMessage.contains("pre-ledger state"), e.getMessage)
  }

  test("ANN ledger rebuild: pre-ledger state migrates, then ingests") {
    val state = tmpState("bh_migrate")
    val q = embs.filter(col("vec_id") < 3)
    val dropA = embs.filter(col("vec_id") % 2 === 0)
    SimilarityOps.binaryHammingIncremental(q, dropA, state, k = 5).count()
    // strip to the r12 format (sigs only)
    StateStore.committed(spark, state).foreach { d =>
      StateStore.delete(s"$d/ids"); StateStore.delete(s"$d/idbloom")
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.binaryHammingIncremental(q,
        embs.filter(col("vec_id") % 2 === 1), state, k = 5)
    }
    SimilarityOps.binaryHammingLedgerRebuild(spark, state,
      ledgerBuckets = 8, ledgerBloomBits = 1 << 16)
    val out = SimilarityOps.binaryHammingIncremental(q,
      embs.filter(col("vec_id") % 2 === 1), state, k = 5)
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      .sortBy(t => (t._1, t._4))
    assert(rows(out) ==
      rows(SimilarityOps.binaryHammingTopK(q, embs, k = 5)))
    // rebuilt ledger still blocks a re-present
    val nDirs = StateStore.committed(spark, state).size
    SimilarityOps.binaryHammingIncremental(q, dropA, state, k = 5).count()
    assert(StateStore.committed(spark, state).size == nDirs)
  }

  test("IdLedger crash point: ledger tables written, COMMIT never lands") {
    import spark.implicits._
    // the on-disk shape of an ingest that wrote its ledger tables
    // (`ids`, `idbloom`) and died before its own table and COMMIT: run
    // the real ingest, then remove everything but the ledger
    def crashAfterLedger(state: String, ownTable: String): Unit = {
      val dir = StateStore.committed(spark, state).last
      StateStore.delete(s"$dir/$ownTable")
      StateStore.delete(s"$dir/COMMIT")
    }
    def lastIs(state: String, n: Int): Boolean = {
      val dirs = StateStore.committed(spark, state)
      dirs.size == n + 1 && dirs.last.endsWith(s"/inc_$n")
    }
    // ---- ccIncremental ----
    val cc = tmpState("cc_crash")
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dropA = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("src", "dst")
    val dropB = Seq((3L, 10L), (20L, 21L)).toDF("src", "dst")
    GraphAlgos.ccIncremental(dropA, cc).count()
    GraphAlgos.ccIncremental(dropB, cc).count()
    crashAfterLedger(cc, "labels")
    // invisible to reads: only drop A's canonical edges are committed
    assert(lastIs(cc, 0))
    assert(StateStore.readAsOf(spark, cc, "ids", Int.MaxValue)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L), (10L, 11L)))
    // invisible to the next ingest: the retry finds drop B fresh (the
    // crashed bloom is never folded), lands on the same inc_1, and the
    // labels equal a one-shot CC over both drops
    val afterB = labels(GraphAlgos.ccIncremental(dropB, cc))
    assert(lastIs(cc, 1))
    assert(afterB == labels(GraphAlgos.connectedComponents(
      graft.sources.GraphStore(
        Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id"),
        dropA.union(dropB)))))
    // the retried ledger blocks a re-present
    assert(labels(GraphAlgos.ccIncremental(dropB, cc)) == afterB)
    assert(lastIs(cc, 1))
    // ---- ivfIncremental ----
    def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val ivf = tmpState("ivf_crash")
    val q = embs.filter(col("vec_id") < 5)
    val odds = embs.filter(col("vec_id") % 2 === 1)
    SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") % 2 === 0), ivf).count()
    val beforeCrash = rows(SimilarityOps.ivfIncrementalTopK(q, ivf,
      nprobe = 4, k = 5))
    SimilarityOps.ivfIncremental(odds, ivf).count()
    crashAfterLedger(ivf, "postings")
    assert(lastIs(ivf, 0))
    assert(rows(SimilarityOps.ivfIncrementalTopK(q, ivf,
      nprobe = 4, k = 5)) == beforeCrash)
    // the retry ingests every odd id on the same inc_1 and answers like
    // the one-shot IVF over the union with the frozen centroids
    assert(SimilarityOps.ivfIncremental(odds, ivf).count() == odds.count())
    assert(lastIs(ivf, 1))
    val stored = spark.read
      .parquet(StateStore.committed(spark, ivf).head + "/centroids")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    assert(rows(SimilarityOps.ivfIncrementalTopK(q, ivf,
        nprobe = 4, k = 5)) ==
      rows(SimilarityOps.ivfTopK(q, embs, stored, nprobe = 4, k = 5)))
    assert(SimilarityOps.ivfIncremental(odds, ivf).count() == 0)
    assert(lastIs(ivf, 1))
    // ---- binaryHammingIncremental ----
    def hrows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
      .sortBy(t => (t._1, t._4))
    val bh = tmpState("bh_crash")
    val evens = embs.filter(col("vec_id") % 2 === 0)
    val evensOnly = hrows(
      SimilarityOps.binaryHammingIncremental(q, evens, bh, k = 5))
    SimilarityOps.binaryHammingIncremental(q, odds, bh, k = 5).count()
    crashAfterLedger(bh, "sigs")
    // a re-presented drop is a pure query over the committed dirs only
    assert(hrows(SimilarityOps.binaryHammingIncremental(q, evens, bh,
      k = 5)) == evensOnly)
    assert(lastIs(bh, 0))
    assert(hrows(SimilarityOps.binaryHammingIncremental(q, odds, bh,
      k = 5)) == hrows(SimilarityOps.binaryHammingTopK(q, embs, k = 5)))
    assert(lastIs(bh, 1))
    StateStore.delete(cc); StateStore.delete(ivf); StateStore.delete(bh)
  }

  test("ivfRefit: post-refit state == one-shot with the new centroids") {
    def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val state = tmpState("ivf_refit")
    // model frozen on an UNREPRESENTATIVE first drop (a corner of the
    // id space), then the full corpus arrives — the refit case
    SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") < 300), state, kCells = 8).count()
    SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") >= 300), state).count()
    SimilarityOps.ivfRefit(spark, state, kCells = 16, iters = 5)
    val dirs = StateStore.committed(spark, state)
    assert(dirs.size == 1)
    val stored = spark.read.parquet(dirs.head + "/centroids")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    assert(stored.length == 16) // retrained at the new k
    val q = embs.filter(col("vec_id") < 5)
    // frame-identical to the one-shot IVF over the union corpus with
    // the freshly fit centroids
    assert(rows(SimilarityOps.ivfIncrementalTopK(q, state,
        nprobe = 4, k = 5)) ==
      rows(SimilarityOps.ivfTopK(q, embs, stored, nprobe = 4, k = 5)))
    // later ingests assign to the NEW frozen model; ledger contracts
    // survive the refit (re-present no-op, union equality holds)
    SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") < 10)
        .select((col("vec_id") + 50000L).as("vec_id"),
          col("embedding")), state).count()
    assert(StateStore.committed(spark, state).size == 2)
    assert(SimilarityOps.ivfIncremental(
      embs.filter(col("vec_id") < 300), state).count() == 0)
    assert(rows(SimilarityOps.ivfIncrementalTopK(q, state,
        nprobe = 4, k = 5)) ==
      rows(SimilarityOps.ivfTopK(q,
        embs.unionByName(embs.filter(col("vec_id") < 10)
          .select((col("vec_id") + 50000L).as("vec_id"),
            col("embedding"), col("label"))),
        stored, nprobe = 4, k = 5)))
  }

  test("compact: mixed partition layout fails loudly") {
    import spark.implicits._
    val state = tmpState("mixed_layout")
    val d0 = StateStore.nextDir(spark, state)
    Seq((1L, 0)).toDF("v", "p").write.partitionBy("p")
      .parquet(s"$d0/t")
    StateStore.commit(spark, d0)
    val d1 = StateStore.nextDir(spark, state)
    Seq((2L, 1)).toDF("v", "p").write.parquet(s"$d1/t")
    StateStore.commit(spark, d1)
    val e = intercept[IllegalArgumentException] {
      StateStore.compact(spark, state)
    }
    assert(e.getMessage.contains("mixed partition layout"), e.getMessage)
  }

  test("crossEncoderRerank equals a driver-side two-stage replica") {
    val out = SimilarityOps.crossEncoderRerank(
        embs.filter(col("vec_id") === 0), embs, k = 5, shortlist = 20)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    val vecs = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sig(v: Array[Float]): (Long, Long) = {
      var a = 0L; var b = 0L
      for (i <- 0 until 32) if (v(i) > 0) a |= 1L << i
      for (i <- 0 until 32) if (v(32 + i) > 0) b |= 1L << i
      (a, b)
    }
    def q8(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 8).toLong)
    val qv = vecs(0L)
    val qs = sig(qv)
    // stage 1: hamming shortlist, ties by id
    val short = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        val s = sig(v)
        (id, java.lang.Long.bitCount(qs._1 ^ s._1) +
          java.lang.Long.bitCount(qs._2 ^ s._2))
      }.sortBy { case (id, h) => (h, id) }.take(20).map(_._1)
    // stage 2: clipped-interaction pair score, rank desc, ties by id
    val q8v = q8(qv)
    val expected = short
      .map(id => (id, q8(vecs(id)).zip(q8v)
        .map { case (a, b) => math.min(a * b, 64L) }.sum))
      .sortBy { case (id, sc) => (-sc, id) }.take(5)
      .zipWithIndex.map { case ((id, sc), i) => (id, sc, i + 1) }
    assert(out == expected)
  }

  test("binaryHammingIncremental: union == one-shot, re-present no-op") {
    def rows(df: DataFrame): Seq[(Long, Long, Long, Int)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
        .sortBy(t => (t._1, t._4))
    val state = tmpState("bh_inc")
    val q = embs.filter(col("vec_id") < 5)
    val oneShot = rows(SimilarityOps.binaryHammingTopK(q, embs, k = 5))
    // two drops; the post-second-ingest answer == one-shot over union
    val firstDrop = embs.filter(col("vec_id") % 2 === 0)
    SimilarityOps.binaryHammingIncremental(q, firstDrop, state,
      k = 5).count()
    assert(StateStore.committed(spark, state).size == 1)
    val held = SimilarityOps.binaryHammingIncremental(q,
      embs.filter(col("vec_id") % 2 === 1), state, k = 5)
    assert(rows(held) == oneShot)
    // re-presented drop: NO new dir, and the answer is the same pure
    // query over the committed state
    assert(StateStore.committed(spark, state).size == 2)
    assert(rows(SimilarityOps.binaryHammingIncremental(q, firstDrop,
      state, k = 5)) == oneShot)
    assert(StateStore.committed(spark, state).size == 2)
    // read-back purity: `held`'s frame still answers the same after a
    // later ingest of NEW vectors (its plan reads the dirs committed
    // at ITS call time)
    SimilarityOps.binaryHammingIncremental(q,
      embs.limit(20).select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding")), state, k = 5).count()
    assert(StateStore.committed(spark, state).size == 3)
    assert(rows(held) == oneShot)
  }

  test("binaryRerank: full-depth output, recall floor vs brute force") {
    val k = 5
    val q = embs.filter(col("vec_id") < 10)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceTopK(q, embs, k = k))
    val approx = SimilarityOps.binaryRerank(q, embs, k = k,
      shortlist = 100)
    val ap = pairs(approx)
    assert(approx.count() == 10 * k)
    val hits = exact.groupBy(_._1).map { case (qid, ps) =>
      qid -> ps.count(ap.contains) }
    assert(hits.values.forall(_ >= 2), s"recall floor breached: $hits")
  }

  test("hardNegatives: never same-label, ranked like brute force") {
    val k = 5
    val q = embs.filter(col("vec_id") < 10)
    val labels = embs.collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val out = SimilarityOps.hardNegatives(q, embs, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.length == 10 * k)
    out.foreach { case (a, n, _) =>
      assert(labels(a) != labels(n), s"same-label negative $a -> $n") }
    // equals brute force restricted to label-mismatched corpus rows
    val refQ0 = SimilarityOps.bruteForceTopK(
        q.filter(col("vec_id") === 0),
        embs.filter(col("label") =!= lit(labels(0L))), k = k)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
    val gotQ0 = out.filter(_._1 == 0L).map(t => (t._2, t._3)).toSet
    assert(gotQ0 == refQ0)
  }

  test("rougeN: hand-checked clipped overlap and per-mille scores") {
    import spark.implicits._
    // cand "a b a b c" vs ref "a b a b a b": bigrams cand
    // {ab:2, ba:1, bc:1} (4), ref {ab:3, ba:2} (5); clipped overlap
    // = min(2,3) + min(1,2) = 3
    val pairs = Seq((1L, "a b a b c", "a b a b a b"),
      (2L, "x y", "p q")).toDF("pair_id", "cand", "ref")
    val out = TextOps.rougeN(pairs, "cand", "ref", Seq("pair_id"), n = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(out(1L) == ((3L, 4L, 5L, 750L, 600L, 666L)))
    assert(out(2L) == ((0L, 1L, 1L, 0L, 0L, 0L)))
  }

  test("lsh top-k achieves reasonable recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 20).cache()
    val k = 10
    def pairs(df: DataFrame): Set[(Long, Long)] = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceTopK(queries, embs, k = k))
    val approx = pairs(SimilarityOps.lshTopK(queries, embs, k = k))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("ivf at k=256: centroids are data, not plan literals") {
    // k·dim = 16384 model values — a literal-array argmin would build a
    // ~33k-node expression tree per reference and stall the analyzer;
    // the broadcast-join path must fit and serve briskly
    val t0 = System.nanoTime()
    val cents = SimilarityOps.fitIvfCentroids(embs, k = 256, iters = 1)
    assert(cents.length == 256 && cents.forall(_.length == 64))
    val out = SimilarityOps.ivfTopK(
      embs.filter(col("vec_id") < 5), embs, cents, nprobe = 16, k = 5)
    assert(out.count() == 25) // 5 queries x top-5
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120.0, s"k=256 IVF took ${secs}s — plan blowup?")
  }

  test("clusterEmbeddings: deterministic, k clusters, twins co-assigned") {
    val cents = SimilarityOps.fitIvfCentroids(embs, k = 8, iters = 2)
    val a = SimilarityOps.clusterEmbeddings(embs, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = SimilarityOps.clusterEmbeddings(embs, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b && a.size == embs.count())
    assert(a.values.toSet.size > 1 && a.values.toSet.subsetOf((0 until 8).toSet))
    // an exact twin of a vector must land in the same cluster
    val twin = embs.filter(col("vec_id") === 0)
      .select((col("vec_id") + 9999L).as("vec_id"), col("embedding"))
    val withTwin = SimilarityOps.clusterEmbeddings(
      embs.select("vec_id", "embedding").unionByName(twin), cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(withTwin(9999L) == withTwin(0L))
  }

  test("ivf top-k: deterministic centroids, reasonable recall") {
    val cents = SimilarityOps.fitIvfCentroids(embs, k = 8, iters = 3)
    val cents2 = SimilarityOps.fitIvfCentroids(embs, k = 8, iters = 3)
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)

    val queries = embs.filter(col("vec_id") < 20).cache()
    val k = 10
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceTopK(queries, embs, k = k))
    val ivf = pairs(SimilarityOps.ivfTopK(queries, embs, cents,
      nprobe = 4, k = k))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("pq: deterministic codebooks, bounded codes, twin-stable") {
    val books = SimilarityOps.fitPq(embs, m = 8, k = 16, iters = 2)
    val books2 = SimilarityOps.fitPq(embs, m = 8, k = 16, iters = 2)
    assert(books.map(_.map(_.toSeq).toSeq).toSeq ==
      books2.map(_.map(_.toSeq).toSeq).toSeq)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    val codes = SimilarityOps.pqEncode(embs, books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == embs.count())
    assert(codes.values.forall(c => c.length == 8 &&
      c.forall(x => x >= 0 && x < 16)))
    // identical vectors must encode identically
    val twin = embs.filter(col("vec_id") === 3)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    val withTwin = SimilarityOps.pqEncode(
      embs.select("vec_id", "embedding").unionByName(twin), books).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(withTwin(9999L) == withTwin(3L))
  }

  test("fitIvfCentroids: accumulator pass equals a driver Lloyd replica") {
    // pins the r14 single-stage per-partition accumulator: seeding,
    // the NearestCellBc assignment arithmetic (sequential dot,
    // Double.compare ties to the lowest cell), per-(cell, pos) means
    // over the distinct (id, vector) multiset, absent groups keeping
    // their centroid. The replica sums on the driver in collect order
    // while the fit merges per-partition partials, so means may
    // differ in the last ulp — compared at 1e-9.
    val fit = SimilarityOps.fitIvfCentroids(embs, k = 4, iters = 1)
    val rows = embs
      .select(col("vec_id").as("__id"), col("embedding").as("__v"))
      .dropDuplicates("__id", "__v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val sample = embs
      .select(col("vec_id").as("__id"), col("embedding").as("__v"))
      .dropDuplicates("__id", "__v")
      .orderBy(md5(concat(lit("ivf:"), col("__id").cast("string"))))
      .limit(64).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val seeds = SimilarityOps.farthestFirst(sample, 4)
    val model = seeds.map(c => (c, c.map(x => x * x).sum))
    val sums = Array.ofDim[Double](4, 64)
    val cnts = Array.ofDim[Long](4, 64)
    rows.foreach { case (_, v) =>
      var best = 0
      var bestD = Double.NaN
      var c = 0
      while (c < model.length) {
        val (cv, cn2) = model(c)
        var s = 0.0
        var i = 0
        while (i < math.min(v.length, cv.length)) { s += v(i) * cv(i); i += 1 }
        val d = cn2 - 2.0 * s
        if (c == 0 || java.lang.Double.compare(d, bestD) < 0) {
          bestD = d; best = c
        }
        c += 1
      }
      var i = 0
      while (i < math.min(v.length, 64)) {
        sums(best)(i) += v(i); cnts(best)(i) += 1; i += 1
      }
    }
    val expect = seeds.map(_.clone())
    for (c <- 0 until 4; i <- 0 until 64)
      if (cnts(c)(i) > 0) expect(c)(i) = sums(c)(i) / cnts(c)(i)
    assert(fit.length == 4)
    for (c <- 0 until 4; i <- 0 until 64)
      assert(math.abs(fit(c)(i) - expect(c)(i)) < 1e-9,
        s"cell $c pos $i: ${fit(c)(i)} vs ${expect(c)(i)}")
  }

  test("fitPq: accumulator pass equals a driver Lloyd replica") {
    // the PQ twin of the spec above: per-(sub, code, pos) means over
    // the triple-distinct (id, sub, subvector) multiset, the
    // PqCodesBc per-subspace assignment arithmetic
    val m = 4
    val sd = 16
    val fit = SimilarityOps.fitPq(embs, dim = 64, m = m, k = 4, iters = 1)
    val base = embs
      .select(col("vec_id").as("__id"), col("embedding").as("__v"))
    val sample = base
      .orderBy(md5(concat(lit("pq:"), col("__id").cast("string"))))
      .limit(64).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val seeds = Array.tabulate(m)(s =>
      SimilarityOps.farthestFirst(sample.map(_.slice(s * sd, (s + 1) * sd)), 4))
    val triples = base.collect()
      .flatMap { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        (0 until m).map(s => (id, s, v.slice(s * sd, (s + 1) * sd).toSeq))
      }.distinct
    val sums = Array.ofDim[Double](m, 4, sd)
    val cnts = Array.ofDim[Long](m, 4, sd)
    triples.foreach { case (_, s, sv) =>
      val v = sv.toArray
      val book = seeds(s).map(c => (c, c.map(x => x * x).sum))
      var best = 0
      var bestD = Double.NaN
      var c = 0
      while (c < book.length) {
        val (cv, cn2) = book(c)
        var acc = 0.0
        var i = 0
        while (i < math.min(v.length, cv.length)) { acc += v(i) * cv(i); i += 1 }
        val d = cn2 - 2.0 * acc
        if (c == 0 || java.lang.Double.compare(d, bestD) < 0) {
          bestD = d; best = c
        }
        c += 1
      }
      var i = 0
      while (i < math.min(v.length, sd)) {
        sums(s)(best)(i) += v(i); cnts(s)(best)(i) += 1; i += 1
      }
    }
    for (s <- 0 until m; c <- 0 until 4; i <- 0 until sd) {
      val expect =
        if (cnts(s)(c)(i) > 0) sums(s)(c)(i) / cnts(s)(c)(i)
        else seeds(s)(c)(i)
      assert(math.abs(fit(s)(c)(i) - expect) < 1e-9,
        s"sub $s code $c pos $i: ${fit(s)(c)(i)} vs $expect")
    }
  }

  test("pq top-k: reasonable recall vs brute force") {
    val books = SimilarityOps.fitPq(embs, m = 8, k = 16, iters = 3)
    val queries = embs.filter(col("vec_id") < 20).cache()
    val k = 10
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceTopK(queries, embs, k = k))
    val pq = pairs(SimilarityOps.pqTopK(queries, embs, books, k = k))
    // PQ ranks by L2 surrogate while brute force ranks by cosine, and
    // 8x16 codes quantize hard — a loose floor still catches a broken
    // LUT join or a wrong-subspace encode, which score near random
    // (recall ~k/n = 0.02)
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall too low: $recall")
    // every query returns exactly k ranked neighbors
    val perQ = SimilarityOps.pqTopK(queries, embs, books, k = k)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQ.forall(_ == k))
  }

  test("pqRerank: shortlist rerank beats raw ADC; full shortlist = brute") {
    val books = SimilarityOps.fitPq(embs, m = 8, k = 16, iters = 3)
    val queries = embs.filter(col("vec_id") < 20).cache()
    val k = 10
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceTopK(queries, embs, k = k))
    val adc = pairs(SimilarityOps.pqTopK(queries, embs, books, k = k))
    val rer = pairs(SimilarityOps.pqRerank(queries, embs, books, k = k,
      shortlist = 100))
    // exact re-scoring of a 10x shortlist can only improve on raw ADC
    assert((exact & rer).size >= (exact & adc).size,
      s"rerank ${(exact & rer).size} < adc ${(exact & adc).size}")
    assert((exact & rer).size.toDouble / exact.size >= 0.5)
    // a corpus-wide shortlist makes rerank EXACTLY brute force
    val n = embs.count().toInt
    val full = SimilarityOps.pqRerank(queries, embs, books, k = k,
      shortlist = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = SimilarityOps.bruteForceTopK(queries, embs, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == brute)
  }

  test("semanticDedup: cluster-scoped groups, transitivity, caveat") {
    import spark.implicits._
    val dim = 64
    def vec(cs: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      cs.foreach { case (i, x) => a(i) = x.toFloat }
      a.toSeq
    }
    val cents = Array(
      Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
      Array.tabulate(dim)(i => if (i == 1) 1.0 else 0.0))
    val th = math.toRadians(18) // cos 18° ≈ .951 ≥ τ; cos 36° ≈ .809 < τ
    val df = Seq(
      1L -> vec(0 -> 1.0), 2L -> vec(0 -> 1.0), // exact twins, cluster 0
      // transitive chain in the (0,2) plane: 3~4 and 4~5 pass τ=.95,
      // 3~5 does not — CC must still merge all three
      3L -> vec(0 -> 1.0),
      4L -> vec(0 -> math.cos(th), 2 -> math.sin(th)),
      5L -> vec(0 -> math.cos(2 * th), 2 -> math.sin(2 * th)),
      6L -> vec(1 -> 1.0),                       // singleton, cluster 1
      // near-identical pair SPLIT by the quantizer (the documented
      // cross-cluster recall caveat): both survive
      7L -> vec(0 -> 1.0, 1 -> 0.99),
      8L -> vec(0 -> 0.99, 1 -> 1.0)
    ).toDF("vec_id", "embedding")
    val out = DedupOps.semanticDedup(df, cents, tau = 0.95).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out.keySet == (1L to 8L).toSet) // every row emitted
    // twins + chain all collapse to the smallest id in cluster 0
    assert(Seq(1L, 2L, 3L, 4L, 5L).map(out(_)._2).toSet == Set(1L),
      out.toString)
    assert(out(6L) == ((1, 6L)))
    assert(out(7L)._2 == 7L && out(8L)._2 == 8L) // split pair survives
    assert(out(7L)._1 != out(8L)._1)             // because clusters differ
  }

  test("semanticDedup equals a driver-side within-cluster model") {
    val cents = SimilarityOps.fitIvfCentroids(embs, k = 8, iters = 2)
    val out = DedupOps.semanticDedup(embs, cents, tau = 0.45,
        chunkSize = 64) // force multi-chunk salting on the real data
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // driver model: nearest centroid, within-cluster pairs, union-find
    val rows = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def cell(v: Array[Double]): Int =
      cents.indices.minBy { c =>
        val d = cents(c).zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
        (d, c)
      }
    val cellOf = rows.map { case (id, v) => id -> cell(v) }.toMap
    val parent = scala.collection.mutable.Map(
      rows.map(r => r._1 -> r._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val ab = a.zip(b).map { case (x, y) => x * y }.sum
      ab / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for {
      i <- rows.indices; j <- (i + 1) until rows.length
      if cellOf(rows(i)._1) == cellOf(rows(j)._1)
      if cos(rows(i)._2, rows(j)._2) >= 0.45
    } {
      val (a, b) = (find(rows(i)._1), find(rows(j)._1))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val expect = rows.map { case (id, _) =>
      (id, cellOf(id), find(id)) }.toSet
    assert(out.toSet == expect)
  }

  test("OPQ rotation: orthonormal, ranking-preserving, recall holds floor") {
    val dim = 64
    val rot = SimilarityOps.fitOpqRotation(embs, dim = dim, m = 8)
    // orthonormal rows: R·Rt = I (so dots/norms — hence every exact
    // ranking — are preserved up to float noise)
    for (i <- 0 until dim; j <- i until dim) {
      val d = (0 until dim).map(t => rot(i)(t) * rot(j)(t)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-6, s"($i,$j)")
    }
    val re = SimilarityOps.applyOpqRotation(embs, rot).cache()
    val queries = embs.filter(col("vec_id") < 20).cache()
    val qr = re.filter(col("vec_id") < 20).cache()
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val k = 10
    val exact = pairs(SimilarityOps.bruteForceTopK(queries, embs, k = k))
    val exactR = pairs(SimilarityOps.bruteForceTopK(qr, re, k = k))
    // rotation-side brute force agrees with the original up to float
    // ties at the rank-k boundary
    assert((exact & exactR).size.toDouble / exact.size >= 0.95)
    // OPQ's premise is ANISOTROPIC variance (on the near-isotropic
    // fixture a rotation is a wash by construction): skew one
    // subspace's dims 8x so plain PQ's codebooks starve the rest,
    // then the rotation must win the recall back and hold the floor
    val skew = embs.select(col("vec_id"), expr(
      "transform(embedding, (x, i) -> " +
      "cast(x * (case when i < 8 then 8.0 else 1.0 end) as float))")
      .as("embedding")).cache()
    val sq = skew.filter(col("vec_id") < 20).cache()
    val sExact = pairs(SimilarityOps.bruteForceTopK(sq, skew, k = k))
    val sBooks = SimilarityOps.fitPq(skew, m = 8, k = 16, iters = 3)
    val sPlain = pairs(SimilarityOps.pqTopK(sq, skew, sBooks, k = k))
    val sRot = SimilarityOps.fitOpqRotation(skew, dim = dim, m = 8)
    val sRe = SimilarityOps.applyOpqRotation(skew, sRot).cache()
    val sQr = sRe.filter(col("vec_id") < 20).cache()
    val oBooks = SimilarityOps.fitPq(sRe, m = 8, k = 16, iters = 3)
    val sOpq = pairs(SimilarityOps.pqTopK(sQr, sRe, oBooks, k = k))
    val rPlain = (sExact & sPlain).size.toDouble / sExact.size
    val rOpq = (sExact & sOpq).size.toDouble / sExact.size
    info(f"skewed-corpus recall plain=$rPlain%.3f opq=$rOpq%.3f")
    assert(rOpq > rPlain,
      s"OPQ recall $rOpq not above plain PQ $rPlain on skewed corpus")
    assert(rOpq >= 0.3, s"OPQ recall $rOpq below the plain-PQ floor")
  }

  test("recallAtK: floor flags per query, dropped queries surface") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "neighbor_id")
    // query 1: both hit; query 2: one hit; query 3: absent entirely
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("query_id", "neighbor_id")
    val out = SimilarityOps.recallAtK(approx, exact, k = 2, floor = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out == Map(1L -> ((2L, 2L, 1L)), 2L -> ((2L, 2L, 0L)),
      3L -> ((2L, 2L, 0L))))
    // floor 1: the partial query passes, the dropped one still fails
    val f1 = SimilarityOps.recallAtK(approx, exact, k = 2, floor = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(f1 == Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  // ---------------- CurationOps ----------------

  test("scrubPii redacts urls and emails with counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact me at bob.smith+x@example.co.uk for info"),
      (2L, "see https://example.com/a?b=1 and http://x.io today"),
      (3L, "clean text with no pii at all")).toDF("doc_id", "text")
    val out = CurationOps.scrubPii(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(out(1L) == (("contact me at <EMAIL> for info", 0, 1)))
    assert(out(2L) == (("see <URL> and <URL> today", 2, 0)))
    assert(out(3L) == (("clean text with no pii at all", 0, 0)))
  }

  test("repetitionRatio flags repetitive docs, 0 for short docs") {
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val df = Seq(
      (1L, "a b c a b c a b c"),       // 7 trigrams, 3 distinct
      (2L, "all words differ here ok"), // no repeats
      (3L, "xy zz")).toDF("doc_id", "text") // shorter than n
    val out = CurationOps.repetitionStats(df, n = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == BigDecimal(4.0 / 7).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(2L) == 0.0)
    assert(out(3L) == 0.0)
  }

  test("qualityFilters gates are integer-exact") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two"),                       // too short
      (2L, "normal length words right here"),
      (3L, "a b c d e f"),                   // 1-char words -> len_low
      (4L, "extraordinarily hyperextended " +
        "incomprehensibilities " * 3)).toDF("doc_id", "text")
    val out = CurationOps.qualityFilters(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(out(1L)._1 && !out(1L)._4)            // too_short, not kept
    assert(out(2L) == ((false, false, false, true))) // kept
    assert(out(3L)._2 && !out(3L)._4)            // word_len_low
    assert(out(4L)._3 && !out(4L)._4)            // word_len_high
  }

  test("quality classifier: odds weights exact, signal separates docs") {
    import spark.implicits._
    val seed = Seq(
      (1L, "excellent prose with careful structure", true),
      (2L, "excellent writing and careful editing", true),
      (3L, "spam spam buy now", false),
      (4L, "buy cheap now", false)).toDF("doc_id", "text", "pos")
    val w = CurationOps.fitQualityWeights(seed, "pos").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // "excellent": 2 pos docs, 0 neg -> (2+1)*1e6 div (0+1)
    assert(w("excellent") == ((2L, 0L, 3000000L)))
    // "spam": repeated in one doc but presence is per-DOC -> 1 neg doc
    assert(w("spam") == ((0L, 1L, 500000L)))
    // "buy": 0 pos, 2 neg -> 1e6 div 3
    assert(w("buy") == ((0L, 2L, 333333L)))

    val weights = CurationOps.fitQualityWeights(seed, "pos")
    val score = Seq(
      (10L, "excellent careful report"),   // positive-ish tokens
      (11L, "buy spam now"),               // negative-ish tokens
      (12L, "")).toDF("doc_id", "text")    // no tokens
    val out = CurationOps.scoreQuality(score, weights).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // 3000000 (excellent) + 3000000 (careful) + 1000000 (unseen)
    assert(out(10L) == ((3L, 7000000L, true)))
    // 333333 (buy) + 500000 (spam) + 333333 (now: 0 pos, 2 neg)
    assert(out(11L) == ((3L, 1166666L, false)))
    assert(out(12L) == ((0L, 0L, false)))
  }

  test("decontaminate finds held-out n-gram overlap exactly") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated words live in this document")).toDF("doc_id", "text")
    val heldout = Seq(
      (100L, "quick brown fox jumps over the lazy dog again")).toDF("doc_id", "text")
    val out = CurationOps.decontaminate(corpus, heldout, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares exactly one 8-gram window with the held-out doc
    assert(out == Map(1L -> 1L))
  }

  test("quotaSample: deterministic bounded sample per group") {
    val a = CurationOps.quotaSample(docs, n = 7).collect()
      .map(r => r.getLong(0)).sorted.toSeq
    val b = CurationOps.quotaSample(docs, n = 7).collect()
      .map(r => r.getLong(0)).sorted.toSeq
    assert(a == b, "sample must be rerun-stable")
    val perGroup = CurationOps.quotaSample(docs, n = 7)
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(perGroup.forall(_ <= 7) && perGroup.nonEmpty)
  }

  test("quotaSample: bounded top-cap agg == row_number window formulation") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val windowed = docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 7).drop("__rn")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val agg = CurationOps.quotaSample(docs, n = 7)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(agg == windowed, "partial-agg cut must equal the window cut")
  }

  test("packSequences: greedy cumulative bins match a driver model") {
    val out = CurationOps.packSequences(docs, budget = 300).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val model = out.groupBy(_._2).iterator.flatMap { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).map { case (id, _, tc, _) =>
        val bin = cum / 300
        cum += tc
        (id, bin)
      }.toSeq
    }.toMap
    out.foreach { case (id, _, _, bin) =>
      assert(bin == model(id), s"doc $id bin mismatch")
    }
    // bins are dense from 0 within each source
    val bins = out.groupBy(_._2).view.mapValues(_.map(_._4).distinct.sorted)
    bins.foreach { case (_, bs) => assert(bs.head == 0L) }
  }

  test("topNgramFraction matches a driver model") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b a b"),   // trigrams: aba x3, bab x3 of 6 -> 0.5
      (2L, "w x y z q r"),       // all 4 trigrams distinct -> 0.25
      (3L, "xy zz")).toDF("doc_id", "text") // shorter than n -> 1.0
    val out = CurationOps.topNgramFraction(df, n = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.5)
    assert(out(2L) == 0.25)
    assert(out(3L) == 1.0)
  }

  test("sourceTokenQuantiles interpolates like the model") {
    import spark.implicits._
    val df = Seq(
      (1L, "s", "a b c"), (2L, "s", "a b c d e"),
      (3L, "s", "a"), (4L, "s", "a b")).toDF("doc_id", "source", "text")
    // token counts {3,5,1,2} sorted {1,2,3,5}: median = 2.5, p90 = 4.4
    val r = CurationOps.sourceTokenQuantiles(df).collect().head
    assert(r.getDouble(1) == 2.5 && r.getDouble(2) == 4.4)
  }

  test("langIdEval confusion counts cover every truth label") {
    val out = CurationOps.langIdEval(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.keys.map(_._1).toSet ==
      docs.select("lang").distinct().collect().map(_.getString(0)).toSet)
    assert(out.values.sum == docs.count())
    // synthetic word-salad text carries a weak language signal: just
    // assert the heuristic beats the 1-of-5 random-label floor
    val agree = out.collect { case ((t, p), n) if t == p => n }.sum
    assert(agree.toDouble / docs.count() > 0.2)
  }

  test("nearDupClusters: transitive closure with canonical min id") {
    import spark.implicits._
    // 20 distinct tokens; B differs from A in the last 2, C differs
    // from B in the first 2: jacc(A,B) = jacc(B,C) = 16/20 = 0.8 (≥ τ),
    // jacc(A,C) = 14/22 ≈ 0.64 (< τ) — only the closure links A to C
    val toks = (0 until 20).map(i => s"w$i")
    val a = toks.mkString(" ")
    val b = (toks.dropRight(2) ++ Seq("x1", "x2")).mkString(" ")
    val c = (Seq("y1", "y2") ++ toks.slice(2, 18) ++ Seq("x1", "x2"))
      .mkString(" ")
    val df = Seq((10L, a), (11L, b), (12L, c), (13L, "entirely other text"))
      .toDF("doc_id", "text")
    val out = DedupOps.nearDupClusters(df, tau = 0.8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L))
  }

  test("tfidfTop: rare term beats common term; tf weighting works") {
    import spark.implicits._
    // 'zebra' appears once in one doc of four (idf = ln 4); 'the' is in
    // every doc (idf = 0, never wins)
    val df = Seq(
      (1L, "the zebra the the"), (2L, "the cat the dog"),
      (3L, "the cat the cat"), (4L, "the dog the dog")).toDF("doc_id", "text")
    val top = TextOps.tfidfTop(df, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) == "zebra")
    // cat/dog appear in 2 of 4 docs each — idf ln(2) > 0, beat 'the'
    assert(top(3L) == "cat" && top(4L) == "dog")
    // doc 2 ties cat vs dog on score — term-asc tiebreak
    assert(top(2L) == "cat")
    // score check: doc 1 zebra tf = 1/4, idf = ln(4)
    val s = TextOps.tfidfTop(df, k = 1).filter(col("doc_id") === 1L)
      .collect().head.getDouble(2)
    assert(math.abs(s - math.round(0.25 * math.log(4.0) * 1e4) / 1e4) < 1e-9)
  }

  test("domainStats: per-domain doc and mention counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "see http://a.com/x and https://b.org/y plus http://a.com/z"),
      (2L, "only https://b.org/page here"),
      (3L, "no links at all")).toDF("doc_id", "text")
    val out = CurationOps.domainStats(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map("a.com" -> (1L, 2L), "b.org" -> (2L, 2L)))
  }

  test("text/curation ops survive null, empty, and whitespace text") {
    import spark.implicits._
    val dirty = Seq((1L, "s", Option("ok doc here")), (2L, "s", Some("")),
      (3L, "s", Some("   ")), (4L, "s", Option.empty[String]))
      .toDF("doc_id", "source", "text")
    // nothing throws; dirty rows degrade, clean rows survive
    assert(CurationOps.qualityFilters(dirty).count() == 4)
    assert(CurationOps.scrubPii(dirty).count() == 4)
    assert(CurationOps.repetitionStats(dirty).count() == 4)
    assert(CurationOps.topNgramFraction(dirty).collect()
      .map(_.getLong(0)).toSet.contains(1L))
    assert(CurationOps.sourceStats(dirty).count() == 1)
    val tq = dirty.select(TextOps.qualityScore(col("text"))).collect()
    assert(tq.length == 4)
    // empty corpora produce empty results, not failures
    val empty = dirty.filter(col("doc_id") < 0)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    assert(DedupOps.minhashLsh(empty).count() == 0)
    assert(DedupOps.tokenJaccard(empty).count() == 0)
    assert(DedupOps.simhash(empty).count() == 0)
    assert(DedupOps.dedupNearDups(empty).count() == 0)
    assert(CurationOps.pruneFrequentTokens(empty).count() == 0)
    assert(CurationOps.approxSourceProfile(
      empty.withColumn("source", lit("s"))).count() == 0)
    // round-6 ops on the same dirty/empty corpora: every doc retained
    // (or dropped) deterministically, nothing throws
    val clean = dirty.select(col("doc_id"),
      coalesce(col("text"), lit("")).as("text"))
    assert(DedupOps.dedupTokenBlocks(clean, blockSize = 4).count() == 4)
    assert(DedupOps.dedupSubstrings(clean, windowTokens = 8).count() == 4)
    assert(DedupOps.dedupParagraphs(clean).count() == 4)
    assert(TextOps.bigramFit(clean).count() == 4)
    assert(TextOps.compressionRatio(dirty).count() == 4) // nulls ok
    assert(CurationOps.shardShuffle(clean, nShards = 4).count() == 4)
    val media = MultimodalOps.withPngPayload(clean)
    assert(MultimodalOps.dHash(media).count() == 4)
    assert(MultimodalOps.pHash(media).count() == 4)
    assert(MultimodalOps.audioProfile(
      MultimodalOps.withWavPayload(clean)).count() == 4)
    assert(DedupOps.dedupTokenBlocks(empty, blockSize = 4).count() == 0)
    assert(DedupOps.dedupSubstrings(empty, windowTokens = 8).count() == 0)
    assert(TextOps.bigramFit(empty).count() == 0)
    assert(CurationOps.bloomDecontaminate(empty, clean).count() == 0)
    // held-out side empty: bloom is all-zeros, nothing flags
    val noFlags = CurationOps.bloomDecontaminate(clean, empty)
    assert(noFlags.filter(col("flagged_ngrams") > 0).count() == 0)
  }

  test("weighted shortest paths from an absent source: just the source") {
    import spark.implicits._
    val v = Seq((1L, "n"), (2L, "n")).toDF("id", "label")
    val e = Seq((1L, 2L, 5L)).toDF("src", "dst", "w")
      .withColumn("label", lit("w"))
    val d = GraphAlgos.weightedShortestPaths(
      graft.sources.GraphStore(v, e), source = 99L, col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d == Map(99L -> 0L))
  }

  test("pruneFrequentTokens drops ubiquitous tokens, keeps order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick fox the"), (2L, "the slow dog"),
      (3L, "the lazy cat"), (4L, "rare words only")).toDF("doc_id", "text")
    // "the" is in 3/4 docs (df ratio 0.75 > 0.5) → dropped everywhere
    val out = CurationOps.pruneFrequentTokens(corpus, maxDfRatio = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("quick fox", 2L, 2L)))
    assert(out(2L) == (("slow dog", 2L, 1L)))
    assert(out(4L) == (("rare words only", 3L, 0L)))
    // a doc of only dropped tokens survives with empty text
    val allCommon = Seq((1L, "x"), (2L, "x"), (3L, "x y"))
      .toDF("doc_id", "text")
    val pruned = CurationOps.pruneFrequentTokens(allCommon, maxDfRatio = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pruned(1L) == "" && pruned(3L) == "y")
  }

  test("dedupNearDups keeps exactly the cluster canonicals") {
    val clusters = DedupOps.nearDupClusters(docs, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val survivors = DedupOps.dedupNearDups(docs, tau = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == clusters.filter { case (id, c) => id == c }.keySet)
    // every doc's canonical is a survivor; survivors count < corpus
    assert(clusters.values.toSet.subsetOf(survivors))
    assert(survivors.size < clusters.size)
  }

  test("approxSourceProfile sketches stay inside tolerance of exact") {
    val prof = CurationOps.approxSourceProfile(docs, rsd = 0.02)
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = docs.groupBy(col("source"))
      .agg(countDistinct(col("text")).as("d"),
        expr("percentile(size(split(trim(text), ' ')), 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getDouble(2)))).toMap
    assert(prof.keySet == exact.keySet && prof.nonEmpty)
    prof.foreach { case (src, row) =>
      val (d, p50) = exact(src)
      val approxD = row.getLong(2)
      // 3 standard deviations of the configured 2% rsd
      assert(math.abs(approxD - d) <= math.max(3, 0.06 * d),
        s"$src: approx distinct $approxD vs exact $d")
      // GK sketch at accuracy 10000 over ≤ thousands of rows is exact
      assert(math.abs(row.getInt(3) - p50) <= 1,
        s"$src: p50 ${row.getInt(3)} vs $p50")
    }
  }

  test("JSONL round-trip preserves rows, schema, and text bytes") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-jsonl-spec").toString
    val rt = graft.sources.TextTables.jsonlRoundTrip(docs, dir)
    assert(rt.schema == docs.schema)
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = rt.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("CSV round-trip preserves bytes incl. quotes/newlines/commas") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-csv-spec").toString
    // real corpus fidelity
    val rt = graft.sources.TextTables.csvRoundTrip(docs, dir + "/corpus")
    assert(rt.schema == docs.schema)
    assert(rt.orderBy("doc_id").collect().map(_.toSeq)
      .sameElements(docs.orderBy("doc_id").collect().map(_.toSeq)))
    // adversarial CSV content: delimiters, RFC quote-doubling,
    // embedded newlines (multiLine), empty string (NOT null)
    val nasty = Seq(
      (1L, "plain"),
      (2L, "comma, separated, values"),
      (3L, "a \"quoted\" word and \"\"double\"\""),
      (4L, "line one\nline two\n\nline four"),
      (5L, ""),
      (6L, " leading and trailing ")).toDF("doc_id", "text")
    val back = graft.sources.TextTables
      .csvRoundTrip(nasty, dir + "/nasty")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = nasty.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == want, back.toString)
  }

  // ---------------- MultimodalOps ----------------

  test("payload decode plumbing: typed batches with deterministic stub") {
    val media = MultimodalOps.withPayload(docs)
    val meta = MultimodalOps.decodeMeta(media, batchSize = 32)
    val viaColumns = MultimodalOps.decodeMetaColumns(media)
    val a = meta.collect().map(m => (m.doc_id, m.bytes, m.width, m.height)).toSet
    val b = viaColumns.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(a == b)            // mapPartitions stub == column stub
    assert(a.size == docs.count())
  }

  test("real header decode: PNG IHDR, JPEG SOF0, WAV fmt") {
    // the canonical 1x1 transparent PNG (RGBA, color type 6)
    val png1x1 = Array(
      0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0x00, 0x00, 0x00, 0x0d, 'I', 'H', 'D', 'R',
      0x00, 0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x01, // 1 x 1
      0x08, 0x06, 0x00, 0x00, 0x00, 0x1f, 0x15, 0xc4, 0x89
    ).map(_.toByte)
    val m1 = MultimodalOps.realDecode(1L, png1x1)
    assert((m1.width, m1.height, m1.channels, m1.format) == ((1, 1, 4, "png")))

    // minimal JPEG: SOI, APP0 stub, SOF0 (8-bit, 480x640, 3 components)
    val jpeg = Array(
      0xff, 0xd8,                                     // SOI
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46,             // APP0, len 4
      0xff, 0xc0, 0x00, 0x11, 0x08,                   // SOF0, len 17, precision 8
      0x01, 0xe0,                                     // height 480
      0x02, 0x80,                                     // width 640
      0x03,                                           // 3 components
      0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01,
      0xff, 0xd9                                      // EOI
    ).map(_.toByte)
    val m2 = MultimodalOps.realDecode(2L, jpeg)
    assert((m2.width, m2.height, m2.channels, m2.format) ==
      ((640, 480, 3, "jpeg")))

    // minimal WAV: RIFF/WAVE + fmt chunk, stereo 44100 Hz 16-bit
    val bb = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(1)           // PCM
      .putShort(2)           // channels
      .putInt(44100)         // sample rate
      .putInt(44100 * 4).putShort(4).putShort(16)
    bb.put("data".getBytes).putInt(0)
    val m3 = MultimodalOps.realDecode(3L, bb.array())
    assert((m3.width, m3.height, m3.channels, m3.format) ==
      ((44100, 16, 2, "wav")))

    // dirty data never throws — falls back to the stub
    val m4 = MultimodalOps.realDecode(4L, Array[Byte](1, 2, 3))
    assert(m4.format == "stub" && m4.bytes == 3L)
  }

  test("synthesized PNG payloads round-trip through the header parser") {
    val meta = MultimodalOps.decodeMeta(
      MultimodalOps.withPngPayload(docs), batchSize = 32).collect()
    val lens = docs.select(col("doc_id"),
      length(encode(col("text"), "UTF-8")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(meta.length == lens.size)
    meta.foreach { m =>
      val n = lens(m.doc_id)
      assert(m.format == "png" && m.channels == 3)
      assert(m.width == n % 640 + 16, s"doc ${m.doc_id}")
      assert(m.height == (n.toLong * 7 % 480 + 16).toInt)
      assert(m.bytes == n + 57L)
    }
  }

  test("chunkTokens: sliding windows with overlap match the model") {
    import spark.implicits._
    val df = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b c d e"),                      // 5 tokens
      (3L, "solo")                            // 1 token
    ).toDF("doc_id", "text")
    val out = CurationOps.chunkTokens(df, chunkSize = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3), r.getString(4))).toMap
    // step=3; starts 0,3,6 for n=10 (start 9 adds no new token: 9+1 !< 10)
    assert(out((1L, 0L)) == ((4L, "t1", "t4")))
    assert(out((1L, 1L)) == ((4L, "t4", "t7")))
    assert(out((1L, 2L)) == ((4L, "t7", "t10")))
    // n=5: starts 0,3 — trailing chunk truncated to 2 tokens
    assert(out((2L, 0L)) == ((4L, "a", "d")))
    assert(out((2L, 1L)) == ((2L, "d", "e")))
    // n=1: one whole-doc chunk
    assert(out((3L, 0L)) == ((1L, "solo", "solo")))
    assert(out.size == 6)
  }

  test("chunkTokens covers every token of every doc") {
    val chunks = CurationOps.chunkTokens(docs, chunkSize = 32, overlap = 8)
    // per doc: first chunk starts at token 1, chunks are contiguous
    // (next start = prev start + 24 <= prev end + 1), last chunk ends at n
    val perDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("k"), max(col("chunk_id")).as("mx"),
        sum(col("n_tokens")).as("covered"))
      .collect()
    val nToks = docs.select(col("doc_id"),
      size(split(trim(col("text")), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    perDoc.foreach { r =>
      val (k, mx, covered) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(mx == k - 1, s"chunk ids not dense for doc ${r.getLong(0)}")
      val n = nToks(r.getLong(0))
      val expected = if (n <= 32) 1 else math.ceil((n - 8) / 24.0).toInt
      assert(k == expected, s"doc ${r.getLong(0)}: $k chunks for $n tokens")
      // contiguous full coverage: each adjacent pair re-covers exactly
      // `overlap` tokens, so the token multiset sums to n + 8·(k-1)
      assert(covered == n + 8 * (k - 1),
        s"doc ${r.getLong(0)}: coverage $covered for $n tokens, $k chunks")
    }
  }

  test("groupSplits: every member of a group shares one split") {
    val out = CurationOps.groupSplits(docs).collect()
      .map(r => (r.getString(1), r.getString(2)))
    // the leakage-safety property: one split per group
    val perGroup = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(perGroup.values.forall(_.size == 1))
    // and the fixture has more than one group and more than one split
    assert(perGroup.size > 1)
    assert(out.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("dailyTopUsers: hand fixture, bounded cut, no window") {
    import spark.implicits._
    // epoch millis directly — Timestamp.valueOf would read the JVM tz
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    def ts(day: Int, s: Int) = new java.sql.Timestamp(
      base + day * 86400000L + s * 1000L)
    // day 0: u1 x3, u2 x2, u3 x1, u4 x1 (tie by id: u3 takes rank 3)
    val ev = (Seq.fill(3)((ts(0, 1), 1L)) ++ Seq.fill(2)((ts(0, 2), 2L)) ++
      Seq((ts(0, 3), 3L), (ts(0, 4), 4L), (ts(1, 1), 9L)))
      .toDF("ts", "user_id")
    val out = graft.streaming.EventStreamOps.dailyTopUsers(ev, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val d0 = 19723L // 2024-01-01 in epoch days
    assert(out == Set((d0, 1L, 3L, 1), (d0, 2L, 2L, 2), (d0, 3L, 1L, 3),
      (d0 + 1, 9L, 1L, 1)))
    val p = graft.streaming.EventStreamOps.dailyTopUsers(ev, k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_graft_bounded_min_pairs"), p.take(1200))
    assert(!p.contains("Window"), p.take(1200))
  }

  test("assignSplits: deterministic, stable, three-way") {
    val a = CurationOps.assignSplits(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = CurationOps.assignSplits(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b) // bit-stable across runs
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    val n = a.size.toDouble
    val train = a.values.count(_ == "train") / n
    assert(train > 0.70 && train < 0.92, s"train fraction $train")
    // growing the corpus never reassigns an existing doc
    val half = CurationOps.assignSplits(docs.filter(col("doc_id") % 2 === 0))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    half.foreach { case (id, s) => assert(a(id) == s) }
  }

  test("quantizeInt8: codes in [-128,127], exact on known vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -2.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(127.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.quantizeInt8(df).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // scale = 127/2 = 63.5: q = [63, -127]
    assert(out(1L) == ((-64L, -127L, 63L, 63.5)))
    assert(out(2L) == ((0L, 0L, 0L, 0.0))) // zero vector → scale 0
    assert(out(3L) == ((127L, 127L, 127L, 1.0)))
    // real embeddings: every code within int8 range
    val q = SimilarityOps.quantizeInt8(embs)
    assert(q.filter(col("q_min") < -128 || col("q_max") > 127).count() == 0)
    assert(q.count() == embs.count())
  }

  test("resize + frame sampling stubs") {
    implicit val s = spark
    val media = MultimodalOps.withPayload(docs.limit(10))
    val resized = MultimodalOps.resizeMeta(
      MultimodalOps.decodeMeta(media), maxSide = 100)
    assert(resized.filter(col("out_width") > 100 || col("out_height") > 100)
      .count() == 0)
    val frames = MultimodalOps.sampleFrames(media, everyNth = 10, maxFrames = 4)
    assert(frames.groupBy("doc_id").count()
      .filter(col("count") > 4).count() == 0)
  }

  test("embedStats: per-dimension stats match a driver model") {
    val stats = SimilarityOps.embedStats(embs).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5)))).toMap
    val vecs = embs.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = vecs.head.length
    assert(stats.size == dim)
    for (d <- Seq(0, dim / 2, dim - 1)) {
      val xs = vecs.map(_(d))
      val (n, mean, std, mn, mx) = stats(d)
      assert(n == xs.length.toLong)
      val m = xs.sum / xs.length
      assert(math.abs(mean - m) < 5e-4)
      val s = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
      assert(math.abs(std - s) < 5e-4)
      assert(mn == xs.min && mx == xs.max)
    }
  }

  test("vocabulary: deterministic top-k with exact counts") {
    import spark.implicits._
    val df = Seq((1L, "a b b c c c"), (2L, "c b")).toDF("doc_id", "text")
    val v = TextOps.vocabulary(df, maxSize = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(v.toSeq == Seq(("c", 4L, 2L, 1), ("b", 3L, 2L, 2)))
    // real corpus: ranks contiguous, counts non-increasing
    val real = TextOps.vocabulary(docs, maxSize = 30).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(real.map(_._2).toSeq == (1 to real.length))
    assert(real.map(_._1).toSeq == real.map(_._1).sortBy(-_).toSeq)
  }

  test("globalSample: deterministic top-n by salted hash, growth-stable") {
    val s1 = CurationOps.globalSample(docs, n = 50).collect()
      .map(_.getLong(0)).toSet
    assert(s1.size == 50)
    // deterministic across runs
    assert(CurationOps.globalSample(docs, n = 50).collect()
      .map(_.getLong(0)).toSet == s1)
    // a smaller n is a prefix of a larger n (same hash order)
    val s20 = CurationOps.globalSample(docs, n = 20).collect()
      .map(_.getLong(0)).toSet
    assert(s20.subsetOf(s1))
    // no global sort in the plan
    val plan = CurationOps.globalSample(docs, n = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("audioProfile: WAV synthesis parses back; energies match model") {
    val media = MultimodalOps.withWavPayload(docs.limit(80))
    // the synthesized container is a REAL WAV to the header parser
    val meta = MultimodalOps.decodeMeta(media).collect()
    assert(meta.nonEmpty && meta.forall(_.format == "wav"))
    val out = MultimodalOps.audioProfile(media).collect()
      .map(a => a.doc_id -> a).toMap
    docs.limit(80).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .foreach { case (id, text) =>
        val body = text.getBytes("UTF-8")
        val frames = body.grouped(256)
          .map(_.map(b => math.abs((b & 0xff) - 128).toLong).sum).toArray
        val a = out(id)
        assert(a.sample_rate == body.length % 32000 + 8000)
        assert(a.n_samples == body.length.toLong)
        assert(a.n_frames == frames.length.toLong)
        assert(a.total_energy == frames.sum)
        if (frames.nonEmpty) {
          val peak = frames.indexOf(frames.max)
          assert(a.peak_frame == peak.toLong &&
            a.peak_energy == frames.max)
        } else assert(a.peak_frame == 0L && a.peak_energy == 0L)
      }
  }

  test("sharded parquet export round-trips complete with shard dirs") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shards-spec").toString
    val back = graft.sources.TextTables
      .shardedParquetRoundTrip(docs, dir, nShards = 4)
    assert(back.count() == docs.count())
    // every row keeps its payload and lands in its md5 shard
    val expected = CurationOps.shardShuffle(docs, nShards = 4)
      .select(col("doc_id"), col("shard").as("expected_shard"))
    assert(back.join(expected, "doc_id")
      .filter(col("shard") =!= col("expected_shard")).count() == 0)
    // physical layout: one directory per shard (partition pruning path)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(dirs.length == 4, dirs.mkString(","))
    // text survives byte-for-byte
    assert(back.select("doc_id", "text").except(
      docs.select("doc_id", "text")).count() == 0)
  }

  test("dedupSubstrings removes later copies of planted spans") {
    import spark.implicits._
    val span = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token span
    val df = Seq(
      (1L, s"a b $span c d"),
      (2L, s"x y z $span q"), // span repeats -> its tokens drop
      (3L, "u v w")           // too short for any window
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupSubstrings(df, windowTokens = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((s"a b $span c d", 14L, 0L))) // first copy intact
    // doc 2: all three 8-windows inside the span are dups; they cover
    // exactly the 10 span tokens, so "x y z ... q" survive
    assert(out(2L) == (("x y z q", 4L, 10L)))
    assert(out(3L) == (("u v w", 3L, 0L)))
    // fully-duplicated long docs: every window of docs 11-12 repeats
    // doc 10, so one merged run covers the whole doc (the heavy-dup
    // path where windows overlap maximally)
    val long = (1 to 100).map(i => s"t$i").mkString(" ")
    val trip = Seq((10L, long), (11L, long), (12L, long))
      .toDF("doc_id", "text")
    val t = DedupOps.dedupSubstrings(trip, windowTokens = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(t(10L) == ((long, 100L, 0L)))
    assert(t(11L) == (("", 0L, 100L)))
    assert(t(12L) == (("", 0L, 100L)))
  }

  test("dedupSubstrings equals a driver-side reference model") {
    val k = 8
    val rows = docs.limit(120).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // reference: first occurrence per window content in (doc, pos)
    // order; tokens covered by later duplicates drop
    val firsts = scala.collection.mutable.Map.empty[String, (Long, Int)]
    rows.sortBy(_._1).foreach { case (id, text) =>
      val w = text.trim.split(" ")
      for (s <- 0 to w.length - k) {
        val key = w.slice(s, s + k).mkString(" ")
        if (!firsts.contains(key)) firsts(key) = (id, s)
      }
    }
    val expect = rows.map { case (id, text) =>
      val w = text.trim.split(" ")
      val covered = Array.fill(w.length)(false)
      for (s <- 0 to w.length - k) {
        val key = w.slice(s, s + k).mkString(" ")
        if (firsts(key) != ((id, s)))
          (s until s + k).foreach(covered(_) = true)
      }
      val kept = w.indices.filterNot(covered).map(w)
      id -> ((kept.mkString(" "), kept.size.toLong,
        (w.length - kept.size).toLong))
    }.toMap
    val out = DedupOps.dedupSubstrings(
      docs.limit(120), windowTokens = k).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == expect)
  }

  test("dedupSuffix/repeatedSpans: arbitrary alignment, strip all copies") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"s$i").mkString(" ") // 12-token span
    val df = Seq(
      (1L, s"a b $span c d"),          // span at offset 2
      (2L, s"x $span y z q r t u v"),  // same span at offset 1
      (3L, "u v w")                    // too short for any window
    ).toDF("doc_id", "text")
    // spans: each copy is reported as ONE maximal 12-token run at its
    // own alignment, text sliced from the original
    val spans = DedupOps.repeatedSpans(df, minTokens = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(spans(1L) == ((2L, 12L, span)))
    assert(spans(2L) == ((1L, 12L, span)))
    assert(!spans.contains(3L))
    // strip-all: BOTH copies lose the span (dedupSubstrings would
    // exempt doc 1's first occurrence)
    val out = DedupOps.dedupSuffix(df, minTokens = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out(1L) == (("a b c d", 4L, 12L)))
    assert(out(2L) == (("x y z q r t u v", 8L, 12L)))
    assert(out(3L) == (("u v w", 3L, 0L)))
    // two repeats OVERLAPPING inside one doc merge into one maximal
    // run: "alpha" block and "beta" block share 4 tokens in doc 20
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val b = (1 to 10).map(i => s"b$i").mkString(" ")
    val ov = Seq(
      (20L, s"$a $b tail1 tail2"),
      (21L, s"pre1 pre2 $a end"),
      (22L, s"$b fin")).toDF("doc_id", "text")
    val so = DedupOps.repeatedSpans(ov, minTokens = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 20: a-block [0,10) and b-block [10,20) coverage is
    // contiguous -> ONE maximal 20-token span
    assert(so.contains((20L, 0L, 20L)), so)
    assert(so.count(_._1 == 20L) == 1, so)
  }

  test("dedupSuffix/repeatedSpans equal a driver-side reference model") {
    val k = 8
    val rows = docs.limit(120).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // window-content counts over the whole (sub)corpus, no exemption
    val counts = scala.collection.mutable.Map.empty[String, Int]
    rows.foreach { case (_, text) =>
      val w = text.trim.split(" ")
      for (s <- 0 to w.length - k)
        counts(w.slice(s, s + k).mkString(" ")) =
          counts.getOrElse(w.slice(s, s + k).mkString(" "), 0) + 1
    }
    val expectCut = rows.map { case (id, text) =>
      val w = text.trim.split(" ")
      val covered = Array.fill(w.length)(false)
      for (s <- 0 to w.length - k)
        if (counts(w.slice(s, s + k).mkString(" ")) >= 2)
          (s until s + k).foreach(covered(_) = true)
      val kept = w.indices.filterNot(covered).map(w)
      id -> ((kept.mkString(" "), kept.size.toLong,
        (w.length - kept.size).toLong))
    }.toMap
    val outCut = DedupOps.dedupSuffix(docs.limit(120), minTokens = k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(outCut == expectCut)
    // spans = maximal covered runs of the same model
    val expectSpans = rows.flatMap { case (id, text) =>
      val w = text.trim.split(" ")
      val covered = Array.fill(w.length)(false)
      for (s <- 0 to w.length - k)
        if (counts(w.slice(s, s + k).mkString(" ")) >= 2)
          (s until s + k).foreach(covered(_) = true)
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      while (i < w.length) {
        if (covered(i)) {
          var j = i; while (j + 1 < w.length && covered(j + 1)) j += 1
          runs += ((i, j)); i = j + 1
        } else i += 1
      }
      runs.map { case (s, e) => (id, s.toLong, (e - s + 1).toLong,
        w.slice(s, e + 1).mkString(" ")) }
    }.toSet
    val outSpans = DedupOps.repeatedSpans(docs.limit(120), minTokens = k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(outSpans == expectSpans)
  }

  test("compressionRatio orders repetitive < prose < noise") {
    import spark.implicits._
    val rep = Array.fill(200)("the cat sat").mkString(" ")
    val prose = docs.limit(1).select("text").as[String].head()
    val noise = { // printable pseudo-noise (splitmix64 walk, aperiodic)
      var z = 0x243F6A8885A308D3L
      (0 until 2000).map { _ =>
        z += 0x9E3779B97F4A7C15L
        var m = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        m = (m ^ (m >>> 27)) * 0x94D049BB133111EBL
        (java.lang.Math.floorMod(m ^ (m >>> 31), 94L) + 33).toChar
      }.mkString
    }
    val df = Seq((1L, rep), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.compressionRatio(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L)._3 < out(2L)._3 && out(2L)._3 < out(3L)._3)
    assert(out(4L) == ((0L, 0L, 1.0))) // empty: defined ratio 1
    out.values.foreach { case (raw, comp, ratio) =>
      if (raw > 0) assert(math.abs(ratio - comp.toDouble / raw) < 1e-3)
    }
    // deterministic across runs
    val again = TextOps.compressionRatio(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(again == out.view.mapValues(_._3).toMap)
  }

  test("shardShuffle: deterministic, complete, growth-stable") {
    import spark.implicits._
    val out = CurationOps.shardShuffle(docs, nShards = 8)
    // every doc exactly once, shards in range, positions contiguous 1..n
    assert(out.count() == docs.count())
    assert(out.filter(col("shard") < 0 || col("shard") >= 8).count() == 0)
    val posOk = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(posOk.count() == 0)
    // deterministic across runs
    val a = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = CurationOps.shardShuffle(docs, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
    // growth-stable: dropping docs never changes a survivor's shard
    val half = CurationOps.shardShuffle(
      docs.filter(col("doc_id") % 2 === 0), nShards = 8)
      .select(col("doc_id"), col("shard").as("shard2"))
    assert(out.join(half, "doc_id")
      .filter(col("shard") =!= col("shard2")).count() == 0)
  }

  test("bloomDecontaminate: superset of exact, zero FPs when sized") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val heldout = docs.filter(col("doc_id") % 10 === 0)
    val exact = CurationOps.decontaminate(corpus, heldout)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bloom = CurationOps.bloomDecontaminate(corpus, heldout)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact.nonEmpty, "fixture should contain contamination")
    // never false-negative: every exact hit flagged with >= its count
    exact.foreach { case (id, shared) =>
      assert(bloom(id) >= shared, s"doc $id lost hits: ${bloom(id)} < $shared")
    }
    // at 2^22 bits for this fixture's shingle count the FP probability
    // is ~0: flags must match the exact join exactly
    val fps = bloom.filter { case (id, f) =>
      f > 0 && exact.getOrElse(id, 0L) != f }
    assert(fps.isEmpty, s"unexpected bloom false positives: $fps")
    // every corpus doc present (zero-flag docs retained)
    assert(bloom.size == corpus.count())
  }

  test("bigramFit: corpus frequencies summed per doc, edge docs kept") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c"),   // bigrams: "a b", "b c"
      (2L, "a b d"),   // bigrams: "a b", "b d"
      (3L, "x"),       // no bigrams
      (4L, "")         // no tokens
    ).toDF("doc_id", "text")
    // corpus counts: "a b"->2, "b c"->1, "b d"->1
    val out = TextOps.bigramFit(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 2L, 1.5)))  // 2 + 1
    assert(out(2L) == ((3L, 2L, 1.5)))  // 2 + 1
    assert(out(3L) == ((0L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
    // corpus invariant on real docs: every doc's n_bigrams = tokens-1
    val real = TextOps.bigramFit(docs)
      .join(docs.select(col("doc_id"),
        (size(split(trim(col("text")), " ")) - 1).cast("long").as("exp")),
        "doc_id")
    assert(real.filter(col("n_bigrams") =!= greatest(col("exp"), lit(0L)))
      .count() == 0)
    // and fit_total >= n_bigrams (every bigram counts itself)
    assert(real.filter(col("fit_total") < col("n_bigrams")).count() == 0)
  }

  test("perplexityBuckets: relative cut matches a driver-side model") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"), // very ordinary transitions -> high fit
      (2L, "a b c d e f"), // mixed
      (3L, "q r s t u v"), // all-unique transitions -> fit 1/bigram
      (4L, "x")            // no bigrams -> fit 0 -> tail
    ).toDF("doc_id", "text")
    val fit = TextOps.bigramFit(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val cm = math.max(fit.values.map(_._1).sum * 1000 /
      math.max(fit.values.map(_._2).sum, 1L), 1L)
    val expected = fit.map { case (id, (ft, nb)) =>
      val rel = ft * 1000 / math.max(nb, 1L) * 1000 / cm
      id -> ((rel, if (rel < 980) "tail"
        else if (rel >= 1005) "head" else "middle"))
    }
    val out = TextOps.perplexityBuckets(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out == expected)
    assert(out(1L)._2 == "head")   // repeated bigram dominates the mean
    assert(out(4L)._2 == "tail")   // bigram-free doc scores 0
    // every doc exactly once at corpus scale, all buckets populated
    val real = TextOps.perplexityBuckets(docs)
    assert(real.count() == docs.count())
    assert(real.select("bucket").distinct().count() == 3)
  }

  test("bm25TopK: hand-checked scores, rank order, k bound") {
    import spark.implicits._
    val df = Seq(
      (1L, "apple banana apple"),  // tf(apple)=2, dl=3
      (2L, "apple cherry"),        // tf(apple)=1, dl=2
      (3L, "banana banana durian"),
      (4L, "elderberry fig")
    ).toDF("doc_id", "text")
    // N=4, T=10, A=2; df(apple)=2, df(banana)=2, df(durian)=1
    def contrib(n: Long, df0: Long, a: Long, tf: Long, dl: Long): Long =
      (1000 * (n - df0 + 1) / (df0 + 1)) * (44 * a * tf) /
        (20 * a * tf + 6 * a + 18 * dl)
    val out = TextOps.bm25TopK(df, Seq(1 -> "apple banana", 2 -> "durian"),
        k = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    // query 1: doc1 matches apple(tf 2) + banana(tf 1); doc2 apple only;
    // doc3 banana(tf 2) — top-2 of the three survive the k bound
    val d1 = contrib(4, 2, 2, 2, 3) + contrib(4, 2, 2, 1, 3)
    val d2 = contrib(4, 2, 2, 1, 2)
    val d3 = contrib(4, 2, 2, 2, 3)
    val top = Seq(1L -> d1, 2L -> d2, 3L -> d3)
      .sortBy { case (id, s) => (-s, id) }.take(2)
    assert(out.keys.count(_._1 == 1) == 2, "k=2 bound per query")
    top.zipWithIndex.foreach { case ((id, s), i) =>
      assert(out((1, id)) == ((s, i + 1)), s"query 1 doc $id")
    }
    // query 2: only doc3 contains durian
    assert(out((2, 3L)) == ((contrib(4, 1, 2, 1, 3), 1)))
    assert(out.keys.count(_._1 == 2) == 1)
    // duplicate query terms are deduplicated: same score either way
    val dup = TextOps.bm25TopK(df, Seq(9 -> "durian durian"), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(dup == Seq((3L, contrib(4, 1, 2, 1, 3))))
  }

  test("countMinSketch: admissible estimates, bounded size, collisions") {
    import spark.implicits._
    // corpus-wide admissibility: EVERY term's row minimum >= its true
    // count (not just the top-k the gate emits)
    val exact = docs.select(explode(split(trim(col("text")), " "))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val sketch = CurationOps.countMinSketch(docs, depth = 4, width = 256)
    assert(sketch.count() <= 4L * 256)
    val est = exact
      .select(explode(sequence(lit(0), lit(3))).as("j"), col("term"),
        col("cnt"))
      .withColumn("cell", expr(
        "cast(conv(substring(md5(concat(cast(j as string), ':', term))," +
          " 1, 8), 16, 10) as bigint) % 256"))
      .join(sketch.withColumnRenamed("cnt", "scnt"), Seq("j", "cell"))
      .groupBy("term").agg(max("cnt").as("cnt"), min("scnt").as("est"))
    assert(est.filter(col("est") < col("cnt")).count() == 0,
      "count-min must never underestimate")
    assert(est.count() == exact.count())
    // sketch mass: every row's counters sum to the token instances
    val instances = docs.select(sum(size(split(trim(col("text")), " "))))
      .collect().head.getLong(0)
    val perRow = sketch.groupBy("j").agg(sum("cnt").as("m"))
      .collect().map(_.getLong(1))
    assert(perRow.length == 4 && perRow.forall(_ == instances))
    // a width-2 sketch MUST collide on this vocabulary: some estimate
    // strictly exceeds the exact count, none undershoot
    val hh = CurationOps.countMinHeavyHitters(docs, depth = 1, width = 2,
      topK = 10).collect()
    assert(hh.forall(r => r.getLong(2) >= r.getLong(1)))
    assert(hh.exists(r => r.getLong(2) > r.getLong(1)))
    // gate face at the gate dims: top-k exact counts match the corpus
    val top = CurationOps.countMinHeavyHitters(docs, topK = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val trueTop = exact.orderBy(col("cnt").desc, col("term")).limit(5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top == trueTop)
  }

  test("kmvDistinct equals a driver-side bottom-k replica; exact under k") {
    import spark.implicits._
    // 500 distinct texts (each duplicated) in one group, 10 in another:
    // the big group estimates, the small one is exact by construction
    val rows = ((0 until 500).flatMap(i => Seq(("big", s"doc number $i"),
      ("big", s"doc number $i"))) ++
      (0 until 10).map(i => ("small", s"tiny $i")))
      .toDF("source", "text")
    val out = CurationOps.kmvDistinct(rows, k = 64, withExact = true)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("small") == ((10L, 10L, 10L)))
    assert(out("big")._1 == 1000L && out("big")._2 == 500L)
    // driver replica: bottom-64 distinct 32-bit md5-prefix hashes
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = (0 until 500).map { i =>
      val d = md.digest(s"doc number $i".getBytes("UTF-8"))
      md.reset()
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }.distinct.sorted
    val expect = 63L * 4294967296L / hashes(63)
    assert(out("big")._3 == expect)
    // bottom-k error bound: rsd ~ 1/sqrt(k-2) ~ 13% — allow 3 sigma
    assert(math.abs(out("big")._3 - 500L) <= 200,
      s"kmv estimate ${out("big")._3} implausibly far from 500")
  }

  test("dHash matches a driver-side model and the header dims") {
    val media = MultimodalOps.withPngPayload(docs.limit(100))
    val out = MultimodalOps.dHash(media).collect()
      .map(h => h.doc_id -> h).toMap
    val texts = docs.limit(100).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      val body = text.getBytes("UTF-8")
      val g = Array.tabulate(72)(c =>
        if (body.isEmpty) 0 else body(((c.toLong * body.length) / 72).toInt) & 0xff)
      var hi = 0L; var lo = 0L
      for (y <- 0 until 8; x <- 0 until 8
           if g(y * 9 + x + 1) > g(y * 9 + x)) {
        val b = y * 8 + x
        if (b >= 32) hi |= 1L << (b - 32) else lo |= 1L << b
      }
      val h = out(id)
      assert((h.dhash_hi, h.dhash_lo) == ((hi, lo)), s"doc $id hash")
      // header-parsed dims must equal the synthesis arithmetic
      assert(h.width == body.length % 640 + 16)
      assert(h.height == (body.length.toLong * 7 % 480 + 16).toInt)
    }
  }

  test("perceptual hashes: twins identical, perturbation close, others far") {
    import spark.implicits._
    val base = docs.limit(40).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length > 10)
    // same-length one-char perturbation: few sampled cells change
    val perturbed = base.map { case (id, t) =>
      (id + 100000L, t.substring(0, 5) + "Z" + t.substring(6))
    }
    val corpus = (base ++ perturbed).toSeq.toDF("doc_id", "text")
    val media = MultimodalOps.withPngPayload(corpus)
    for (hashes <- Seq(MultimodalOps.dHash(media), MultimodalOps.pHash(media))) {
      val m = hashes.collect().map(h =>
        h.doc_id -> ((h.dhash_hi << 32) | h.dhash_lo)).toMap
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      val near = base.map { case (id, _) => ham(m(id), m(id + 100000L)) }
      val far = base.take(10).flatMap { case (id, _) =>
        base.drop(10).take(10).map { case (id2, _) => ham(m(id), m(id2)) }
      }
      assert(near.max <= 16, s"perturbed pair too far: ${near.max}")
      assert(far.sum.toDouble / far.length > near.sum.toDouble / near.length,
        "unrelated pairs should be farther than perturbed pairs")
    }
    // determinism: second run bit-identical
    val again = MultimodalOps.pHash(media).collect()
      .map(h => h.doc_id -> ((h.dhash_hi, h.dhash_lo))).toMap
    val first = MultimodalOps.pHash(media).collect()
      .map(h => h.doc_id -> ((h.dhash_hi, h.dhash_lo))).toMap
    assert(again == first)
  }

  test("imageNearDup pigeonhole join equals brute force") {
    val media = MultimodalOps.withPngPayload(docs.limit(150))
    val hashes = MultimodalOps.dHash(media).toDF()
    for (maxDist <- Seq(0, 4, 6)) {
      val pairs = MultimodalOps.imageNearDup(hashes, maxDist).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val hs = hashes.collect().map(r =>
        (r.getLong(0), (r.getLong(3) << 32) | r.getLong(4)))
      val brute = (for {
        (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
        d = java.lang.Long.bitCount(ha ^ hb) if d <= maxDist
      } yield (ia, ib, d)).toSet
      assert(pairs == brute, s"maxDist=$maxDist")
    }
  }

  test("autoBits sizes LSH buckets >= log2(n), floored at 16") {
    assert(DedupOps.autoBits(0L) == 16)
    assert(DedupOps.autoBits(1000L) == 16)        // floor regime
    assert(DedupOps.autoBits(65536L) == 16)       // 2^16 exactly
    assert(DedupOps.autoBits(65537L) == 17)
    assert(DedupOps.autoBits(1000000L) == 20)     // ceil(log2 1e6)
    assert(DedupOps.autoBits(100000000L) == 27)   // 1e8 vectors
    assert(DedupOps.autoBits(Long.MaxValue) == 30) // cap
  }

  test("dedupParagraphs: corpus-wide first occurrence, order kept") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta\n\nshared footer\n\ngamma"),
      (2L, "shared footer\n\ndelta"),       // footer repeats from doc 1
      (3L, "alpha beta\n\nalpha beta"),     // intra-doc repeat too
      (4L, "shared footer"),                // loses its only paragraph
      (5L, "")                              // no paragraphs at all
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupParagraphs(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("alpha beta\n\nshared footer\n\ngamma", 3L, 0L)))
    assert(out(2L) == (("delta", 1L, 1L)))
    assert(out(3L) == (("", 0L, 2L))) // both copies lose to doc 1
    assert(out(4L) == (("", 0L, 1L)))
    assert(out(5L) == (("", 0L, 0L)))
  }

  test("dedupTokenBlocks: block granularity, reassembly exact") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g"),   // blocks: "a b c d", "e f g"
      (2L, "a b c d x y z w") // first block repeats doc 1's
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupTokenBlocks(df, blockSize = 4).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("a b c d e f g", 2L, 0L)))
    assert(out(2L) == (("x y z w", 1L, 1L)))
    // corpus-level invariant on real docs: every distinct block
    // survives exactly once, so kept-block mass == distinct blocks
    val real = DedupOps.dedupTokenBlocks(docs, blockSize = 4)
    val keptMass = real.agg(sum("kept")).as[Long].head()
    val distinctBlocks = docs.select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("p", "t")))
      .groupBy(col("doc_id"), (col("p") / 4).cast("long").as("b"))
      .agg(array_join(array_sort(collect_list(struct(col("p"), col("t"))))
        .getField("t"), " ").as("para"))
      .select("para").distinct().count()
    assert(keptMass == distinctBlocks)
  }

  test("mixSources: integer epochs exact, fractional epochs converge") {
    import spark.implicits._
    val mixed = CurationOps.mixSources(docs,
      weights = Map("src0" -> 3.0, "src1" -> 0.5, "src2" -> 0.0),
      defaultWeight = 1.0)
    val bySrc = mixed.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    val n = docs.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    // integer weights replicate exactly; zero drops the source
    assert(bySrc("src0") == 3 * n("src0"))
    assert(!bySrc.contains("src2"))
    assert(n.keySet.filterNot(Set("src0", "src1", "src2"))
      .forall(s => bySrc(s) == n(s)))
    // fractional epoch keeps a hash-uniform subset: binomial(n, 0.5)
    // stays within 4 sigma of the mean
    val k = bySrc("src1").toDouble
    val m = n("src1").toDouble
    assert(math.abs(k - 0.5 * m) <= 4 * math.sqrt(m * 0.25),
      s"src1 kept $k of $m at weight 0.5")
    // deterministic: a rerun emits the identical replica set
    val again = CurationOps.mixSources(docs,
      weights = Map("src0" -> 3.0, "src1" -> 0.5, "src2" -> 0.0))
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    // growth-stable: on a half corpus every surviving doc keeps the
    // exact same epoch set
    val half = CurationOps.mixSources(docs.filter(col("doc_id") % 2 === 0),
      weights = Map("src0" -> 3.0, "src1" -> 0.5, "src2" -> 0.0))
    assert(half.exceptAll(mixed.filter(col("doc_id") % 2 === 0)).isEmpty)
  }

  test("contaminationSpans: hand-checked dilation and clean fraction") {
    import spark.implicits._
    val toks = (1 to 40).map(i => s"t$i")
    // corpus doc 1 embeds heldout doc 100's full 8-gram at pos 17..24
    val dirty8 = toks.slice(16, 24).mkString(" ")
    val corpus = Seq(
      (1L, toks.mkString(" ")),
      (2L, (1 to 10).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val heldout = Seq((100L, dirty8)).toDF("doc_id", "text")
    val out = CurationOps.contaminationSpans(corpus, heldout,
        n = 8, radius = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // match at p=17 dilates to [13, 28]: 16 covered positions of 40
    assert(out(1L) == ((40L, 16L, 0.6)))
    assert(out(2L) == ((10L, 0L, 1.0)))
    // clipping: a match at the very start cannot dilate below pos 1
    val atStart = Seq((3L, (toks.slice(16, 24) ++ Seq("x", "y"))
      .mkString(" "))).toDF("doc_id", "text")
    val clipped = CurationOps.contaminationSpans(atStart, heldout,
        n = 8, radius = 4).collect()
      .map(r => (r.getLong(1), r.getLong(2))).head
    assert(clipped == ((10L, 10L))) // [1, 8] dilated to [1, 10]
  }

  test("tokenizeWithVocab: ranks, unk counting, id checksum") {
    import spark.implicits._
    // counts: a=4, b=2, c=1, d=1 -> top-2 vocab is a(1), b(2)
    val df = Seq((1L, "a a a b b c"), (2L, "a d"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.tokenizeWithVocab(df, vocabSize = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((6L, 1L, 7L))) // 3·a + 2·b + unk; 3+4 = 7
    assert(out(2L) == ((2L, 1L, 1L)))
    assert(out(3L) == ((0L, 0L, 0L))) // empty doc kept with zeros
  }

  test("bpePairStats counts frequency-weighted adjacent char pairs") {
    import spark.implicits._
    val df = Seq((1L, "low low low lower lower newest newest"))
      .toDF("doc_id", "text")
    val rows = TextOps.bpePairStats(df, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // l-o: 3 lows + 2 lowers = 5; o-w likewise; then the tie at 4 (we)
    assert(rows.take(2).toSeq == Seq(("lo", 5L), ("ow", 5L)))
  }

  test("bpeTrain learns the textbook merge sequence") {
    import spark.implicits._
    val df = Seq((1L, "low low low lower lower newest newest"))
      .toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(df, numMerges = 4)
    // (l,o) and (o,w) tie at 5 — pair-asc tiebreak picks (l,o), and
    // after merging, (lo,w) inherits the full count
    assert(merges == Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("e", "s")))
    // more merges than pairs exist: training stops at exhaustion
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(tiny, numMerges = 10) == Seq(("a", "b")))
    // regex-special symbols survive both the pattern and the
    // replacement side of the merge pass
    val special = Seq((1L, "a$ a$ x\\y x\\y")).toDF("doc_id", "text")
    val sm = TextOps.bpeTrain(special, numMerges = 2)
    // ties at 2 resolve by pair asc: '\' (0x5c) < 'a' < 'x'
    assert(sm == Seq(("\\", "y"), ("a", "$")))
    val enc = TextOps.bpeEncode(special, sm).collect()
      .map(r => (r.getLong(1), r.getLong(2))).head
    assert(enc == ((4L, 6L))) // a$, a$, x + \y, x + \y
  }

  test("bpeTrain: driver fast path equals the distributed loop") {
    import spark.implicits._
    val df = Seq(
      (1L, "low low low lower lower newest newest widest"),
      (2L, "newest widest low wider wide wide"),
      (3L, "a$ x\\y a$ x\\y banana bandana")).toDF("doc_id", "text")
    // driverSideLimit=0 forces the distributed regexp_replace loop;
    // the default collects the word table and merges in-process —
    // sequences must be IDENTICAL merge for merge
    val distributed = TextOps.bpeTrain(df, numMerges = 12,
      driverSideLimit = 0L)
    val driver = TextOps.bpeTrain(df, numMerges = 12)
    assert(driver == distributed)
    // both stop at pair exhaustion the same way
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(tiny, numMerges = 10, driverSideLimit = 0L) ==
      TextOps.bpeTrain(tiny, numMerges = 10))
    // the fast path makes deep-merge runs cheap: corpus-scale check
    // rides ScaleProbe; here prove it trains deep (the 200-doc fixture
    // exhausts at 89 merges — stopping there, with no repeats, is the
    // exhaustion semantics shared with the distributed loop)
    val deep = TextOps.bpeTrain(docs.limit(200), numMerges = 256)
    assert(deep.size == 89, s"got ${deep.size}")
    assert(deep.distinct.size == deep.size) // no merge repeats
  }

  test("bpeEncode applies merges by rank; counts reconcile") {
    import spark.implicits._
    val corpus = Seq((1L, "low low low lower lower newest newest"))
      .toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(corpus, numMerges = 4)
    val df = Seq((1L, "low lower newest"), (2L, ""), (3L, "xyz"))
      .toDF("doc_id", "text")
    val out = TextOps.bpeEncode(df, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // low -> [low]; lower -> [low, er]; newest -> [n, e, w, es, t]
    assert(out(1L) == ((3L, 8L)))
    assert(out(2L) == ((0L, 0L)))
    assert(out(3L) == ((1L, 3L))) // no merge applies to unseen chars
    // corpus-level sanity: fertility between word count and char count
    val real = TextOps.bpeEncode(docs, merges)
    assert(real.filter(col("n_bpe_tokens") < col("n_words")).count() == 0)
  }

  test("domainQuota caps per primary domain, drops blocklist") {
    import spark.implicits._
    val df = Seq(
      (1L, "see http://a.com/x and http://b.com/y later"), // primary a.com
      (2L, "http://a.com/z again"),
      (3L, "http://a.com/w more"),
      (4L, "http://bad.com/x spam"),
      (5L, "no links at all")).toDF("doc_id", "text")
    val out = CurationOps.domainQuota(df, cap = 2,
      blocklist = Seq("bad.com")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // a.com keeps its 2 smallest-md5 ids of {1,2,3}: md5("1"),md5("2"),
    // md5("3") order is 1 < 3 < 2 (c4ca.., ecc.., c81e.. -> 1, 3, 2)
    val kept = out.filter(_._2 == "a.com").map(_._1)
    assert(kept.size == 2 && out.count(_._2 == "a.com") == 2)
    // blocklisted domain vanishes; the no-URL doc pools under ""
    assert(!out.exists(_._2 == "bad.com"))
    assert(out.exists(p => p._1 == 5L && p._2 == ""))
    // deterministic: md5-order of {1,2,3} — verify against JVM md5
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = Seq(1L, 2L, 3L).sortBy(id => (h(id.toString), id))
      .take(2).toSet
    assert(kept == expect, s"kept $kept expected $expect")
  }

  test("packTokenBlocks: exact blocks, docs spill across boundaries") {
    import spark.implicits._
    // group g: docs of 3, 4, 2 tokens; blockSize 4 → blocks
    // [a1 a2 a3 | b1], [b2 b3 b4 | c1], [c2]
    val df = Seq(
      (1L, "g", "a1 a2 a3"),
      (2L, "g", "b1 b2 b3 b4"),
      (3L, "g", "c1 c2"),
      (9L, "h", "x1 x2")).toDF("doc_id", "source", "text")
    val out = CurationOps.packTokenBlocks(df, blockSize = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(("g", 0L)) == ((4L, 2L, h("a1 a2 a3 b1"))))
    assert(out(("g", 1L)) == ((4L, 2L, h("b2 b3 b4 c1"))))
    assert(out(("g", 2L)) == ((1L, 1L, h("c2")))) // trailing partial
    assert(out(("h", 0L)) == ((2L, 1L, h("x1 x2"))))
    assert(out.size == 4)
    // corpus-level invariant: every block except each group's last is
    // exactly blockSize tokens, and token mass is conserved
    val blocks = CurationOps.packTokenBlocks(docs, blockSize = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lastPerGroup = blocks.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    blocks.foreach { case (g, b, n) =>
      if (b < lastPerGroup(g)) assert(n == 64L, s"($g,$b)=$n") }
    val totalTokens = docs.select(
      sum(size(split(trim(col("text")), " ")))).head().getLong(0)
    assert(blocks.map(_._3).sum == totalTokens)
  }

  test("contaminationSpans covers whole overlap region, not per-match") {
    import spark.implicits._
    // two overlapping dirty 8-grams: covered positions form one run,
    // counted once (distinct positions, not summed windows)
    val toks = (1 to 20).map(i => s"w$i")
    val corpus = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
    val heldout = Seq(
      (100L, toks.slice(0, 8).mkString(" ")),
      (101L, toks.slice(4, 12).mkString(" "))).toDF("doc_id", "text")
    val Array(r) = CurationOps.contaminationSpans(corpus, heldout,
      n = 8, radius = 0).collect()
    // positions 1..8 and 5..12 union to 1..12
    assert((r.getLong(1), r.getLong(2)) == ((20L, 12L)))
  }

  // ---------------- ExtractOps ----------------

  test("htmlExtract: boilerplate dropped by link density, entities restored") {
    import spark.implicits._
    val html =
      "<html><head><title>T</title><style>p{}</style>" +
        "<script>track()</script></head><body>" +
        "<nav><ul><li><a href=\"/a\">Home</a></li>" +
        "<li><a href=\"/b\">More</a></li></ul></nav>" +
        "<div>Real content with a &lt;tag&gt; &amp; ampersand plus " +
        "<a href=\"/x\">one link</a> inside a long enough sentence</div>" +
        "<footer><a href=\"/t\">Terms</a> <a href=\"/p\">Privacy</a> c" +
        "</footer></body></html>"
    val out = ExtractOps.htmlExtract(
      Seq((1L, html)).toDF("doc_id", "html")).collect().head
    assert(out.getString(1) == "Real content with a <tag> & ampersand " +
      "plus one link inside a long enough sentence")
    // head/script/style/nav/footer all gone
    assert(!out.getString(1).contains("Home") &&
      !out.getString(1).contains("Privacy") &&
      !out.getString(1).contains("track") && !out.getString(1).contains("T "))
    assert(out.getInt(2) == 1, "one content block kept")
    assert(out.getInt(3) >= 3, "nav links + footer dropped")
  }

  test("htmlExtract: majority-link block dropped, balanced block kept") {
    import spark.implicits._
    val df = Seq(
      // links are 2/3 of the visible chars -> boilerplate
      (1L, "<div><a href=\"/1\">aaaaaa</a> bb <a href=\"/2\">cccccc</a></div>"),
      // links are under half -> content
      (2L, "<div><a href=\"/1\">aaa</a> plenty of plain prose here</div>"))
      .toDF("doc_id", "html")
    val out = ExtractOps.htmlExtract(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "")
    assert(out(2L) == "aaa plenty of plain prose here")
  }

  test("htmlExtract(withHtmlPayload) round-trips the corpus text") {
    val want = docs.select(col("doc_id"),
      regexp_replace(trim(col("text")), "\\s+", " ").as("want"))
    val rt = ExtractOps.htmlExtract(ExtractOps.withHtmlPayload(docs))
      .join(want, "doc_id")
    assert(rt.filter(col("extracted") =!= col("want")).count() == 0)
    // every page must actually have dropped boilerplate blocks
    assert(rt.count() == docs.count())
  }

  test("collocations: PMI ranking on a hand-checked corpus") {
    import spark.implicits._
    // "new york" always adjacent (perfect association); "the dog" and
    // "the cat" dilute "the"'s association; singletons cut by minCount
    val df = Seq(
      "new york new york new york the dog the cat",
      "new york the dog the cat rare pair").toDF("text")
    val out = TextOps.collocations(df, minCount = 2, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    val ranked = out.map(_._1).toSeq
    // the always-adjacent pair's counts and score are exact:
    // N=18 tokens, M=16 bigrams → 4·18² / (16·4·4) = 5.0625
    val (pn, ln, rn, score) = out.toMap.apply(("new", "york"))
    assert(pn == 4 && ln == 4 && rn == 4)
    assert(score == 5.0625)
    // ("dog","the") ties that score exactly (2·18²/(16·2·4)) and
    // sorts first on the w1 tiebreak — rank order is deterministic
    assert(ranked.take(2) == Seq(("dog", "the"), ("new", "york")))
    // pairs under minCount never appear
    assert(!ranked.contains(("rare", "pair")))
    // "the dog" (2/17²-weighted) outranks nothing above it with equal
    // counts; all scores are monotonically non-increasing in rank order
    val scores = out.map(_._2._4).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("collocations: deterministic across repeated runs") {
    val a = TextOps.collocations(docs, minCount = 5, topK = 20).collect()
    val b = TextOps.collocations(docs, minCount = 5, topK = 20).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 20)
  }

  test("textRank: hand-computed int64 fixed-point ranks") {
    import spark.implicits._
    // graph: a-b (w 1), b-c (w 3: b->c twice + c->b once); wdeg
    // a=1, b=4, c=3; two iterations of rank·85·w div (100·wdeg)
    val df = Seq("a b c", "b c b").toDF("text")
    val out = TextOps.textRank(df, minCount = 1, iters = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // iter1: a = 1500 + (10000·85·1) div 400            = 3625
    //        b = 1500 + 8500 (from a) + 8500 (from c)   = 18500
    //        c = 1500 + (10000·85·3) div 400            = 7875
    // iter2: a = 1500 + (18500·85)   div 400            = 5431
    //        b = 1500 + 3081 (from a) + 6693 (from c)   = 11274
    //        c = 1500 + (18500·85·3) div 400            = 13293
    assert(out == Seq(("c", 13293L), ("b", 11274L), ("a", 5431L)))
  }

  test("textRank: hub word outranks leaves; vocab bound applies") {
    import spark.implicits._
    // star: hub adjacent to every leaf; rare word cut by minCount
    val df = Seq("hub x1", "hub x2", "hub x3", "hub x4", "rare")
      .toDF("text")
    val out = TextOps.textRank(df, minCount = 1, iters = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.head._1 == "hub")
    // an edgeless vocab word keeps the restart-only rank 15%·scale
    assert(out.toMap.apply("rare") == 1500L)
    val cut = TextOps.textRank(df, minCount = 2, iters = 2, topK = 10)
      .collect().map(r => r.getString(0))
    assert(cut.toSeq == Seq("hub")) // only 'hub' appears >= 2 times
  }

  test("lineFilters: each C4 rule fires on its own line shape") {
    import spark.implicits._
    val page = Seq(
      "This line has five good words.", // kept
      "Too short.",                     // < minWords
      "this line has no terminal punctuation at all", // no punct
      "Enable JAVASCRIPT to view this page.",  // phrase, case-folded
      "We use Lorem Ipsum filler text here.",  // phrase
      "Read the privacy policy before you proceed.", // phrase
      "var x = { a: 1 };",              // brace (and no punct)
      "",                               // empty
      "Is this a question with enough words?", // kept (?)
      "He said \"this quoted line also survives.\"" // kept (quote)
    ).mkString("\n")
    val out = CurationOps.lineFilters(
      Seq((1L, page)).toDF("doc_id", "page")).collect().head
    assert(out.getString(1) == Seq(
      "This line has five good words.",
      "Is this a question with enough words?",
      "He said \"this quoted line also survives.\"").mkString("\n"))
    assert(out.getLong(2) == 3 && out.getLong(3) == 7)
  }

  test("lineFilters: all-dropped page surfaces with empty clean_text") {
    import spark.implicits._
    val out = CurationOps.lineFilters(
      Seq((1L, "short.\nno punct here at all now")).toDF("doc_id", "page"))
      .collect().head
    assert(out.getString(1) == "" && out.getLong(2) == 0 &&
      out.getLong(3) == 2)
  }

  test("lineFilters(withNoisyLines) recovers the planted clean lines") {
    val out = CurationOps.lineFilters(CurationOps.withNoisyLines(docs))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    assert(out.filter(col("clean_text") =!=
      concat(col("text"), lit(".\nall tokens pass these line rules okay."))
    ).count() == 0)
    assert(out.filter(col("kept_lines") =!= 2 ||
      col("dropped_lines") =!= 6).count() == 0)
  }

  test("labelCentroids: exact micro-unit sums on a hand fixture") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(0.5f, -0.25f)), (1, Seq(1.0f, 0.75f)),
      (2, Seq(-1.0f, 0.125f))).toDF("label", "embedding")
    val out = SimilarityOps.labelCentroids(df).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // ⌊0.5e6⌋+⌊1.0e6⌋ = 1_500_000; ⌊-0.25e6⌋+⌊0.75e6⌋ = 500_000
    assert(out((1, 1)) == ((2L, 1500000L, 750000.0)))
    assert(out((1, 2)) == ((2L, 500000L, 250000.0)))
    // negative components floor DOWN (⌊-1e6⌋ = -1_000_000)
    assert(out((2, 1)) == ((1L, -1000000L, -1000000.0)))
    assert(out((2, 2)) == ((1L, 125000L, 125000.0)))
  }

  test("labelCentroids: cells cover labels × dims over the corpus") {
    val out = SimilarityOps.labelCentroids(embs)
    val labels = embs.select(col("label")).distinct().count()
    val dims = embs.select(size(col("embedding"))).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(dims.size == 1)
    assert(out.count() == labels * dims.head)
    // per-dim n sums to the corpus size
    assert(out.filter(col("dim") === 1)
      .agg(sum(col("n"))).collect().head.getLong(0) == embs.count())
  }

  test("radiusSearch: radius nesting and full-radius completeness") {
    val q = embs.filter(col("vec_id") < 5)
    val all = SimilarityOps.radiusSearch(q, embs, tau = -2.0)
    // τ = -2 admits everything: exactly (n-1) neighbors per query
    assert(all.count() == 5L * (embs.count() - 1))
    val tight = SimilarityOps.radiusSearch(q, embs, tau = 0.2)
    val loose = SimilarityOps.radiusSearch(q, embs, tau = 0.1)
    assert(tight.count() <= loose.count())
    assert(tight.exceptAll(loose).count() == 0) // nested radii
    // agrees with brute-force top-k where both report: the top-1
    // neighbor of each query with cosine >= 0.2 appears in the radius set
    val top = SimilarityOps.bruteForceTopK(q, embs, k = 1)
      .filter(col("cosine") >= 0.2).select("query_id", "neighbor_id")
    assert(top.exceptAll(tight.select("query_id", "neighbor_id"))
      .count() == 0)
  }

  test("editDistancePairs: hand-checked distances at d=1 and d=2") {
    import spark.implicits._
    val df = Seq(
      (1L, "kitten"), (2L, "sitten"),  // ed 1 (substitution)
      (3L, "sittin"),                  // ed 1 from sitten, 2 from kitten
      (4L, "kitten"),                  // exact dup of 1 (ed 0)
      (5L, "mitten"),                  // ed 1 from kitten/sitten
      (6L, "flour")                    // far from everything
    ).toDF("id", "str")
    def pairs(d: Int) = DedupOps.editDistancePairs(df, maxDist = d)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    val p1 = pairs(1)
    assert(p1 == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 4L) -> 0L,
      (2L, 4L) -> 1L, (1L, 5L) -> 1L, (4L, 5L) -> 1L, (2L, 5L) -> 1L))
    val p2 = pairs(2)
    assert(p2((1L, 3L)) == 2L && p2((3L, 5L)) == 2L)
    assert(!p2.keySet.exists(k => k._1 == 6L || k._2 == 6L))
  }

  test("editDistancePairs equals brute force on the typo corpus") {
    val typos = DedupOps.withTypoPayload(docs)
    val fast = DedupOps.editDistancePairs(typos, maxDist = 1)
    val a = typos.select(col("id").as("id_a"), col("str").as("__sa"))
    val b = typos.select(col("id").as("id_b"), col("str").as("__sb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist"))
    assert(fast.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(fast).count() == 0)
    // every planted twin is found
    assert(fast.count() >= docs.filter(col("doc_id") % 3 === 0).count())
  }

  test("editDistancePairs: length differences up to d are matched") {
    import spark.implicits._
    val df = Seq((1L, "abcdefgh"), (2L, "abcdefg"), (3L, "abcdef"),
      (4L, "xbcdefg")).toDF("id", "str")
    val p = DedupOps.editDistancePairs(df, maxDist = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    // deletions across unequal lengths
    assert(p((1L, 2L)) == 1L && p((1L, 3L)) == 2L && p((2L, 3L)) == 1L)
    // substitution + deletion combination
    assert(p((1L, 4L)) == 2L && p((2L, 4L)) == 1L && p((3L, 4L)) == 2L)
  }

  test("dedupNormalized folds case/punct/whitespace variants") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello, World!"), (2L, "hello world"),
      (3L, "HELLO   world..."), (4L, "hello worlds")).toDF("id", "text")
    val out = DedupOps.dedupNormalized(df, idCol = "id").collect()
      .map(r => (r.getString(1), (r.getLong(0), r.getLong(2)))).toMap
    assert(out == Map("hello world" -> ((1L, 3L)),
      "hello worlds" -> ((4L, 1L))))
  }

  test("dedupNormalized(withFormattingNoise): every twin collapses") {
    val noisy = DedupOps.withFormattingNoise(docs)
    val out = DedupOps.dedupNormalized(noisy, idCol = "id")
    // noisy ids (odd) never win: their original (smaller even id) is
    // in the same group
    assert(out.filter(col("id") % 2 === 1).count() == 0)
    // group count: distinct original texts (twins add no new keys)
    assert(out.count() ==
      docs.select(col("text")).distinct().count())
  }

  test("orcRoundTrip preserves every row and byte") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-orc").toString
    val back = graft.sources.TextTables.orcRoundTrip(docs, dir)
    assert(back.schema == docs.schema)
    assert(back.count() == docs.count())
    // anti-join both ways: ORC hop loses or mangles nothing
    assert(back.exceptAll(docs).count() == 0)
    assert(docs.exceptAll(back).count() == 0)
  }

  test("bloomFilteredJoin equals the plain join and actually prefilters") {
    import spark.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .cache()
    val hi = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_totalprice") > 350000.0)
      .select(col("o_orderkey")).cache()
    val got = JoinOps.bloomFilteredJoin(li, hi, "l_orderkey", "o_orderkey")
    val plain = li.join(hi, col("l_orderkey") === col("o_orderkey"))
    assert(got.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(got).count() == 0)
    // the observe metric proves the cut happened BEFORE the join:
    // survivors are far under the full scan (FP rate ~0 at 2^22 bits
    // over ~450 keys), and at least the true matches
    val survivors = CapMetrics.await("bloomFilteredJoin")(_.nonEmpty)
      .apply("prefilter_survivors").asInstanceOf[Long]
    val matches = plain.count()
    assert(survivors >= matches && survivors < li.count(),
      s"survivors=$survivors matches=$matches")
    assert(survivors <= matches + 50, "bloom stopped being selective")
    // empty small side: all-zero bloom drops everything, like the join
    val none = JoinOps.bloomFilteredJoin(li, hi.limit(0),
      "l_orderkey", "o_orderkey")
    assert(none.count() == 0)
  }

  test("hashedFeatures: counts cross-foot to token totals, replica") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.hashedFeatures(docs, dim = 16).cache()
    assert(out.count() == docs.count())
    assert(out.columns.toSeq ==
      "doc_id" +: (0 until 16).map(j => s"f$j"))
    // per-doc feature sum == that doc's token count
    val sumCols = (0 until 16).map(j => col(s"f$j")).reduce(_ + _)
    val bad = out.withColumn("__sum", sumCols)
      .join(docs.select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("__n")),
        "doc_id")
      .filter(col("__sum") =!= col("__n"))
    assert(bad.count() == 0)
    // driver replica: a hand doc's full vector matches md5 buckets
    import spark.implicits._
    def bucketOf(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"feat:$tok".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md, 16) % 16).toInt
    }
    val hand = Seq((1L, "alpha beta alpha gamma")).toDF("doc_id", "text")
    val got = TextOps.hashedFeatures(hand, dim = 16).collect().head
    val want = Array.fill(16)(0L)
    Seq("alpha", "beta", "alpha", "gamma")
      .foreach(t => want(bucketOf(t)) += 1)
    assert((0 until 16).forall(j => got.getLong(j + 1) == want(j)),
      got.toSeq.drop(1).mkString(",") + " vs " + want.mkString(","))
  }

  test("fimSplit: lossless reassembly, non-empty prefix/middle, PSM") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.fimSplit(docs).cache()
    assert(out.count() == docs.count())
    // prefix+middle+suffix re-concatenates to the tokenized original
    val bad = out.join(docs, "doc_id")
      .withColumn("__orig", array_join(split(trim(col("text")), " "), " "))
      .withColumn("__re", concat_ws(" ",
        Seq(col("prefix"), col("middle"), col("suffix"))
          .map(c => when(c === "", null).otherwise(c)): _*))
      .filter(col("__re") =!= col("__orig"))
    assert(bad.count() == 0)
    // splittable docs: prefix and middle non-empty; all three pieces
    // shorter than the doc (a real split happened)
    val split3 = out.filter(col("n_tokens") >= 3)
    assert(split3.filter(col("prefix") === "" || col("middle") === "")
      .count() == 0)
    // psm layout is exactly the three pieces re-tagged
    assert(out.filter(col("psm") =!= concat(lit("<PRE>"), col("prefix"),
      lit("<SUF>"), col("suffix"), lit("<MID>"), col("middle")))
      .count() == 0)
    // deterministic: two runs agree bit for bit
    assert(TextOps.fimSplit(docs).exceptAll(out).count() == 0)
  }

  test("multiKeyResolve: signals chain transitively, star topology") {
    import spark.implicits._
    // 1~2 by normalized text, 3~4 by text, 2~3 by url -> {1,2,3,4};
    // 5 shares nothing; 6 has empty/null keys and must NOT link
    val d = Seq(
      (1L, "a b", "u1"), (2L, "A  b!", "u2"), (3L, "c d", "u2"),
      (4L, "c d", "u3"), (5L, "e f", "u4"), (6L, "", null)
    ).toDF("doc_id", "text", "url")
    val out = DedupOps.multiKeyResolve(d, Seq(
      "k1" -> DedupOps.normalizeText(col("text")), "k2" -> col("url")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L))
  }

  test("dedupBestOf keeps each cluster's longest doc, ties to min id") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").cache()
    val clusters = DedupOps.nearDupClusters(docs, tau = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = docs.select(col("doc_id"), col("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = clusters.groupBy(_._2).values.map(ms =>
      ms.keys.toSeq.sortBy(id => (-quality(id), id)).head).toSet
    val got = DedupOps.dedupBestOf(docs, quality = col("n_chars"),
      tau = 0.8).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // same cluster count as the min-id face, different survivors
    assert(got.size ==
      DedupOps.dedupNearDups(docs, tau = 0.8).count())
  }

  test("quantileBuckets: monotone, tie-safe, quantile-sized, sortless") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = CurationOps.quantileBuckets(docs).cache()
    val n = docs.count()
    assert(out.count() == n)
    val rows = out.collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(rows.forall { case (_, b) => b >= 0 && b <= 9 })
    assert(rows.map(_._2).distinct.length == 10)
    // ties share a bucket; buckets are strictly ordered by value
    val byBucket = rows.groupBy(_._2).view
      .mapValues(vs => (vs.map(_._1).min, vs.map(_._1).max)).toMap
    for (b <- 0 until 9 if byBucket.contains(b) && byBucket.contains(b + 1))
      assert(byBucket(b)._2 < byBucket(b + 1)._1, s"buckets $b/${b + 1}")
    // exact-quantile sizing: buckets < i hold >= i/10 of the corpus
    val cumByBucket = (0 until 10)
      .map(b => rows.count(_._2 <= b)).toVector
    for (i <- 1 to 9)
      assert(cumByBucket(i - 1) * 10L >= i * n,
        s"cut $i: ${cumByBucket(i - 1)} of $n")
    // ntile-free plan: cutpoints broadcast into a theta join, the doc
    // side never range-shuffles
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("bloom broadcast-handle probe == bytes-column probe, bit for bit") {
    import spark.implicits._
    val VE = graft.functions.VectorExpressions
    VE.register(spark)
    val numBits = 1 << 12
    val keys = spark.range(0, 200).select(xxhash64(col("id")).as("__h"))
    val bloom = CurationOps.bloomFromHashes(keys, numBits, 5)
    val bc = spark.sparkContext.broadcast(bloom)
    val probes = spark.range(0, 4000)
      .select(col("id"), xxhash64(col("id")).as("__h"))
    val viaBc = probes
      .filter(VE.bloomContainsBc(col("__h"), bc, numBits, 5))
      .select(col("id")).as[Long].collect().toSet
    val bloomDf = Seq(Tuple1(bloom)).toDF("__bloom")
    val viaCol = probes.crossJoin(broadcast(bloomDf))
      .filter(VE.bloomContains(col("__bloom"), col("__h"), numBits, 5))
      .select(col("id")).as[Long].collect().toSet
    assert(viaBc == viaCol)
    // no false negatives: every built key survives both probe forms
    assert((0L until 200L).toSet.subsetOf(viaBc))
  }

  test("zValue equals a driver-side bit-by-bit Morton replica; clamps") {
    import spark.implicits._
    def morton(x: Long, y: Long): Long = {
      val cx = math.min(math.max(x, 0L), 65535L)
      val cy = math.min(math.max(y, 0L), 65535L)
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | ((cx >> i & 1L) << (2 * i)) | ((cy >> i & 1L) << (2 * i + 1))
      }
    }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (70000L, -5L), (255L, 256L))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.sources.Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == morton(x, y), s"morton($x,$y)")
    }
  }

  test("zone-map pruned scan == full scan + filter, and skips files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-zorder").toString
    graft.sources.Layout.zorderWrite(docs, dir,
      xCol = length(col("text")), yCol = col("doc_id") % 65536, nFiles = 8)
    val stats = graft.sources.Layout.fileStats(spark, dir)
      .localCheckpoint()
    val nFiles = stats.count()
    assert(nFiles > 1, "fixture must produce multiple files")
    val b = stats.agg(min(col("zmin")), max(col("zmax"))).collect().head
    val (zmin, zmax) = (b.getLong(0), b.getLong(1))
    val hi = zmin + (zmax - zmin) / 8
    // admissible AND tight: same rows as the full scan, fewer files
    val pruned = graft.sources.Layout.prunedRead(spark, dir, stats,
      zmin, hi)
    val full = spark.read.parquet(dir)
      .filter(col("zval") >= zmin && col("zval") <= hi)
    assert(pruned.exceptAll(full).count() == 0)
    assert(full.exceptAll(pruned).count() == 0)
    val touched = graft.sources.Layout.pruneFiles(stats, zmin, hi).size
    assert(touched < nFiles,
      s"an eighth of a range-partitioned z curve must skip files " +
        s"($touched of $nFiles touched)")
    // empty band degenerates cleanly
    assert(graft.sources.Layout
      .prunedRead(spark, dir, stats, zmax + 1, zmax + 2).count() == 0)
  }

  test("compactShards is row-identical and actually shrinks file count") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    docs.repartition(24).write.mode("overwrite").parquet(s"$base/in")
    def parts(d: String): Seq[String] = new java.io.File(d).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSeq
    val nIn = parts(s"$base/in").size
    assert(nIn > 4)
    val back = graft.sources.Layout.compactShards(spark, s"$base/in",
      s"$base/out", targetBytes = 512L * 1024, maxBins = 4)
    assert(back.exceptAll(docs).count() == 0)
    assert(docs.exceptAll(back).count() == 0)
    val nOut = parts(s"$base/out").size
    assert(nOut <= 4 && nOut < nIn, s"$nIn -> $nOut files")
  }

  test("exactBinKeys: distinct tasks, agrees with Spark's own hash()") {
    import spark.implicits._
    for (n <- Seq(1, 2, 3, 4, 7, 16, 64)) {
      val keys = graft.sources.Layout.exactBinKeys(n)
      assert(keys.distinct.length == n)
      // cross-check against the engine: pmod(hash(key), n) — hash() IS
      // Murmur3 seed 42, the function HashPartitioning evaluates — must
      // send key(b) to partition b, or one-file-per-bin breaks silently
      val got = keys.toSeq.zipWithIndex.toDF("k", "b")
        .select(col("b"), pmod(hash(col("k")), lit(n)).as("p"))
        .filter(col("b") =!= col("p")).count()
      assert(got == 0, s"salt table disagrees with hash() at n=$n")
    }
  }

  test("schemaEvolutionRoundTrip: union schema, null back-fill, no loss") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sev").toString
    val back = graft.sources.Layout.schemaEvolutionRoundTrip(
      docs, base, col("doc_id") % 2 === 0, Seq("lang", "n_chars"))
    // every row survives; the merged schema carries the added columns
    assert(back.count() == docs.count())
    assert(back.columns.toSet == docs.columns.toSet)
    // gen-1 (even ids) rows surface dropped columns as nulls; gen-2
    // rows keep their values byte-for-byte
    assert(back.filter(col("doc_id") % 2 === 0 &&
      (col("lang").isNotNull || col("n_chars").isNotNull)).count() == 0)
    val odd = back.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val oddSrc = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text", "lang", "source", "n_chars")
    assert(odd.exceptAll(oddSrc).count() == 0)
    assert(oddSrc.exceptAll(odd).count() == 0)
  }

  test("mergeUpsert: latest version wins; tombstones; inserts; null updates") {
    import spark.implicits._
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "txt", "score")
    val changes = Seq(
      (1L, "a-v1", 11, 1L, false), // superseded
      (1L, "a-v2", 12, 2L, false), // latest wins
      (2L, "b-v1", 21, 1L, false),
      (2L, "gone", 0, 2L, true),   // tombstone wins over the update
      (4L, "d", 40, 1L, false),    // pure insert
      (5L, "x", 0, 1L, true))      // delete of an absent key: no-op
      .toDF("id", "txt", "score", "version", "deleted")
    val out = graft.sources.Layout.mergeUpsert(base, changes, Seq("id"))
    assert(out.columns.toSeq == Seq("id", "txt", "score"))
    val got = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((1L, "a-v2", 12), (3L, "c", 30), (4L, "d", 40)))
    // change rows are full row images: a null in the winner is WRITTEN
    val nulled = graft.sources.Layout.mergeUpsert(base,
      Seq((3L, Option.empty[String], 31, 1L, false))
        .toDF("id", "txt", "score", "version", "deleted"),
      Seq("id")).filter(col("id") === 3L).collect().head
    assert(nulled.isNullAt(1) && nulled.getInt(2) == 31)
    // latest-per-key is an aggregate, never a per-key window sort
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("StateStore.readAsOf: committed prefix; uncommitted invisible") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-tt").toString + "/state"
    def part(r: Int) = Seq((r.toLong, s"row$r")).toDF("id", "s")
    (0 to 2).foreach { r =>
      val inc = StateStore.nextDir(spark, root)
      part(r).write.mode("overwrite").parquet(s"$inc/t")
      StateStore.commit(spark, inc)
    }
    // crashed 4th ingest: table written, COMMIT never lands
    part(9).write.mode("overwrite")
      .parquet(s"${StateStore.nextDir(spark, root)}/t")
    def ids(k: Int) = StateStore.readAsOf(spark, root, "t", k)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(1) == Set(0L))
    assert(ids(2) == Set(0L, 1L))
    assert(ids(Int.MaxValue) == Set(0L, 1L, 2L))
    // the retry overwrites the SAME index; once committed it appears
    val inc = StateStore.nextDir(spark, root)
    assert(inc.endsWith("/inc_3"))
    part(3).write.mode("overwrite").parquet(s"$inc/t")
    StateStore.commit(spark, inc)
    assert(ids(Int.MaxValue) == Set(0L, 1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      StateStore.readAsOf(spark, root, "missing", 2)
    }
    StateStore.delete(root)
  }

  test("ivfPqRerank: all-cells + full shortlist = brute force; recall") {
    val queries = embs.filter(col("vec_id") < 20).cache()
    val k = 10
    val cents = SimilarityOps.fitIvfCentroids(embs, k = 8, iters = 2)
    val books = SimilarityOps.fitIvfPq(embs, cents, m = 8, k = 16,
      iters = 2)
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityOps.bruteForceTopK(queries, embs, k = k))
    // probing EVERY cell with a corpus-wide shortlist removes both
    // approximations — the result must be exactly brute force
    val n = embs.count().toInt
    val full = SimilarityOps.ivfPqRerank(queries, embs, cents, books,
      nprobe = 8, k = k, shortlist = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = SimilarityOps.bruteForceTopK(queries, embs, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == brute)
    // the production setting still clears a recall floor
    val prod = pairs(SimilarityOps.ivfPqRerank(queries, embs, cents,
      books, nprobe = 4, k = k, shortlist = 100))
    val recall = (exact & prod).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF-PQ recall too low: $recall")
    // deterministic: seedless fit + deterministic search
    val again = pairs(SimilarityOps.ivfPqRerank(queries, embs, cents,
      books, nprobe = 4, k = k, shortlist = 100))
    assert(again == prod)
  }

  test("pcaRerank: orthonormal rotation; full dims = brute force; recall") {
    val queries = embs.filter(col("vec_id") < 20).cache()
    val k = 10
    val rot = SimilarityOps.fitPcaRotation(embs)
    // the rotation is orthonormal: R·Rᵀ = I (so dots/norms survive)
    for (i <- rot.indices; j <- rot.indices) {
      val d = rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"R·Rt[$i][$j] = $d")
    }
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full-width + corpus-wide shortlist removes both approximations
    val n = embs.count().toInt
    val full = SimilarityOps.pcaRerank(queries, embs, rot, dims = 64,
      k = k, shortlist = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val brute = SimilarityOps.bruteForceTopK(queries, embs, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == brute)
    // the production truncation still clears a recall floor
    val exact = pairs(SimilarityOps.bruteForceTopK(queries, embs, k = k))
    val prod = pairs(SimilarityOps.pcaRerank(queries, embs, rot,
      dims = 16, k = k, shortlist = 100))
    val recall = (exact & prod).size.toDouble / exact.size
    assert(recall >= 0.3, s"PCA recall too low: $recall")
    // deterministic: seedless fit + deterministic search
    assert(pairs(SimilarityOps.pcaRerank(queries, embs, rot, dims = 16,
      k = k, shortlist = 100)) == prod)
  }

  test("weightedSample equals driver-side A-ES max-ticket selection") {
    import spark.implicits._
    val rows = (1L to 40L).map(id => (id, id % 5)).toDF("doc_id", "wt")
    val out = CurationOps.weightedSample(rows, n = 10, weight = col("wt"),
      maxWeight = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = (1L to 40L).map { id =>
      val w = math.min(math.max(id % 5, 1L), 3L)
      val ticket = (1L to w).map(i => md5hex(s"wsample:$id:$i")).max
      (id, w, ticket)
    }.sortBy(t => (t._3, t._1))(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long))
      .take(10)
    assert(out.toSeq == expected)
    // deterministic across invocations
    val again = CurationOps.weightedSample(rows, n = 10, weight = col("wt"),
      maxWeight = 3).collect().map(r => r.getLong(0)).toSeq
    assert(again == expected.map(_._1))
  }

  test("weightedSample: weight raises selection pressure (A-ES shape)") {
    import spark.implicits._
    // identical ids hashed with w=8 tickets vs w=1: the max of 8
    // uniforms stochastically dominates — with 200 docs the heavy
    // half must win well over half of a 40-slot sample
    val rows = (1L to 200L).toDF("doc_id")
      .withColumn("wt", when(col("doc_id") <= 100, 8L).otherwise(1L))
    val picked = CurationOps.weightedSample(rows, n = 40,
      weight = col("wt"), maxWeight = 8)
      .collect().map(_.getLong(0))
    assert(picked.count(_ <= 100) > 26, s"heavy side: ${picked.count(_ <= 100)}")
  }

  test("invertedIndex: hand-checked postings head") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "a c"), (3L, "b b")).toDF("doc_id", "text")
    val out = TextOps.invertedIndex(df, maxPostings = 5)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out == Map(
      "a" -> ((2L, 3L, "1:2,2:1")),
      "b" -> ((2L, 3L, "1:1,3:2")),
      "c" -> ((1L, 1L, "2:1"))))
    // posting head truncates at maxPostings, smallest doc ids kept
    val head1 = TextOps.invertedIndex(df, maxPostings = 1)
      .collect().map(r => (r.getString(0), r.getString(3))).toMap
    assert(head1("a") == "1:2" && head1("b") == "1:1")
  }

  test("corpusDiff: all four statuses on a hand fixture") {
    import spark.implicits._
    val before = Seq((1L, "same"), (2L, "old"), (3L, "gone"))
      .toDF("doc_id", "text")
    val after = Seq((1L, "same"), (2L, "new"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val out = CurationOps.corpusDiff(before, after)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("prototypeOutliers: hand-checked integer boundary, monotone in tau") {
    import spark.implicits._
    // label 0 micro-quantized: (1e6,0), (8e5,6e5), (-1e6,0)
    // floor-mean centroid m = (266666, 200000);
    // cos(v1,m)=0.8, cos(v2,m)≈1.0, v3 has dot<0 → only v3 at τ=0.1
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.8f, 0.6f), 0),
      (3L, Seq(-1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val flagged = SimilarityOps.prototypeOutliers(df, tauPm = 100)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(3L))
    // τ=900 (cos<0.9) additionally catches v1 (cos 0.8), not v2
    val flagged2 = SimilarityOps.prototypeOutliers(df, tauPm = 900)
      .collect().map(_.getLong(0)).toSet
    assert(flagged2 == Set(1L, 3L))
    // flagged sets are monotone in tau on the real corpus
    val a = SimilarityOps.prototypeOutliers(embs, tauPm = 50)
      .collect().map(_.getLong(0)).toSet
    val b = SimilarityOps.prototypeOutliers(embs, tauPm = 200)
      .collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(b))
  }

  test("knnClusters equal a driver union-find over mutual tau-edges") {
    val sub = embs.filter(col("vec_id") < 60)
    val out = SimilarityOps.knnClusters(sub, k = 3, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val vecs = sub.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      while (i < a.length) {
        ab += a(i).toDouble * b(i); aa += a(i).toDouble * a(i)
        bb += b(i).toDouble * b(i); i += 1
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val topk = vecs.keys.map { s =>
      s -> vecs.keys.filter(_ != s).toSeq
        .map(d => (d, cos(vecs(s), vecs(d))))
        .sortBy { case (d, c) => (-c, d) }.take(3)
    }.toMap
    val mutual = topk.toSeq.flatMap { case (s, ns) =>
      ns.collect { case (d, c)
        if c >= 0.3 && topk(d).exists(_._1 == s) && s < d => (s, d) }
    }
    val parent = scala.collection.mutable.Map(vecs.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    mutual.foreach { case (a2, b2) =>
      val (ra, rb) = (find(a2), find(b2))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = vecs.keys.map(k => k -> find(k)).toMap
    assert(out == expected)
  }

  test("knnGraph exact face matches naive top-k with mutual flags") {
    val sub = embs.filter(col("vec_id") < 40)
    val out = SimilarityOps.knnGraph(sub, k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(4)))).toMap
    // naive driver recomputation
    val vecs = sub.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      while (i < a.length) {
        ab += a(i).toDouble * b(i); aa += a(i).toDouble * a(i)
        bb += b(i).toDouble * b(i); i += 1
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val topk = vecs.keys.map { s =>
      s -> vecs.keys.filter(_ != s).toSeq
        .map(d => (d, cos(vecs(s), vecs(d))))
        .sortBy { case (d, c) => (-c, d) }.take(3)
        .zipWithIndex.map { case ((d, _), i) => (d, i + 1) }
    }.toMap
    val expected = topk.flatMap { case (s, ns) =>
      ns.map { case (d, rank) =>
        ((s, d), (rank, if (topk(d).exists(_._1 == s)) 1 else 0))
      }
    }
    assert(out == expected)
  }

  test("negativeSamples: k per anchor, never self, in range, stable") {
    val sub = embs.filter(col("vec_id") < 100).cache()
    val out = SimilarityOps.negativeSamples(sub, k = 4).cache()
    assert(out.count() == 400)
    assert(out.filter(col("neg_id") === col("vec_id")).count() == 0)
    assert(out.filter(col("neg_id") < 0 || col("neg_id") >= 100)
      .count() == 0)
    assert(out.groupBy(col("vec_id")).count()
      .filter(col("count") =!= 4).count() == 0)
    // deterministic across runs
    assert(SimilarityOps.negativeSamples(sub, k = 4)
      .exceptAll(out).count() == 0)
    // driver replica of one draw
    val r = out.filter(col("vec_id") === 7 && col("j") === 2)
      .collect().head.getLong(2)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("neg:7:2".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val c = java.lang.Long.parseLong(md, 16) % 100
    assert(r == (if (c == 7) (c + 1) % 100 else c))
  }

  test("mutualBestMatch exact face equals a driver argmax-both-ways") {
    val l = embs.filter(col("vec_id") < 80 && col("vec_id") % 2 === 0)
    val r = embs.filter(col("vec_id") < 80 && col("vec_id") % 2 === 1)
    val got = SimilarityOps.mutualBestMatch(l, r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val lv = l.collect().map(x => (x.getLong(0),
      x.getSeq[Float](1).toArray)).toMap
    val rv = r.collect().map(x => (x.getLong(0),
      x.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      while (i < a.length) {
        ab += a(i).toDouble * b(i); aa += a(i).toDouble * a(i)
        bb += b(i).toDouble * b(i); i += 1
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    val bestL = lv.map { case (s, v) => s ->
      rv.toSeq.map { case (d, w) => (d, cos(v, w)) }
        .minBy { case (d, c) => (-c, d) }._1 }
    val bestR = rv.map { case (d, w) => d ->
      lv.toSeq.map { case (s, v) => (s, cos(w, v)) }
        .minBy { case (s, c) => (-c, s) }._1 }
    val expected = bestL.collect {
      case (s, d) if bestR(d) == s => (s, d) }.toSet
    assert(got == expected && got.nonEmpty)
    // LSH face: mutual-best WITHIN the collision candidates — measure
    // recall of the true mutual pairs at this bucket width
    val lsh = SimilarityOps.mutualBestMatch(l, r, nBits = 2, nTables = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val hit = (lsh intersect expected).size
    assert(hit * 10 >= expected.size * 5,
      s"lsh recall $hit/${expected.size}")
  }

  test("knnGraph LSH face: exact cosines, bounded depth per source") {
    val sub = embs.filter(col("vec_id") < 60)
    val approx = SimilarityOps.knnGraph(sub, k = 3, nBits = 2, nTables = 4)
      .collect()
    val vecs = sub.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      var i = 0
      while (i < a.length) {
        ab += a(i).toDouble * b(i); aa += a(i).toDouble * a(i)
        bb += b(i).toDouble * b(i); i += 1
      }
      ab / (math.sqrt(aa) * math.sqrt(bb))
    }
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (s, d, rank, c) = (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))
      assert(rank >= 1 && rank <= 3)
      // reported cosine is the true cosine (rounded 4), never a proxy
      assert(math.abs(c - cos(vecs(s), vecs(d))) < 5e-4, s"($s,$d)")
    }
    assert(approx.groupBy(_.getLong(0)).values.forall(_.length <= 3))
  }
}
