package graft

import org.apache.spark.sql.functions._

/**
 * End-to-end training-data curation pipeline over the `documents`
 * table — the composition story for the corpus operators: every stage
 * is one of the library's DataFrame transforms, chained lazily so
 * Catalyst plans the whole flow (filters reach the scan, one shuffle
 * per genuine re-key) and nothing round-trips through the driver until
 * the final per-stage counts.
 *
 *   crawl ingest (HTML pages + URLs → canonicalize → URL dedup →
 *   boilerplate-removing extraction) → scrub PII → quality gates →
 *   exact dedup → MinHash near-dedup → paragraph dedup → bloom
 *   decontamination → token-span contamination cut →
 *   language/quality/compressibility/bigram-fit annotate → weighted
 *   source mixing → BPE fertility → sequence packing → shard-shuffle
 *   export assignment
 *
 * Run: `sbt "runMain graft.Pipeline /root/testdata/sf0.01 512"`
 * Prints one JSON line of per-stage survivor counts (the shape a
 * production run would log to a metrics sink).
 */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val budget = args.lift(1).map(_.toInt).getOrElse(512)
    val spark = LocalSession("graft-pipeline", 32, "WARN")

    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val total = raw.count()

    // 0. crawl ingest: each document arrives as a full HTML page with
    // a URL (synthesized here — the crawl-side shapes); canonicalize
    // URLs, dedup by canonical URL (smallest id per page survives),
    // then rule-based boilerplate-removing extraction recovers the
    // text every later stage sees
    val fetched = operators.ExtractOps.withHtmlPayload(raw)
      .withColumn("url", concat(lit("HTTP://WWW.Site"),
        col("doc_id") % 50, lit(".com/p"), col("doc_id"),
        lit("?utm_source=crawl#f")))
    val canon = operators.CurationOps.canonicalizeUrls(fetched)
    val urlKept = operators.DedupOps.exact(canon,
      idCol = "doc_id", textCol = "canonical_url").select(col("doc_id"))
    // lazy checkpoint: the extracted corpus backs BOTH sides of the
    // scrub self-join and every downstream stage count — without it
    // the HTML synthesis + extraction regex chain + URL-dedup shuffle
    // recompute per consumer (self-joined-intermediates invariant)
    val docs = operators.ExtractOps.htmlExtract(canon.join(urlKept, "doc_id"))
      .select(col("doc_id"), col("extracted").as("text"))
      .join(raw.drop("text"), "doc_id")
      .localCheckpoint(false)
    val nFetched = docs.count()

    // 1. redact emails/phones (scrubPii emits clean_text; swap it in
    // for text so downstream stages see the scrubbed corpus)
    val scrubbed = docs.drop("text").join(
      operators.CurationOps.scrubPii(docs)
        .select(col("doc_id"), col("clean_text").as("text")), "doc_id")

    // 2. Gopher-style quality gates -> keep survivors only
    val keepIds = operators.CurationOps.qualityFilters(scrubbed)
      .filter(col("keep")).select(col("doc_id"))
    val quality = scrubbed.join(keepIds, "doc_id")
    val nQuality = quality.count()

    // 3. exact dedup: smallest id per distinct text survives
    val exactKept = operators.DedupOps.exact(quality)
      .select(col("doc_id"))
    val exact = quality.join(exactKept, "doc_id")
    val nExact = exact.count()

    // 4. near-dedup: drop the larger id of every MinHash pair
    val nearPairs = operators.DedupOps.minhashLsh(exact, tau = 0.8)
    val losers = nearPairs.select(col("id_b").as("doc_id")).distinct()
    val deduped = exact.join(losers, Seq("doc_id"), "left_anti")
    val nDeduped = deduped.count()

    // 5. paragraph-level dedup: repeated 16-token blocks across the
    // surviving corpus keep their first occurrence only; the pruned
    // text replaces the original (empty docs drop out)
    val paraDeduped = deduped.drop("text").join(
      operators.DedupOps.dedupTokenBlocks(deduped, blockSize = 16)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text")), "doc_id")
    val nPara = paraDeduped.count()

    // 6. bloom decontamination against a held-out cut (cheap broadcast
    // pre-pass; a production run would exact-join the tiny flagged set)
    val heldout = docs.filter(col("doc_id") % 97 === 0)
    val contaminated = operators.CurationOps
      .bloomDecontaminate(paraDeduped, heldout)
      .filter(col("flagged_ngrams") > 0).select(col("doc_id"))
    // lazy checkpoint: `clean` is self-joined three ways below and then
    // materialized by three separate actions — without it the whole
    // dedup+bloom lineage recomputes once per join side per action
    // (CLAUDE.md self-joined-intermediates invariant)
    val clean = paraDeduped.join(contaminated, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val nClean = clean.count()

    // 7. annotate language + quality + tokens + compressibility +
    // bigram corpus-fit (narrow maps + two bounded aggregations)
    val annotated = clean
      .withColumn("lang_pred", operators.TextOps.langId(col("text")))
      .withColumn("quality", operators.TextOps.qualityScore(col("text")))
      .withColumn("tokens", operators.TextOps.tokenCount(col("text")))
      .join(operators.TextOps.compressionRatio(clean)
        .select(col("doc_id"), col("compression_ratio")), "doc_id")
      .join(operators.TextOps.bigramFit(clean)
        .select(col("doc_id"), col("fit_mean")), "doc_id")
      .localCheckpoint(false) // consumed by three downstream actions

    // 8. token-span contamination cut: drop documents that are less
    // than 80% clean after dilating held-out 8-gram matches (the
    // span-level refinement of the bloom pre-pass above)
    val cleanEnough = operators.CurationOps
      .contaminationSpans(annotated, heldout)
      .filter(col("clean_frac") >= 0.8).select(col("doc_id"))
    val spanned = annotated.join(cleanEnough, "doc_id")
      .localCheckpoint(false) // consumed by mixing + packing + stats
    val nSpanClean = spanned.count()

    // 9. weighted source mixing into training epochs (upsample the
    // two best-fitting sources, keep the rest at one epoch)
    val mixed = operators.CurationOps.mixSources(spanned,
      weights = Map("src0" -> 2.0, "src1" -> 1.5))
    val nMixed = mixed.count()

    // 10. BPE fertility over the final corpus (merges trained on it)
    val merges = operators.TextOps.bpeTrain(spanned, numMerges = 16)
    val bpeTokens = operators.TextOps.bpeEncode(spanned, merges)
      .agg(sum(col("n_bpe_tokens"))).head().getLong(0)

    // 11. pack into fixed-token-budget bins per source
    val packed = operators.CurationOps.packSequences(spanned, budget)
    val nBins = packed.agg(countDistinct(col("source"), col("bin_id")))
      .head().getLong(0)

    // 12. shard-shuffle export assignment (what .write.partitionBy
    // would consume)
    val sharded = operators.CurationOps.shardShuffle(spanned, nShards = 8)
    val nShardsOut = sharded.select(col("shard")).distinct().count()

    // 12b. leakage-safe split assignment hashed on the SOURCE group —
    // near-duplicates and same-site pages never straddle train/test
    val nValTest = operators.CurationOps.groupSplits(spanned)
      .filter(col("split") =!= "train").count()

    // 13. final corpus stats
    val stats = spanned.agg(
      sum(col("tokens")).as("tokens"),
      round(avg(col("quality")), 4).as("avg_quality"),
      round(avg(col("compression_ratio")), 4).as("avg_ratio")).head()

    println(s"""{"metric":"pipeline","input":$total,"fetched":$nFetched,"quality":$nQuality,""" +
      s""""exact":$nExact,"near_dedup":$nDeduped,"para_dedup":$nPara,""" +
      s""""decontaminated":$nClean,"span_clean":$nSpanClean,""" +
      s""""mixed_epochs":$nMixed,"bpe_tokens":$bpeTokens,""" +
      s""""bins":$nBins,"shards":$nShardsOut,"heldout_docs":$nValTest,""" +
      s""""tokens":${stats.getLong(0)},"avg_quality":${stats.getDouble(1)},""" +
      s""""avg_ratio":${stats.getDouble(2)},""" +
      s""""budget":$budget,"sf":"$sfDir"}""")
    spark.stop()
  }
}
