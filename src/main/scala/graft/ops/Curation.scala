package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composition a lauchy-successor
  * user actually runs over a raw document corpus —
  *
  *   exact dedup → near-dup removal (n-gram Jaccard) → language filter
  *   → deterministic train/val split + token accounting.
  *
  * Every stage is one of this engine's individually-oracled operators,
  * so the WHOLE pipeline is re-derivable in SQL and the driver's DuckDB
  * oracle checks the composition end-to-end (`curation_pipeline`), not
  * just the parts.
  *
  * Scale shape: the near-dup stage is the only super-linear component
  * (inverted-index candidate join, maxDf-pruned); every other stage is
  * a hash aggregate or a doc_id-keyed semi/anti join — no stage ever
  * shuffles document text except the pair-generation explode, which
  * carries (doc_id, shingle) only.
  */
object Curation {

  /** Returns the curated corpus as (doc_id, split, ws_tokens,
    * bpe_ish_tokens), sorted upstream by the caller.
    *
    * Near-dup policy: for each pair with jaccard >= `jaccard`, the
    * LARGER doc_id is dropped (matches Dedup.exact's keep-smallest).
    */
  def curate(docs: DataFrame, jaccard: Double = 0.5,
      lang: String = "en"): DataFrame = {
    // 1. exact dedup — keep the smallest doc_id of each duplicate group.
    // The survivor frame feeds the pair generator AND the anti-join (and
    // everything downstream re-derives from it): cache() it — a COLUMNAR
    // snapshot, so each pruned consumer (langId/tokenCounts read doc_id +
    // text only) scans just its columns (guide §5; a localCheckpoint here
    // measured slower — RDD blocks cannot column-prune) — and release it
    // after the result is materialized, so no CacheManager entry outlives
    // the call.
    val s1 = Dedup.exactSurvivors(docs).cache()
    // 2. near-dup removal over the exact-dedup survivors
    val nearDupIds = Dedup.ngramJaccardPairs(s1, n = 3, threshold = jaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    val s2 = s1.join(nearDupIds, Seq("doc_id"), "left_anti")
    // 3. language filter — the prediction is a pure per-row function, so
    // it is a FILTER (same argmax/tiebreak Column the langId frame emits),
    // not a compute-then-join-back: the join re-derived the s2 chain once
    // per side (guide §2.4 — remove shuffles outright)
    val s3 = s2.filter(TextMetrics.langPred(col("text")) === lang)
    // 4. split assignment + token accounting — both pure per-row columns
    // (the former tokenCounts ⋈ hashSplit joined two projections of the
    // SAME frame on doc_id); one projection, zero joins, same rows
    val out = s3.select(col("doc_id"),
        Sampling.splitCol(col("doc_id")).as("split"),
        TextMetrics.wsTokens(col("text")).as("ws_tokens"),
        TextMetrics.bpeIshTokens(col("text")).as("bpe_ish_tokens"))
      .localCheckpoint()
    s1.unpersist()
    out
  }

  /** The round-5 composition over the data-selection generation of
    * operators — the pipeline shape of a modern web-scale curation stack
    * (RefinedWeb/Gopher/CCNet lineage):
    *
    *   exact dedup → exact-substring span gate (drop docs that are mostly
    *   duplicated spans) → Gopher rule filter → perplexity bucketing over
    *   the survivors (drop the tail tercile) → per-domain quota.
    *
    * Like [[curate]], every stage is an individually-oracled operator and
    * the whole chain is re-derived in SQL (`curation_pipeline2`). The
    * Gopher stopword rule uses the corpus's own langId profile (the
    * published English list assumes prose this synthetic corpus doesn't
    * have — it would reject everything, which is a property of the
    * fixture, not the operator).
    *
    * Scale shape: span profiling is the only stage with a corpus-wide
    * key agg (window-hash dup set + left_semi back); Gopher is narrow;
    * the LM train is one pass over survivors; bucketing is a 2-value agg
    * broadcast; the quota is the bounded-heap aggregate. No stage
    * shuffles text except the span explode, which carries (doc_id, hash).
    */
  def curate2(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      spanW: Int = 10, spanDupFrac: Double = 0.5,
      quota: Int = 5): DataFrame = {
    // Materialization boundaries at the survivor frames are load-bearing,
    // not an optimization nicety: each gate's frame feeds MULTIPLE
    // downstream actions (the gate's own profile branch, the join back,
    // and — worst — the LM training's aggregation scans over s3). Without
    // them Catalyst re-executes the whole upstream chain, span shuffle
    // included, once per scan: measured 54 s vs ~7 s at sf0.1. Realized as
    // eager localCheckpoint (block-manager MEMORY_AND_DISK snapshots,
    // lineage cut) rather than cache(): a .cache() is a CacheManager entry
    // that outlives the call — the round-5 advisor flagged the final s4
    // cache as a per-invocation leak under a long-lived session — while
    // checkpoint blocks are released by GC as soon as the result frame
    // drops its reference. At production scale these are exactly the stage
    // snapshots a multi-gate curation DAG needs.
    // 1. exact dedup — keep the smallest doc_id of each duplicate group
    val s1 = Dedup.exactSurvivors(docs).cache()
    // 2. span gate: drop docs more than spanDupFrac duplicated-span text
    val spanOk = SpanDedup.profile(s1, w = spanW)
      .filter(col("dup_frac") <= spanDupFrac).select("doc_id")
    val s2 = s1.join(spanOk, Seq("doc_id"))
    // 3. Gopher rules with the corpus's en stopword profile — applied as
    // the composable keep FILTER (identical conjunction to the flags
    // frame's `keep`), not a compute-then-join-back
    val enStops = TextMetrics.stopwords.toMap.apply("en")
    val s3 = s2.filter(GopherRules.keepCol(col("text"), stopwords = enStops))
      .cache()
    s3.count() // materialized -> the s1 snapshot can be released
    s1.unpersist()
    // 4. perplexity terciles trained on the survivors; drop the tail.
    // The scored frame feeds both the threshold aggregate and the
    // assignment — cached, the LM scoring pass (mapPartitions over the
    // broadcast model, the stage's dominant cost) runs once, not twice
    val scored = LangModel.lmScore(spark, s3)
      .select("doc_id", "mean_logp").cache()
    val kept = PerplexityBuckets.assign(scored)
      .filter(col("bucket") =!= "tail")
    val s4 = s3.join(kept, Seq("doc_id")).cache()
    s4.count()
    s3.unpersist(); scored.unpersist()
    // 5. per-domain quota over what's left. The result is materialized
    // (localCheckpoint) so the LAST cache can be released before
    // returning — the round-5 advisor flagged the leaked s4 entry: under
    // a long-lived session every invocation left one cached frame behind
    // (eviction pressure across a 75-query bench run).
    val out = Sampling.domainQuota(s4, cap = quota)
      .join(s4.select(col("doc_id"), col("bucket")), Seq("doc_id"))
      .select("doc_id", "domain", "bucket", "rk")
      .localCheckpoint()
    s4.unpersist()
    out
  }

  /** The MinHash-LSH variant of [[curate]] — the batch counterpart of
    * `streaming.StreamCuration` (agreement-tested against it): exact dedup
    * → MinHash-LSH near-dup removal (drop the larger doc_id of each pair —
    * id order is the batch precedence, arrival order the streaming one) →
    * language + minimum-length gate. Pairing runs over the FULL corpus
    * (exact dups share identical signatures, so the drop set is unchanged
    * vs pairing survivors only — and it matches the stream, whose bucket
    * state retains every arrival).
    */
  def curateMinhash(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 100000, lang: String = "en",
      minTokens: Int = 3): DataFrame = {
    val s1 = Dedup.exactSurvivors(docs)
    val nearDupIds = Dedup.minhashLshPairs(docs, numHashes = numHashes,
        bands = bands, threshold = threshold, maxBucket = maxBucket)
      .select(col("doc_b").as("doc_id")).distinct()
    val s2 = s1.join(nearDupIds, Seq("doc_id"), "left_anti")
    s2.select(col("doc_id"),
        TextMetrics.langPred(col("text")).as("lang_pred"),
        TextMetrics.wsTokens(col("text")).as("ws_tokens"))
      .filter(col("lang_pred") === lang && col("ws_tokens") >= minTokens)
  }
}
