package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-substring duplication detection in the style of Lee et al. 2021
  * ("Deduplicating Training Data Makes Language Models Better"): find
  * spans of `W` consecutive words that occur more than once in the corpus
  * (their suffix-array criterion, approximated at fixed span length by
  * window hashing — the standard distributed reformulation) and report,
  * per document, how much of it is duplicated text. Complements the
  * document-level dedup family: near-dup LSH finds mostly-similar DOCS;
  * this finds shared BOILERPLATE SPANS inside otherwise-distinct docs.
  *
  * Mechanics: per-word polynomial hash, then a fold over each length-W
  * word window → 56-bit window hash; a window is duplicated if its hash
  * occurs >= 2 times corpus-wide (within- or cross-document — Lee et
  * al.'s criterion counts both).
  *
  * Scale shape: window hashing is a narrow codegen HOF (L x W adds per
  * doc); the only wide stages are one hash agg over (window-hash) with a
  * count >= 2 filter — map-side combined, output far smaller than the
  * window stream — and one LEFT SEMI join of exploded windows against
  * that duplicated-hash set (ids never carried; the repo's
  * hash-agg + left_semi prune discipline, no Window). Per-doc rollup is a
  * doc_id hash agg. All counts integer-exact, so the DuckDB oracle
  * matches bit-for-bit including the dup fraction (IEEE division).
  */
object SpanDedup {

  import TextMetrics.words

  /** Array of window hashes for one document's word array — native
    * codegen kernel (graft.functions.SpanWindowHashes): per-word charFp
    * fingerprints computed once, then a tight inner fold per window;
    * bit-identical to [[windowHashesHof]] (parity-tested). Short docs
    * (< w words) get an empty array.
    */
  def windowHashes(text: Column, w: Int): Column =
    graft.functions.SketchExpr.span_window_hashes(words(text), w)

  /** HOF reference formulation of [[windowHashes]] — kept for the
    * kernel-parity spec. Guards `sequence(1, 0)` explicitly (it counts
    * DOWN, it is not empty); CSE-safe like `Dedup.shinglesHof`: the
    * word-hash array appears only in `arrays_zip` ARGUMENT positions (w
    * shifted slices); the lambda folds over its bound struct, never
    * re-touching the array — a captured `slice(wfps, i, w)` in the lambda
    * body would re-hash every word once per window and turn the scan
    * quadratic.
    */
  private[graft] def windowHashesHof(text: Column, w: Int): Column = {
    val wfps = transform(words(text), w => TextMetrics.charFpHof(w))
    val cnt = size(wfps) - (w - 1)
    when(size(wfps) < w, array().cast("array<bigint>"))
      .otherwise(transform(
        arrays_zip((0 until w).map(j => slice(wfps, lit(j + 1), cnt)): _*),
        s => (0 until w).foldLeft(lit(0L): Column)((acc, j) =>
          pmod(acc * 31 + s.getField(j.toString), lit(TextMetrics.FpMod)))))
  }

  /** Per-doc span-duplication profile: total windows, duplicated windows,
    * duplicated fraction.
    */
  def profile(docs: DataFrame, w: Int = 10, textCol: String = "text"): DataFrame = {
    val base = docs.select(col("doc_id"),
      windowHashes(col(textCol), w).as("whs"))
    val exploded = base.select(col("doc_id"), explode(col("whs")).as("wh"))
    val dupHashes = exploded.groupBy("wh")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select("wh")
    val dupPerDoc = exploded.join(dupHashes, Seq("wh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_windows"))
    base.select(col("doc_id"), size(col("whs")).cast("long").as("n_windows"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") === 0, 0.0)
          .otherwise(col("dup_windows").cast("double") / col("n_windows")))
  }
}
