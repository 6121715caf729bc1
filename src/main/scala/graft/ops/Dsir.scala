package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): score every document by
  * how much more likely its hashed-word features are under a target
  * distribution than under the raw-corpus distribution — the principled
  * "pick web documents that look like the high-quality target" selector.
  * The target here is the corpus's own `lang = 'en'` slice (an in-corpus
  * proxy; any target DataFrame plugs in).
  *
  * Model: bag-of-hashed-unigrams over `m` buckets, Laplace-smoothed;
  * per-doc log importance weight = sum over words of
  * ln(p_target(bucket(w))) - ln(p_source(bucket(w))).
  *
  * Scale shape: ONE distributed pass builds both count vectors (explode +
  * hash agg with a conditional target counter — m <= 128 result rows), the
  * m-bucket log-ratio table collapses to a literal array, and scoring is a
  * narrow codegen fold per document (zero Exchange, plan-pinned). The
  * bucket hash is the engine's polynomial char hash, so the DuckDB oracle
  * re-derives the ENTIRE train+score chain; the float log-weight column
  * uses the 1e-8 pass-through verify (ln ULPs differ across engines).
  */
object Dsir {

  import TextMetrics.words

  val NumBuckets = 128

  /** Hashed feature bucket of one word: charFp mod m. */
  def bucket(w: Column): Column =
    pmod(TextMetrics.charFp(w), lit(NumBuckets.toLong))

  /** The m-entry log-ratio table ln(p_T(b)) - ln(p_S(b)), Laplace(+1)
    * smoothed. One distributed pass; the result is m doubles on the
    * driver (a bounded collect, like the NB model).
    */
  def trainLogRatios(docs: DataFrame, textCol: String = "text",
      targetCol: String = "lang", targetValue: String = "en"): Array[Double] = {
    val counts = docs
      .select(col(targetCol), explode(transform(words(col(textCol)), w => bucket(w)))
        .as("b"))
      .groupBy("b").agg(
        count(lit(1)).as("cs"),
        count(when(col(targetCol) === targetValue, 1)).as("ct"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sTot = counts.values.map(_._1).sum.toDouble
    val tTot = counts.values.map(_._2).sum.toDouble
    Array.tabulate(NumBuckets) { b =>
      val (cs, ct) = counts.getOrElse(b.toLong, (0L, 0L))
      math.log((ct + 1.0) / (tTot + NumBuckets)) -
        math.log((cs + 1.0) / (sTot + NumBuckets))
    }
  }

  /** Narrow scoring over the literal log-ratio table. */
  def score(docs: DataFrame, logRatios: Array[Double],
      textCol: String = "text"): DataFrame = {
    val lr = typedLit(logRatios.toSeq)
    val ws = words(col(textCol))
    docs.select(col("doc_id"),
      size(ws).cast("long").as("n_words"),
      aggregate(
        transform(ws, w => element_at(lr, (bucket(w) + 1).cast("int"))),
        lit(0.0),
        (acc, x) => acc + x).as("log_weight"))
  }

  /** Train + score in one call (the `dsir_weights` query). */
  def weights(docs: DataFrame): DataFrame =
    score(docs, trainLogRatios(docs))

  /** splitmix64 as a Column — the native `SplitMix64` codegen expression
    * (ANSI-mode Column arithmetic refuses the required mod-2^64
    * wraparound multiply); bit-identical to `TranscriptGen.mix` and the
    * oracle's HUGEINT chain.
    */
  def splitmix(x: Column): Column = graft.functions.SketchExpr.splitmix64(x)

  /** The DSIR selection step: weighted sampling WITHOUT replacement via
    * deterministic Gumbel-top-k (Kool et al. 2019 machinery over Xie et
    * al.'s importance weights) — key_i = log w_i - ln(-ln(u_i)) with u_i
    * a splitmix64 uniform of doc_id (top 53 bits, exact double), top-k
    * keys = a sample distributed as importance resampling, reproducible
    * bit-for-bit by any engine with 64-bit integers.
    *
    * Scale shape: scoring is [[score]]'s narrow fold; the key is more
    * narrow codegen; selection is orderBy+limit = TakeOrderedAndProject
    * (per-partition top-k before the single merge, never a global sort).
    */
  def resample(docs: DataFrame, k: Int = 50): DataFrame =
    gumbelTopK(weights(docs), k)

  /** The selection itself, over any (doc_id, log_weight) frame — split
    * from [[resample]] so the weight-bias property is testable with
    * hand-built weights (the fixture corpus's weight spread is small
    * against the Gumbel noise scale of ~1.28, by design of its shared
    * vocabulary, so the bias only shows on weights with real spread).
    */
  def gumbelTopK(scored: DataFrame, k: Int): DataFrame = {
    val u = shiftrightunsigned(splitmix(col("doc_id")), 11).cast("double") /
      lit(9007199254740992.0) // 2^53 — quotient is exact
    scored.select(col("doc_id"),
        (col("log_weight") - log(-log(u))).as("key"))
      .orderBy(col("key").desc, col("doc_id")).limit(k)
      .select("doc_id")
  }
}
