package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINED ON THE CORPUS ITSELF — the "real
  * BPE" counterpart to TextMetrics.tokenCounts' regex approximation, with
  * no external model artifacts (the round-3 review listed a real tokenizer
  * as blocked on artifacts; training from the data removes the blocker).
  *
  * Algorithm: classic BPE (Sennrich et al. 2016, arXiv:1508.07909 — public
  * method). Words split to characters + a `</w>` end-of-word marker; each
  * iteration merges the most frequent adjacent symbol pair (ties broken by
  * the lexicographically greatest pair — any fixed rule works, it just has
  * to be deterministic); encoding replays merges by rank (lowest first).
  *
  * Scale shape (the 100 TB contract): training fits merge rules on the
  * WORD-FREQUENCY HISTOGRAM, not the corpus — exactly how production BPE
  * trainers work. The single distributed pass is the word count (explode →
  * map-side-combined hash aggregate → deterministic TakeOrdered top-N);
  * the merge loop then runs driver-side over that bounded histogram
  * (`maxWords` rows, heavy-tailed corpora concentrate nearly all mass
  * there). Tokenization broadcasts the rank table and runs as a NARROW
  * mapPartitions with a per-partition word→tokens memo (words repeat;
  * each unique word is encoded once per partition).
  */
object Bpe {

  val EndOfWord = "</w>"

  /** One distributed pass: deterministic top-`maxWords` word histogram. */
  def wordHistogram(docs: DataFrame, maxWords: Int,
      textCol: String = "text"): Array[(String, Long)] =
    docs.select(explode(TextMetrics.words(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w")) // deterministic under ties
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** Train `numMerges` merge rules from the corpus. */
  def train(docs: DataFrame, numMerges: Int, maxWords: Int = 50000,
      textCol: String = "text"): Seq[(String, String)] =
    trainFromCounts(wordHistogram(docs, maxWords, textCol), numMerges)

  /** Driver-side merge fitting over a word histogram (bounded input).
    *
    * Pair counts are maintained INCREMENTALLY (the standard production BPE
    * trainer shape): a pair → word-index occurrence map means each merge
    * re-indexes only the words that actually contain the merged pair,
    * instead of recounting every adjacent pair of every word per
    * iteration (numMerges full histogram scans — the whole driver-side
    * cost of `bpe_token_counts`). The maintained multiset of counts is
    * identical to a from-scratch recount at every step, and the argmax
    * uses the same (count, pair) total order, so the emitted merge
    * SEQUENCE is unchanged (parity-pinned in BpeSpec).
    */
  def trainFromCounts(wordCounts: Seq[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    val words: mutable.ArrayBuffer[(Array[String], Long)] =
      wordCounts.map { case (w, n) =>
        ((w.map(_.toString) :+ EndOfWord).toArray, n)
      }.to(mutable.ArrayBuffer)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def index(wi: Int, sign: Long): Unit = {
      val (syms, n) = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val c = pairCounts.getOrElse(p, 0L) + sign * n
        if (c == 0L) pairCounts.remove(p) else pairCounts.update(p, c)
        if (sign > 0) occ.getOrElseUpdate(p, mutable.HashSet.empty) += wi
        else occ.get(p).foreach { s => s -= wi; if (s.isEmpty) occ.remove(p) }
        i += 1
      }
    }
    words.indices.foreach(index(_, 1L))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var it = 0
    var exhausted = false
    while (it < numMerges && !exhausted) {
      if (pairCounts.isEmpty) exhausted = true
      else {
        val best = pairCounts.maxBy { case (p, c) => (c, p) }._1
        merges += best
        val affected = occ.getOrElse(best, mutable.HashSet.empty).toArray
        affected.foreach { wi =>
          index(wi, -1L)
          words(wi) = (mergeOnce(words(wi)._1, best), words(wi)._2)
          index(wi, 1L)
        }
      }
      it += 1
    }
    merges.toSeq
  }

  /** One left-to-right pass replacing every occurrence of the pair. */
  private def mergeOnce(syms: Array[String], m: (String, String)): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == m._1 && syms(i + 1) == m._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Encode one word: repeatedly apply the lowest-ranked applicable merge
    * (all its occurrences, left to right — the training replay order).
    */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Array[String] = (word.map(_.toString) :+ EndOfWord).toArray
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var best: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (best == null) done = true
      else syms = mergeOnce(syms, best)
    }
    syms.toSeq
  }

  /** Distributed tokenization: per-doc REAL BPE token count (beside the
    * whitespace count for comparability). Ranks broadcast; narrow; a
    * per-partition memo means each unique word is encoded once per task.
    *
    * `bpe_chars` = total characters across emitted tokens (each word
    * contributes len(word) + len(EndOfWord)). The DuckDB oracle re-derives
    * it from the raw text — the tokens-exactly-cover-the-text invariant: a
    * tokenizer that drops, duplicates, or splits a character differently
    * fails the hash. The merge table itself is corpus-learned, so
    * `bpe_tokens` is echoed via the {OUT} pattern (training is not
    * SQL-expressible) and pinned by BpeSpec instead.
    */
  def tokenCounts(spark: SparkSession, docs: DataFrame,
      merges: Seq[(String, String)], textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val ranks = merges.zipWithIndex.toMap
    val branks = spark.sparkContext.broadcast(ranks)
    docs.select(col("doc_id"), TextMetrics.words(col(textCol)).as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val memo = mutable.HashMap.empty[String, (Int, Int)]
        val r = branks.value
        it.map { case (id, ws) =>
          var n = 0L
          var nw = 0L
          var nc = 0L
          ws.foreach { w =>
            if (w.nonEmpty) {
              nw += 1
              val (tk, ch) = memo.getOrElseUpdate(w, {
                val toks = encodeWord(w, r)
                (toks.length, toks.map(_.length).sum)
              })
              n += tk
              nc += ch
            }
          }
          (id, nw, n, nc)
        }
      }
      .toDF("doc_id", "ws_tokens", "bpe_tokens", "bpe_chars")
  }

  /** Persist a trained merge table — the train-once/serve-many split (the
    * same production shape as the persisted IVF index): train on the big
    * corpus once, load the tiny ordered table in every serving job. Rank
    * is stored explicitly because merge ORDER is the model — applying the
    * same rules in a different order tokenizes differently.
    */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)],
      dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def loadMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    spark.read.parquet(dir).orderBy("rank").select("left", "right")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
}
