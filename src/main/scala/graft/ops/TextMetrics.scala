package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, token counting, stopword-profile language ID and a
  * polynomial rolling-hash document fingerprint.
  *
  * All four are pure Catalyst column expressions (no UDFs): whole-stage
  * codegen end-to-end, narrow (zero shuffle), and therefore embarrassingly
  * parallel at 100 TB — the scan is the only cost. Each has an exact
  * DuckDB oracle (same arithmetic, same evaluation order, so doubles are
  * bit-identical).
  */
object TextMetrics {

  /** Stopword profiles for language ID. Deliberately tiny and fixed: the
    * operator contract is "deterministic stopword-hit argmax", not a
    * state-of-the-art classifier (those need model files; the profile list
    * is swappable).
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "es" -> Seq("el", "los", "y", "es", "un", "una", "en", "que", "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "vous", "ce", "une"))

  /** The word tokenizer every text operator shares: lowercase, trim,
    * split on whitespace runs (the oracle's `string_split_regex`).
    */
  private[graft] def words(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** Per-document quality metrics + a composite score in [0,1]. */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    val nWords = size(ws).cast("double")
    val nChars = length(t).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "[!-/:-@\\[-`{-~]", "")))
      .cast("double")
    val stopHits = size(filter(ws, w => w.isin(stopwords.flatMap(_._2): _*)))
      .cast("double")
    val meanWordLen = (length(regexp_replace(t, "\\s+", "")).cast("double") / nWords)
    docs.select(col("doc_id"),
      nChars.as("n_chars_text"),
      nWords.as("n_words"),
      (punct / nChars).as("punct_ratio"),
      (stopHits / nWords).as("stopword_ratio"),
      meanWordLen.as("mean_word_len"),
      // composite: long enough, not punctuation-heavy, some stopwords,
      // plausible word lengths — each term in [0,1], same order both engines
      (least(nWords / lit(50.0), lit(1.0)) * lit(0.4)
        + (lit(1.0) - least(punct / nChars * lit(5.0), lit(1.0))) * lit(0.2)
        + least(stopHits / nWords * lit(5.0), lit(1.0)) * lit(0.2)
        + when(meanWordLen.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.0)) * lit(0.2)
      ).as("quality_score"))
  }

  /** Whitespace tokens + a BPE-ish regex token count (letter runs, single
    * digits, single punctuation — the shape of byte-pair pre-tokenizers).
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      size(words(col(textCol))).as("ws_tokens"),
      regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))
        .as("bpe_ish_tokens"))

  /** [[langId]]'s prediction as a single composable Column — the form the
    * streaming curation gate uses inline (same arithmetic, same tiebreak;
    * the repeated `words` split collapses to one evaluation under CSE).
    */
  def langPred(text: Column): Column = {
    val ws = words(text)
    stopwords.foldLeft((lit(""), lit(-1))) { case ((bl, bh), (lang, sw)) =>
      val h = size(filter(ws, w => w.isin(sw: _*)))
      (when(h > bh, lit(lang)).otherwise(bl), when(h > bh, h).otherwise(bh))
    }._1
  }

  /** Whitespace token count as a composable Column (= `ws_tokens`). */
  def wsTokens(text: Column): Column = size(words(text))

  /** BPE-ish regex token count as a composable Column (= `bpe_ish_tokens`,
    * the exact expression [[tokenCounts]] emits).
    */
  def bpeIshTokens(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** Stopword-hit language ID: argmax of per-language hit counts, ties
    * broken by language code order (deterministic).
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val ws = words(col(textCol))
    val hitCols = stopwords.map { case (lang, sw) =>
      size(filter(ws, w => w.isin(sw: _*))).as(s"hits_$lang")
    }
    val withHits = docs.select(col("doc_id") +: hitCols: _*)
    val best = stopwords.map(_._1).foldLeft((lit(""), lit(-1))) {
      case ((bl, bh), lang) =>
        val h = col(s"hits_$lang")
        (when(h > bh, lit(lang)).otherwise(bl), when(h > bh, h).otherwise(bh))
    }
    withHits.withColumn("lang_pred", best._1)
  }

  val FpMod = graft.functions.SketchKernels.FpMod // < 2^56: acc*31 + 255 never overflows Long

  /** Per-string polynomial rolling hash — the same acc*31+ascii arithmetic
    * as [[fingerprint]] exposed as a composable Column, so Dsir's feature
    * buckets and SpanDedup's window hashes are engine-reproducible
    * (DuckDB `list_reduce` computes the identical value). Native codegen
    * kernel (graft.functions.CharFp), bit-identical to [[charFpHof]]
    * (parity-tested).
    */
  def charFp(s: Column): Column = graft.functions.SketchExpr.char_fp(s)

  /** HOF reference formulation of [[charFp]] — kept for the kernel-parity
    * spec (one interpreted lambda dispatch + a split() element per
    * character).
    */
  def charFpHof(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 31 + c, lit(FpMod)))

  /** Polynomial rolling-hash fingerprint over the character stream of the
    * whitespace-normalized text: acc = (acc*31 + ascii(c)) mod FpMod.
    * Order-sensitive (a true rolling hash); the native [[charFp]] kernel.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    docs.select(col("doc_id"), charFp(norm).as("fingerprint"))
  }

  /** Word n-grams WITH duplicates (unlike `Dedup.shingles`, which is a
    * set) — repetition detection is precisely about the duplicates. Same
    * native kernel as the shingles, with distinct off; parity vs the HOF
    * reference in [[ngramsHof]].
    */
  private def ngrams(text: Column, n: Int): Column =
    graft.functions.SketchExpr.word_ngrams(words(text), n, distinct = false)

  private[graft] def ngramsHof(text: Column, n: Int): Column = {
    val ws = words(text)
    val cnt = size(ws) - (n - 1)
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(transform(
        arrays_zip((0 until n).map(j => slice(ws, lit(j + 1), cnt)): _*),
        s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*)))
  }

  /** Characters covered by repeated n-grams, as one narrow fold: sort the
    * gram array, then run-length scan it with an `aggregate` HOF —
    * `top` = max over grams of count*len(gram) (chars covered by the
    * single most-covering gram), `dup` = sum over grams occurring >= 2
    * times of count*len(gram). Identical to the explode+groupBy counts a
    * SQL engine computes, but with zero shuffle: the scan is the cost.
    */
  private def repCover(grams: Column): Column = {
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit(0L).as("dup"))
    aggregate(array_sort(grams), zero, (acc, g) => {
      val same = g === acc.getField("prev")
      val run = when(same, acc.getField("run") + 1).otherwise(lit(1L))
      struct(g.as("prev"), run.as("run"),
        greatest(acc.getField("best"), run * length(g).cast("long")).as("best"),
        // incremental dup chars: a run entering length 2 contributes both
        // occurrences at once; each further repeat adds one more
        (acc.getField("dup")
          + when(same && acc.getField("run") === 1, length(g).cast("long") * 2)
            .when(same, length(g).cast("long"))
            .otherwise(lit(0L))).as("dup"))
    })
  }

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", quality-filter appendix): the fraction of
    * characters covered by the most-covering word 2-gram and by all
    * duplicated word 3-grams. Character coverage counts every occurrence
    * of the gram (overlaps not collapsed) — deterministic, no tiebreak
    * needed since `top` maximizes count*len directly. Pure narrow
    * Catalyst expressions; the oracle recomputes both via explode+group.
    */
  def repetitionSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("double")
    val r2 = repCover(ngrams(t, 2))
    val r3 = repCover(ngrams(t, 3))
    docs.select(col("doc_id"),
      nChars.as("n_chars_text"),
      (r2.getField("best").cast("double") / nChars).as("top2_frac"),
      (r3.getField("dup").cast("double") / nChars).as("dup3_frac"))
  }

  /** Per-document top-k TF-IDF terms — the classic keyword/topic signal a
    * curation pipeline uses for corpus profiling and domain balancing.
    * score = tf(doc, word) * ln(N / df(word)), natural log, raw counts
    * (no normalization — the oracle re-derives the exact arithmetic).
    *
    * Scale shape: two map-side-combined hash aggregates (tf on (doc,
    * word), df on word — df is tf's own re-aggregation, so the corpus is
    * scanned once) + a word-keyed join + a per-doc top-k chosen by
    * sorting each doc's OWN term list (array_sort of a per-group
    * collect_list, bounded by the doc's distinct-word count) — no Window,
    * no global sort; the per-group list is the document's vocabulary,
    * which is bounded by document length, never by corpus size.
    */
  def tfidfTop(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame = {
    val n = docs.count() // one scalar: N for the idf denominator
    val tf = docs
      .select(col("doc_id"), explode(words(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("word"))
      .withColumn("score", col("tf") * log(lit(n.toDouble) / col("df")))
    scored
      .groupBy("doc_id")
      .agg(slice(array_sort(collect_list(
        // struct sorts ascending field-by-field: negated score first ⇒
        // score DESC, then word ASC on ties — the deterministic total
        // order both engines share
        struct((-col("score")).as("neg"), col("word"), col("tf"),
          col("df"), col("score")))), 1, k).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("doc_id"), (col("pos") + 1).as("rank"),
        col("t.word").as("word"), col("t.tf").as("tf"),
        col("t.df").as("df"), col("t.score").as("score"))
  }
}
