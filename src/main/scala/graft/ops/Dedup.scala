package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, smallest-to-largest
  * hammer: exact hash dedup, n-gram Jaccard pairs, MinHash+LSH banding,
  * SimHash. All are DataFrame-native; the candidate-generation joins are
  * the only shuffles and each is keyed to avoid quadratic blowup
  * (inverted-index join for Jaccard, band-bucket join for MinHash,
  * bucket join for SimHash).
  */
object Dedup {

  import TextMetrics.words

  /** Word n-gram shingles, distinct — native codegen kernel
    * (graft.functions.WordNgrams): one static loop per row, byte-identical
    * to [[shinglesHof]] (parity-tested in SketchExprSpec). The HOF chain it
    * replaces (arrays_zip of n shifted slices + an interpreted concat_ws
    * lambda per gram + array_distinct) is CodegenFallback and allocates n
    * slice arrays plus a zip struct per gram per row — measured as the
    * dominant per-task cost of every shingle-based operator.
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.SketchExpr.word_ngrams(words(text), n, distinct = true)

  /** HOF reference formulation of [[shingles]] — kept for the kernel-parity
    * spec. CSE-safe shape: every reference to the words array sits in an
    * ARGUMENT position of a higher-order function, never inside a lambda
    * body (Catalyst does not CSE expressions referenced from lambda bodies —
    * `element_at(ws, i+j)` inside `transform` would re-run the whole
    * `split()` once per shingle per gram).
    */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val ws = words(text)
    val cnt = size(ws) - (n - 1)
    array_distinct(
      when(size(ws) < n, array().cast("array<string>"))
        .otherwise(transform(
          arrays_zip((0 until n).map(j => slice(ws, lit(j + 1), cnt)): _*),
          s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))))
  }

  // ------------------------------------------------------------------ exact

  /** Exact dedup on md5 of whitespace-normalized lowercase text: keeps the
    * smallest doc_id of each duplicate group. At scale this is map-side
    * hashing + exchanges keyed on the 128-bit digest (never the text):
    * a hash groupBy for the group minimum and a digest-keyed join back —
    * no window, no sort (a window over text_hash forces a full sort of
    * every row by digest).
    */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col("doc_id"), md5(normalized(col(textCol))).as("text_hash"))
    val keep = hashed.groupBy("text_hash").agg(min("doc_id").as("keep_id"))
    // null-SAFE join key: null-text docs hash to a null key and form their
    // own duplicate group (matching the oracle's PARTITION BY window, which
    // groups NULLs) instead of being silently dropped by an inner join.
    hashed.join(keep, hashed("text_hash") <=> keep("text_hash"))
      .drop(keep("text_hash"))
      .select(col("doc_id"), col("text_hash"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("keep"))
  }

  /** The text [[exact]] digests: lowercased, whitespace runs collapsed to
    * one space. The outer trim matters: Spark/DuckDB `trim` strips SPACES
    * only, so text with a leading tab/newline reaches regexp_replace
    * un-trimmed and the \s+ collapse leaves a single leading/trailing
    * space — the outer trim removes it, matching the oracle's
    * md5(trim(regexp_replace(...))).
    */
  private[graft] def normalized(text: Column): Column =
    trim(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** The docs [[exact]] keeps (the smallest doc_id of each duplicate
    * group), with all their columns.
    */
  private[graft] def exactSurvivors(docs: DataFrame): DataFrame =
    exact(docs).filter(col("keep")).select("doc_id").join(docs, Seq("doc_id"))

  // --------------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle
    * (inverted-index self-join: explode shingles, join on shingle, count).
    * Pairs below `threshold` are filtered out. The join key is the shingle,
    * so common-shingle skew is the scale risk — mitigated upstream by
    * dropping shingles with document frequency > maxDf (stopword shingles
    * contribute candidates but never decide near-duplicates).
    *
    * BOTH the shared counts and the per-doc set sizes come from the SAME
    * pruned shingle space, so the jaccard value is exactly "Jaccard over
    * sub-maxDf shingles" at every scale (round-1 version sized from the
    * unpruned sets — silently undercounting once any df exceeded maxDf).
    * The df computation is a hash groupBy + left_semi prune, not a window
    * over the exploded rows (a window forces a full sort of every
    * (doc, shingle) row; the groupBy is map-side-combined hash agg).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 1000, textCol: String = "text"): DataFrame = {
    // The pruned inverted index feeds THREE consumers (the per-doc sizes
    // aggregate and both sides of the candidate self-join); without a
    // materialization each consumer re-runs the shingle explode + df-prune
    // chain from the raw text. localCheckpoint materializes it ONCE
    // (block-manager MEMORY_AND_DISK, lineage cut, blocks freed on GC —
    // never a leaked CacheManager entry), so the explode is paid once per
    // call, not once per consumer. Guide §5 (persist exactly the reused
    // frame) + §2.3 (the materialized rows are (doc_id, shingle) only —
    // text never reaches a shuffle).
    val pruned = prunedIndex(docs, n, maxDf, textCol).localCheckpoint()
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = Lsh.selfJoin(pruned, "doc_id", "doc_a", "doc_b", "sh")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "shared", "na", "nb", "jaccard")
  }

  /** The df-pruned inverted index (doc_id, shingle) — the frame
    * [[ngramJaccardPairs]] materializes. Package-private so PlanAuditSpec
    * pins its shape (hash-agg df prune + left_semi, no Window) on the
    * ACTUAL pre-materialization plan.
    */
  private[graft] def prunedIndex(docs: DataFrame, n: Int, maxDf: Int,
      textCol: String): DataFrame = {
    // a shingle's bucket holds one row per doc, so its count is its df
    val sh = docs.select(col("doc_id"), explode(shingles(col(textCol), n)).as("sh"))
    Lsh.capped(sh, maxDf, "sh")
  }

  // ------------------------------------------------------------ MinHash+LSH

  /** HOF reference formulation of the MinHash signature — an
    * elementwise-min fold over per-shingle hash rows. CodegenFallback
    * (interpreted lambdas, one intermediate numHashes-array per shingle);
    * kept only for the kernel-parity spec.
    */
  def minhashSigHof(sh: Column, numHashes: Int): Column =
    aggregate(
      transform(sh,
        s => transform(sequence(lit(0), lit(numHashes - 1)), i => xxhash64(i, s))),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, hs) => zip_with(acc, hs, (a, b) => least(a, b)))

  /** MinHash signature: sig[i] = min over shingles of xxhash64(i, shingle).
    * Native codegen expression (graft.functions.MinHashSig) — one static
    * loop per row, bit-identical to [[minhashSigHof]] (parity-tested). No
    * UDF, no shuffle.
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 64,
      n: Int = 3, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.functions.SketchExpr.minhash_sig(col("sh"), numHashes))
      .drop("sh")

  /** LSH banding: split the signature into `bands` bands of r rows, bucket
    * on (band_idx, hash(band)); docs sharing any bucket are candidates;
    * candidates are scored by the fraction of equal signature positions
    * (the MinHash estimate of Jaccard) and kept at >= threshold.
    * One shuffle on the band bucket + one aggregation — never all-pairs.
    */
  def minhashLshPairs(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, n: Int = 3, textCol: String = "text",
      maxBucket: Int = 500): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Signatures feed THREE consumers (banding + both re-attach sides);
    // localCheckpoint computes the shingle+MinHash pipeline once per doc
    // and serves the rest from materialized (doc_id, sig) blocks — the
    // former repartition barriers only stopped projection collapse, they
    // still recomputed the signatures once per consumer (guide §5).
    val sigs = minhashSignatures(docs, numHashes, n, textCol).localCheckpoint()
    // Candidates carry ONLY ids: never drag the signature through the
    // self-join. The repartition keys the band join and lets both self-join
    // sides reuse ONE exchange.
    val banded = sigs.select(col("doc_id"),
        Lsh.bandRows(bands)(Lsh.minhashBand(col("sig"), _, r)).as(Seq("band", "bucket")))
      .repartition(col("band"), col("bucket"))
    val cand = Lsh.selfJoin(Lsh.capped(banded, maxBucket, "band", "bucket"),
        "doc_id", "doc_a", "doc_b", "band", "bucket")
      .dropDuplicates("doc_a", "doc_b")
    // sigs is materialized data: the re-attach joins need no barrier
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Attach the TRUE n-gram Jaccard to a candidate-pair frame — the exact
    * verification step after any approximate candidate generator, and the
    * column a DuckDB oracle can independently re-derive from the raw text
    * even when the candidate set is hash-dependent. Shingle sets are
    * computed once per doc and joined by id (pairs are few; sets attach to
    * the small side).
    */
  def withTrueJaccard(pairs: DataFrame, docs: DataFrame, n: Int = 3,
      textCol: String = "text"): DataFrame = {
    // Shingle sets are joined twice (doc_a and doc_b sides). With the
    // native WordNgrams kernel the recompute per side is cheaper than an
    // eager materialization job (measured both ways — the localCheckpoint
    // variant cost ~+0.3 s on simhash_pairs); the repartition stays as the
    // projection-collapse barrier so the shingle expression is computed
    // once per doc per side, never per candidate pair.
    val sets = docs.select(col("doc_id"), shingles(col(textCol), n).as("s"))
      .repartition(col("doc_id"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("true_jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .drop("sa", "sb")
  }

  // ---------------------------------------------------------------- SimHash

  /** HOF reference formulation of the 64-bit SimHash (aggregate with a
    * 64-element vector accumulator) — kept for the kernel-parity spec.
    */
  def simhashHof(wordsArr: Column): Column = {
    val bitVec = aggregate(wordsArr,
      array_repeat(lit(0), 64),
      (acc, w) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          j => when(call_function("shiftright", xxhash64(w), j).bitwiseAND(1) === 1, 1).otherwise(-1)),
        (a, b) => a + b))
    aggregate(
      zip_with(bitVec, sequence(lit(0), lit(63)),
        (v, j) => when(v > 0, call_function("shiftleft", lit(1L), j)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** 64-bit SimHash over words: bit j of the fingerprint is the sign of
    * sum over words of (+1/-1 per bit j of xxhash64(word)). Native codegen
    * expression (graft.functions.SimHash64), bit-identical to
    * [[simhashHof]] (parity-tested).
    */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SketchExpr.simhash64(array_distinct(words(col(textCol))))
        .as("simhash"))

  /** SimHash near-dup pairs: bucket by the 4 x 16-bit sub-blocks (a pair
    * within Hamming distance 3 must agree on at least one block), then
    * verify the exact Hamming distance <= maxHamming.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", maxBucket: Int = 500): DataFrame = {
    // Same pattern as minhashLshPairs: ids-only candidate join behind a
    // materialization barrier, fingerprints re-attached by key, low-entropy
    // mega-buckets capped (they dominate cost and carry no near-dup signal).
    // Unlike the MinHash signatures this stays a repartition barrier, NOT a
    // localCheckpoint: the 64-bit fingerprint is one cheap codegen
    // expression, and measurement showed the eager materialization costs
    // more than the recompute it saves (guide §1: re-measure, keep the
    // faster shape).
    val sh = simhash(docs, textCol).repartition(col("doc_id"))
    val blocks = sh.select(col("doc_id"),
        Lsh.bandRows(4)(Lsh.bitBlock(col("simhash"), _, 16)).as(Seq("block", "key")))
      .repartition(col("block"), col("key"))
    val cand = Lsh.selfJoin(Lsh.capped(blocks, maxBucket, "block", "key"),
        "doc_id", "doc_a", "doc_b", "block", "key")
      .dropDuplicates("doc_a", "doc_b")
    val ha = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val hb = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    cand.join(ha, "doc_a").join(hb, "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  // ------------------------------------------------------------- line dedup

  /** C4-style cross-corpus LINE dedup (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more than
    * once" — the line/span granularity between exact-doc and near-dup):
    * every distinct line keeps exactly ONE occurrence corpus-wide — the
    * (doc_id, pos)-smallest — and every other occurrence is dropped from
    * its document. This is THE boilerplate killer: repeated nav/footer/
    * subscribe lines vanish from all but one page while unique prose
    * survives untouched.
    *
    * Output per doc: n_lines, n_kept, clean_text (surviving lines
    * re-joined in original order; "" when everything was dropped).
    *
    * Scale shape: posexplode (narrow) → keeper choice as ONE hash
    * aggregate `min(struct(doc_id, pos))` keyed on the line — a map-side-
    * combined groupBy, deliberately NOT the row_number window the naive
    * formulation uses (the DuckDB oracle windows on purpose: independent
    * formulation) → hash join back on the line key → per-doc re-assembly
    * as a sorted-array fold, no second window. Line-frequency skew (the
    * same boilerplate line on every page) is exactly one hot aggregate
    * key: partial aggregation collapses each task's occurrences to one
    * row before the exchange, so the hot key costs one row per task, not
    * a shuffled row per occurrence.
    */
  def lineDedup(docs: DataFrame, sepRegex: String = "\n",
      joinSep: String = "\n", textCol: String = "text"): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col(textCol), sepRegex)).as(Seq("pos", "line")))
    val keeper = lines.groupBy("line")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    lines.join(keeper, Seq("line"))
      .withColumn("keep",
        col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          joinSep).as("clean_text"))
  }
}
