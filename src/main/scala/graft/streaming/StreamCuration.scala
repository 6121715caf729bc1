package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.sink.ManifestSink

/** One lane row per (doc, lane): lane -1 = exact-digest, 0..bands-1 =
  * MinHash bands. Gate fields ride along so the per-batch collapse never
  * needs the corpus again.
  */
final case class CurLane(band: Int, bucket: String, doc_id: Long,
    sig: Seq[Long], lang_pred: String, ws_tokens: Int, ts: Timestamp)

/** Per-lane verdict for one arriving document. */
final case class CurVerdict(doc_id: Long, band: Int, dropped: Boolean,
    lang_pred: String, ws_tokens: Int, ts: Timestamp)

/** ONLINE end-to-end curation — the streaming composition of the batch
  * `ops.Curation.curateMinhash` pipeline as ONE running query:
  *
  *   readStream(documents) → online exact dedup + MinHash-LSH near-dup
  *   (one keyed-state operator) → language/length gate → exactly-once sink
  *
  * Shape: signature/digest/gate columns are NARROW codegen stages; the
  * only exchange is the (band, bucket)-keyed state shuffle. A document
  * fans out to `bands`+1 lanes (the exact-digest lane plus one per MinHash
  * band); each lane votes drop/keep against its bucket's state, and the
  * per-document collapse (`any lane dropped?`) happens in `foreachBatch` —
  * BATCH-LOCAL, because all of a document's lane verdicts are emitted in
  * the micro-batch it arrives in. That keeps the plan at ONE stateful
  * operator (no stateful-after-stateful chain for the correctness checker
  * to reject) while state still spans micro-batches.
  *
  * Precedence: a document is dropped when an EARLIER-ARRIVED document is
  * an exact or near duplicate — arrival order is the streaming analogue of
  * the batch rule "keep the smallest doc_id". Within a micro-batch, lane
  * processing sorts by doc_id, so ingesting a corpus in id order
  * reproduces the batch survivor set EXACTLY *below the bucket cap*
  * (agreement-tested, incl. checkpoint stop/resume); out-of-id-order
  * ingest is still correct online curation, just with arrival precedence.
  * The cap itself diverges by necessity (same law as [[StreamDedup]]):
  * batch excludes an over-`maxBucket` bucket RETROACTIVELY — it sees the
  * full corpus — while a stream can only saturate PROSPECTIVELY, so docs
  * that matched a member before the bucket crossed the cap stay dropped.
  *
  * State law: the MinHash lanes share [[StreamDedup]]'s [[LshBucket]], so
  * state is bounded by ACTIVE buckets x maxBucket signatures, and a bucket
  * closes `gap` after its newest event ([[EventTimeState]]).
  * Dropped documents still join bucket state — the batch pair set also
  * contains pairs involving dropped docs, and a dropped doc must keep
  * suppressing its later copies.
  */
object StreamCuration {

  final case class Config(
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      numHashes: Int = 64,
      bands: Int = 16,
      n: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Int = 100000,
      lang: String = "en",
      minTokens: Int = 3,
      watermark: String = "10 minutes",
      gap: String = "30 minutes",
      maxFilesPerTrigger: Int = 4,
      availableNow: Boolean = false)

  /** The stateful core: docs → lanes → per-(band,bucket) state votes.
    * Exposed separately so tests can drive it without the sink.
    */
  def verdicts(spark: SparkSession, docs: DataFrame,
      cfg: Config): Dataset[CurVerdict] = {
    import spark.implicits._
    require(cfg.numHashes % cfg.bands == 0, "bands must divide numHashes")
    val r = cfg.numHashes / cfg.bands
    val sh = graft.ops.Dedup.shingles(col("text"), cfg.n)
    val prepared = docs.select(
      col("doc_id"),
      col("ts"),
      // Dedup.exact's digest: the exact lane reproduces the batch groups
      md5(graft.ops.Dedup.normalized(col("text"))).as("digest"),
      when(size(sh) > 0,
        graft.functions.SketchExpr.minhash_sig(sh, cfg.numHashes)).as("sig"),
      graft.ops.TextMetrics.langPred(col("text")).as("lang_pred"),
      graft.ops.TextMetrics.wsTokens(col("text")).as("ws_tokens"))
    // lane fan-out: exact lane always; MinHash lanes only when the doc has
    // shingles (batch pairing also excludes shingle-less docs — otherwise
    // every short doc would share the degenerate all-MaxValue signature)
    val exactLane = struct(lit(-1).as("band"), col("digest").as("bucket"))
    val bandLanes = (0 until cfg.bands).map { b =>
      struct(lit(b).as("band"),
        graft.ops.Lsh.minhashBand(col("sig"), lit(b), r).cast("string").as("bucket"))
    }
    val lanes = prepared.select(
        explode(when(col("sig").isNotNull, array(exactLane +: bandLanes: _*))
          .otherwise(array(exactLane))).as("lane"),
        col("doc_id"), col("sig"), col("lang_pred"), col("ws_tokens"), col("ts"))
      .select(col("lane.band").as("band"), col("lane.bucket").as("bucket"),
        col("doc_id"), coalesce(col("sig"), typedlit(Seq.empty[Long])).as("sig"),
        coalesce(col("lang_pred"), lit("")).as("lang_pred"),
        coalesce(col("ws_tokens"), lit(0)).as("ws_tokens"), col("ts"))
      .withWatermark("ts", cfg.watermark)
      .as[CurLane]

    EventTimeState.closing(lanes.groupByKey(l => (l.band, l.bucket)), cfg.gap,
        (l: CurLane) => l.ts) { (key, rows, prev: Option[LshBucketState]) =>
      def verdict(d: CurLane, dropped: Boolean) =
        CurVerdict(d.doc_id, key._1, dropped, d.lang_pred, d.ws_tokens, d.ts)
      // id-order within the batch = the batch keep-smallest rule
      val sorted = rows.toVector.sortBy(_.doc_id)
      if (key._1 != -1)
        // a saturated bucket matches nothing, so it votes keep (batch: excluded)
        LshBucket.fold(prev, sorted.iterator, cfg.maxBucket, cfg.threshold)(_.doc_id,
          _.sig.toArray, LshBucket.agreement)((d, m) => Some(verdict(d, m.hasNext)))
      else { // the exact lane never saturates; its first doc is its one member
        val seen = prev.flatMap(_.members.headOption.map(_._1))
        val first = seen.getOrElse(sorted.head.doc_id) // a fold call has >= 1 row
        val dups = sorted.filter(_.doc_id != first).map(verdict(_, dropped = true))
        (LshBucket.single(first), if (seen.isEmpty) verdict(sorted.head, false) +: dups else dups)
      }
    }
  }

  /** Batch-local collapse of lane verdicts + the language/length gate —
    * pure relational, runs inside foreachBatch on each micro-batch.
    */
  def survivorsOfBatch(verdicts: DataFrame, lang: String,
      minTokens: Int): DataFrame =
    verdicts.groupBy("doc_id")
      .agg(max(when(col("dropped"), 1).otherwise(0)).as("any_dropped"),
        first("lang_pred").as("lang_pred"),
        first("ws_tokens").as("ws_tokens"),
        min("ts").as("ts"))
      .filter(col("any_dropped") === 0 &&
        col("lang_pred") === lang && col("ws_tokens") >= minTokens)
      .select("doc_id", "lang_pred", "ws_tokens", "ts")

  /** Start the full [[FileStream]] query: [[verdicts]] in the stream plan
    * → per-batch survivor collapse + gate → [[ManifestSink]] exactly-once
    * at `cfg.outDir` (read the survivors with its `read`).
    */
  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    val sink = new ManifestSink(cfg.outDir)
    FileStream.start(spark, StructType.fromDDL("doc_id long, text string, ts timestamp"),
      cfg.inputDir, cfg.maxFilesPerTrigger, cfg.checkpointDir, cfg.availableNow)(
      verdicts(spark, _, cfg).toDF()) {
      (df, id) => sink.writeBatch(survivorsOfBatch(df, cfg.lang, cfg.minTokens), id)
    }
  }
}
