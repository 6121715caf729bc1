package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.io.LocalFs
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

final case class CurMember(doc_id: Long, sig: Seq[Long])
final case class CurBucketState(members: List[CurMember], saturated: Boolean)

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
  * State law (same as [[StreamDedup]]): bounded by ACTIVE buckets x
  * maxBucket signatures, saturation frees members prospectively, and a
  * bucket closes `gap` after its newest event ([[EventTimeState]]).
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
    // same normalization as Dedup.exact — the exact-digest lane must
    // reproduce the batch duplicate groups bit-for-bit
    val norm = trim(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    val sh = graft.ops.Dedup.shingles(col("text"), cfg.n)
    val prepared = docs.select(
      col("doc_id"),
      col("ts"),
      md5(norm).as("digest"),
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
        xxhash64(slice(col("sig"), lit(b * r + 1), lit(r))).cast("string").as("bucket"))
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

    val numHashes = cfg.numHashes
    val threshold = cfg.threshold
    val maxBucket = cfg.maxBucket
    EventTimeState.closing(lanes.groupByKey(l => (l.band, l.bucket)), cfg.gap,
        (l: CurLane) => l.ts) { (key, rows, prev: Option[CurBucketState]) =>
      var s = prev.getOrElse(CurBucketState(Nil, saturated = false))
      val out = Vector.newBuilder[CurVerdict]
      // id-order within the batch = the batch keep-smallest rule
      rows.toVector.sortBy(_.doc_id).foreach { d =>
        if (!s.members.exists(_.doc_id == d.doc_id)) {
          val dropped =
            if (s.saturated) false // capped bucket votes keep (batch: excluded)
            else if (key._1 == -1) s.members.nonEmpty // exact dup of an earlier doc
            else s.members.exists { m =>
              var eq = 0
              var i = 0
              while (i < numHashes) { if (m.sig(i) == d.sig(i)) eq += 1; i += 1 }
              eq.toDouble / numHashes >= threshold
            }
          out += CurVerdict(d.doc_id, key._1, dropped, d.lang_pred,
            d.ws_tokens, d.ts)
          s =
            if (key._1 == -1)
              // the exact lane only needs "seen": one sentinel member
              if (s.members.isEmpty) CurBucketState(CurMember(d.doc_id, Nil) :: Nil, false)
              else s
            else if (s.saturated) s
            else if (s.members.length + 1 >= maxBucket)
              CurBucketState(Nil, saturated = true) // free memory
            else CurBucketState(CurMember(d.doc_id, d.sig) :: s.members, false)
        }
      }
      (s, out.result())
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

  /** Start the full query: file-stream source (schema'd parquet dir, the
    * offline stand-in for the production stream source) → [[verdicts]] →
    * per-batch survivor collapse + gate → [[ManifestSink]] exactly-once.
    * Checkpointed: stop/restart resumes offsets and the manifest
    * suppresses replays.
    */
  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    LocalFs.use(spark)
    val sink = new ManifestSink(cfg.outDir)
    val docs = spark.readStream
      .schema("doc_id long, text string, ts timestamp")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
    verdicts(spark, docs, cfg).toDF()
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .outputMode("append")
      .trigger(if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime("1 second"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink.writeBatch(survivorsOfBatch(df, cfg.lang, cfg.minTokens), id)
      }
      .start()
  }

  /** Committed survivors across all batches. */
  def readSurvivors(spark: SparkSession, outDir: String): DataFrame =
    new ManifestSink(outDir).read(spark)
}
