package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One banded signature row flowing into a bucket's state. */
final case class BandedDoc(
    band: Int,
    bucket: Long,
    doc_id: Long,
    sig: Seq[Long],
    ts: Timestamp)

/** A bucket member retained in state. */
final case class BucketMember(doc_id: Long, sig: Seq[Long])

/** Per-(band, bucket) LSH state. `saturated` buckets (hit `maxBucket`)
  * stop emitting AND drop their members — a degenerate bucket is O(n²)
  * pairs of near-zero signal, and at stream scale it must cost neither
  * memory nor output.
  */
final case class BucketState(members: List[BucketMember], saturated: Boolean)

/** Candidate near-duplicate pair discovered online. */
final case class NearDupPair(doc_a: Long, doc_b: Long, est_jaccard: Double,
    ts: Timestamp)

/** ONLINE near-duplicate detection at ingest — the streaming counterpart
  * of Dedup.minhashLshPairs: documents stream in, and each (band, bucket)
  * of the MinHash-LSH banding keeps its members in keyed state, so a new
  * document is compared against every earlier co-bucketed document the
  * moment it arrives — including documents from past micro-batches, which
  * the batch operator can only pair by reprocessing the whole corpus.
  *
  * Shape: signature + banding are NARROW codegen stages (the same native
  * `minhash_sig` expression as batch); the only exchange is the one Spark
  * inserts for the (band, bucket)-keyed state — exactly the batch plan's
  * band-bucket shuffle, amortized over arrival. State per bucket is
  * <= maxBucket signatures and buckets close `gap` after their newest
  * event ([[EventTimeState]]), so state is bounded by ACTIVE buckets, not
  * stream length. Cross-band duplicate pair emissions are at-least-once
  * by default; see `collapsePairs`.
  *
  * Cap semantics vs batch: the batch operator drops an over-`maxBucket`
  * bucket RETROACTIVELY (it sees the full corpus); a stream cannot, so a
  * bucket saturates PROSPECTIVELY — pairs emitted before saturation
  * stand. Parity with the batch candidate set is exact below the cap
  * (agreement-tested).
  */
object StreamDedup {

  /** @param collapsePairs when false (default) the output is AT-LEAST-ONCE
    *   per pair — the same pair can surface from up to `bands` buckets;
    *   consumers collapse with a set/groupBy (the exactly-once sink's
    *   per-batch idempotence makes re-emissions harmless). When true, a
    *   `dropDuplicatesWithinWatermark` stage collapses them in-stream;
    *   Spark's STATIC multi-stateful-operator checker cannot prove that
    *   chain safe and must be told so via
    *   `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    *   — which IS safe here: every emitted pair carries the event time of
    *   the input row that triggered it, and that row already passed the
    *   shared watermark gate, so no emission is late for the downstream
    *   dedup state.
    */
  def nearDupPairs(spark: SparkSession, docs: DataFrame, numHashes: Int = 64,
      bands: Int = 16, n: Int = 3, threshold: Double = 0.5,
      maxBucket: Int = 500, watermark: String = "10 minutes",
      gap: String = "30 minutes", textCol: String = "text",
      collapsePairs: Boolean = false): Dataset[NearDupPair] = {
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    val sigs = docs
      .withColumn("sig", graft.functions.SketchExpr.minhash_sig(
        graft.ops.Dedup.shingles(col(textCol), n), numHashes))
      .select(col("doc_id"), col("sig"), col("ts"))
    val banded = sigs.select(
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * r + 1, lit(r))))).as(Seq("band", "bucket")),
        col("doc_id"), col("sig"), col("ts"))
      .withWatermark("ts", watermark)
      .as[BandedDoc]

    val pairs = EventTimeState.closing(banded.groupByKey(d => (d.band, d.bucket)), gap,
        (d: BandedDoc) => d.ts) { (_, rows, prev: Option[BucketState]) =>
      var s = prev.getOrElse(BucketState(Nil, saturated = false))
      val out = Vector.newBuilder[NearDupPair]
      rows.foreach { d =>
        if (!s.saturated && !s.members.exists(_.doc_id == d.doc_id)) {
          s.members.foreach { m =>
            var eq = 0
            var i = 0
            while (i < numHashes) {
              if (m.sig(i) == d.sig(i)) eq += 1
              i += 1
            }
            val est = eq.toDouble / numHashes
            if (est >= threshold)
              out += NearDupPair(math.min(m.doc_id, d.doc_id),
                math.max(m.doc_id, d.doc_id), est, d.ts)
          }
          s =
            if (s.members.length + 1 >= maxBucket)
              BucketState(Nil, saturated = true) // free memory, stop emitting
            else BucketState(BucketMember(d.doc_id, d.sig) :: s.members, false)
        }
      }
      (s, out.result())
    }
    if (!collapsePairs) pairs
    else pairs.withWatermark("ts", watermark) // new event-time lineage
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
  }

  /** One banded hyperplane-code row flowing into a bucket's state. */
  final case class BandedVec(band: Int, bucket: Long, vec_id: Long,
      v: Seq[Double], ts: Timestamp)

  final case class VecMember(vec_id: Long, v: Seq[Double])

  final case class VecBucketState(members: List[VecMember], saturated: Boolean)

  /** Near-duplicate vector pair with the EXACT cosine (verified online). */
  final case class VecNearDupPair(vec_a: Long, vec_b: Long, cos: Double,
      ts: Timestamp)

  /** The VECTOR counterpart of [[nearDupPairs]]: online embedding near-dup
    * detection via random-hyperplane LSH. Arriving vectors are coded with
    * the same native `hyperplane_code` expression as the batch operator,
    * the code is banded into `bands` bit-blocks, and each (band, block)
    * bucket keeps its member VECTORS in state so candidates are verified
    * by EXACT cosine at arrival (sequential summation — bit-identical to
    * the batch kernel, so the emitted cosines equal
    * Similarity.lshCosinePairs' on the same pairs; agreement-tested).
    * With bands = 1 the bucketing is exactly the batch operator's
    * full-code bucket. Same state bounds as the text op: `maxBucket`
    * saturation + event-time bucket closure; at-least-once emission per
    * pair (up to `bands`), collapsible as in [[nearDupPairs]].
    */
  def nearDupVectorPairs(spark: SparkSession, emb: DataFrame, planes: Int = 16,
      bands: Int = 1, threshold: Double = 0.9, maxBucket: Int = 500,
      watermark: String = "10 minutes", gap: String = "30 minutes",
      collapsePairs: Boolean = false): Dataset[VecNearDupPair] = {
    import spark.implicits._
    require(planes % bands == 0, "bands must divide planes")
    require(planes <= 63, "hyperplane codes are a single long")
    val width = planes / bands
    val mask = (1L << width) - 1

    val coded = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("ts"))
      .withColumn("code", graft.functions.SketchExpr.hyperplane_code(col("v"), planes))
    val banded = coded.select(
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => call_function("shiftright", col("code"), b * width).bitwiseAND(mask)))
          .as(Seq("band", "bucket")),
        col("vec_id"), col("v"), col("ts"))
      .withWatermark("ts", watermark)
      .as[BandedVec]

    def cosSeq(a: Seq[Double], b: Seq[Double]): Double = {
      var dotAB = 0.0; var dotAA = 0.0; var dotBB = 0.0
      var i = 0
      while (i < a.length) {
        dotAB += a(i) * b(i); dotAA += a(i) * a(i); dotBB += b(i) * b(i)
        i += 1
      }
      dotAB / (math.sqrt(dotAA) * math.sqrt(dotBB))
    }

    val pairs = EventTimeState.closing(banded.groupByKey(d => (d.band, d.bucket)), gap,
        (d: BandedVec) => d.ts) { (_, rows, prev: Option[VecBucketState]) =>
      var s = prev.getOrElse(VecBucketState(Nil, saturated = false))
      val out = Vector.newBuilder[VecNearDupPair]
      rows.foreach { d =>
        if (!s.saturated && !s.members.exists(_.vec_id == d.vec_id)) {
          s.members.foreach { m =>
            val c = cosSeq(m.v, d.v)
            if (c >= threshold)
              out += VecNearDupPair(math.min(m.vec_id, d.vec_id),
                math.max(m.vec_id, d.vec_id), c, d.ts)
          }
          s =
            if (s.members.length + 1 >= maxBucket)
              VecBucketState(Nil, saturated = true)
            else VecBucketState(VecMember(d.vec_id, d.v) :: s.members, false)
        }
      }
      (s, out.result())
    }
    if (!collapsePairs) pairs
    else pairs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("vec_a", "vec_b")
  }
}
