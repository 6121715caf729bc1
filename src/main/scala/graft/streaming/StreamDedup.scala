package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Lsh

/** One banded signature row flowing into a bucket's state. */
final case class BandedDoc(band: Int, bucket: Long, doc_id: Long, sig: Seq[Long],
    ts: Timestamp)

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
  * `minhash_sig` expression and [[Lsh]] band keys as batch); the only
  * exchange is the one Spark inserts for the (band, bucket)-keyed state —
  * exactly the batch plan's band-bucket shuffle, amortized over arrival.
  * State per bucket is <= maxBucket signatures and buckets close `gap`
  * after their newest event ([[EventTimeState]]), so state is bounded by
  * ACTIVE buckets, not stream length ([[LshBucket]]). A pair is emitted
  * AT LEAST ONCE, from up to `bands` buckets; consumers collapse it with
  * a set or `groupBy`.
  *
  * Cap semantics vs batch: the batch operator drops an over-`maxBucket`
  * bucket RETROACTIVELY (it sees the full corpus); a stream cannot, so a
  * bucket saturates PROSPECTIVELY — pairs emitted before saturation
  * stand. Parity with the batch candidate set is exact below the cap
  * (agreement-tested).
  */
object StreamDedup {

  def nearDupPairs(spark: SparkSession, docs: DataFrame, numHashes: Int = 64,
      bands: Int = 16, n: Int = 3, threshold: Double = 0.5,
      maxBucket: Int = 500, watermark: String = "10 minutes",
      gap: String = "30 minutes", textCol: String = "text"): Dataset[NearDupPair] = {
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    val sigs = docs
      .withColumn("sig", graft.functions.SketchExpr.minhash_sig(
        graft.ops.Dedup.shingles(col(textCol), n), numHashes))
      .select(col("doc_id"), col("sig"), col("ts"))
    val banded = sigs.select(
        Lsh.bandRows(bands)(Lsh.minhashBand(col("sig"), _, r)).as(Seq("band", "bucket")),
        col("doc_id"), col("sig"), col("ts"))
      .withWatermark("ts", watermark)
      .as[BandedDoc]

    EventTimeState.closing(banded.groupByKey(d => (d.band, d.bucket)), gap,
        (d: BandedDoc) => d.ts) { (_, rows, prev: Option[LshBucketState]) =>
      LshBucket.fold(prev, rows, maxBucket, threshold)(_.doc_id, _.sig.toArray,
          LshBucket.agreement) { (d, matches) =>
        matches.map { case (m, est) =>
          NearDupPair(math.min(m, d.doc_id), math.max(m, d.doc_id), est, d.ts) }
      }
    }
  }

  /** One banded hyperplane-code row flowing into a bucket's state. */
  final case class BandedVec(band: Int, bucket: Long, vec_id: Long,
      v: Seq[Double], ts: Timestamp)

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
    * pair (up to `bands`). Members are kept as the doubles' raw bits.
    */
  def nearDupVectorPairs(spark: SparkSession, emb: DataFrame, planes: Int = 16,
      bands: Int = 1, threshold: Double = 0.9, maxBucket: Int = 500,
      watermark: String = "10 minutes", gap: String = "30 minutes"): Dataset[VecNearDupPair] = {
    import spark.implicits._
    require(planes % bands == 0, "bands must divide planes")
    require(planes <= 63, "hyperplane codes are a single long")
    val width = planes / bands

    val coded = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("ts"))
      .withColumn("code", graft.functions.SketchExpr.hyperplane_code(col("v"), planes))
    val banded = coded.select(
        Lsh.bandRows(bands)(Lsh.bitBlock(col("code"), _, width)).as(Seq("band", "bucket")),
        col("vec_id"), col("v"), col("ts"))
      .withWatermark("ts", watermark)
      .as[BandedVec]

    def cosSeq(a: Array[Long], b: Array[Long]): Double = {
      var dotAB = 0.0; var dotAA = 0.0; var dotBB = 0.0
      var i = 0
      while (i < a.length) {
        val x = java.lang.Double.longBitsToDouble(a(i))
        val y = java.lang.Double.longBitsToDouble(b(i))
        dotAB += x * y; dotAA += x * x; dotBB += y * y
        i += 1
      }
      dotAB / (math.sqrt(dotAA) * math.sqrt(dotBB))
    }

    EventTimeState.closing(banded.groupByKey(d => (d.band, d.bucket)), gap,
        (d: BandedVec) => d.ts) { (_, rows, prev: Option[LshBucketState]) =>
      LshBucket.fold(prev, rows, maxBucket, threshold)(_.vec_id,
          _.v.iterator.map(java.lang.Double.doubleToRawLongBits).toArray, cosSeq) {
        (d, matches) => matches.map { case (m, c) =>
          VecNearDupPair(math.min(m, d.vec_id), math.max(m, d.vec_id), c, d.ts) }
      }
    }
  }
}
