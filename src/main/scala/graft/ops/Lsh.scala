package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one LSH candidate rule every near-duplicate generator shares, batch
  * and stream alike: how a sketch becomes bucket keys, how an oversized
  * bucket is dropped, and how co-bucketed rows become candidate pairs.
  * Callers keep their own materialization barrier, their own score and
  * their own collapse of a pair found in several buckets.
  *
  * Batch/stream parity rests on the band keys: `Dedup.minhashLshPairs`,
  * `StreamDedup` and `StreamCuration` bucket a signature with the same
  * [[minhashBand]], so a pair shares a batch bucket exactly when it shares
  * a stream bucket.
  */
private[graft] object Lsh {

  /** Bucket key of MinHash band `b`: xxhash64 of the signature's r-long
    * slice starting at position b*r (1-based `slice`).
    */
  def minhashBand(sig: Column, b: Column, r: Int): Column =
    xxhash64(slice(sig, b * r + 1, lit(r)))

  /** Bucket key of bit-block `b`: the `width` bits of `code` from bit
    * b*width up. A pair within Hamming distance < bands agrees on one block.
    */
  def bitBlock(code: Column, b: Column, width: Int): Column =
    call_function("shiftright", code, b * width).bitwiseAND((1L << width) - 1)

  /** (position, key) rows of `key(b)` for b in 0 until n — one row per
    * band, for a `select`'s generator; name the two columns with `.as`.
    */
  def bandRows(n: Int)(key: Column => Column): Column =
    posexplode(transform(sequence(lit(0), lit(n - 1)), key))

  /** The rows of `keyed` whose bucket (the `key` columns) holds at most
    * `maxBucket` rows. A bucket over the cap is O(n²) pairs of low-entropy
    * noise, so it is dropped whole. One count row per bucket from a
    * map-side-combined hash aggregate, joined back `left_semi` — never a
    * window count, which would sort every keyed row.
    */
  def capped(keyed: DataFrame, maxBucket: Int, key: String*): DataFrame = {
    val underCap = keyed.groupBy(key.map(col): _*).agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket).select(key.map(col): _*)
    keyed.join(underCap, key, "left_semi")
  }

  /** Candidate pairs `(a, b)` of `id`s with a < b that share every `key`
    * column: an equi self-join on the bucket that carries ids only, so no
    * payload is dragged through it. A pair that shares several buckets
    * comes out once per bucket.
    */
  def selfJoin(keyed: DataFrame, id: String, a: String, b: String,
      key: String*): DataFrame =
    keyed.as("a").join(keyed.as("b"),
        key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as(a), col(s"b.$id").as(b))
}
