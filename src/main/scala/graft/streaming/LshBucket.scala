package graft.streaming

import scala.collection.mutable

/** One LSH bucket's state: its members' `(id, payload words)` in arrival
  * order, and whether it saturated.
  */
final case class LshBucketState(members: Vector[(Long, Array[Long])], saturated: Boolean)

/** The one online LSH bucket fold of [[StreamDedup]]'s text and vector
  * pairs and [[StreamCuration]]'s MinHash lanes. The caller supplies a
  * row's id, its payload as 8-byte words and the score of two payloads;
  * the fold skips a row whose id is already a member, scores every other
  * row against every member, and then adds it, unless that makes
  * `maxBucket`: the bucket then saturates and frees its members, so its
  * later rows match nothing. A degenerate bucket is O(n²) pairs of
  * near-zero signal; at stream scale it must cost neither memory nor
  * output. The state is decoded once per key and micro-batch.
  */
private[streaming] object LshBucket {

  /** A bucket whose one member is `id`, with no payload. */
  def single(id: Long): LshBucketState = LshBucketState(Vector(id -> Array.emptyLongArray), false)

  /** The fraction of equal words: the Jaccard estimate of two MinHash signatures. */
  def agreement(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Folds one micro-batch of `rows` into a bucket. `emit` receives each
    * row that is not yet a member, with the (member id, score) of every
    * member scoring >= `threshold`, and must consume them before it
    * returns. `score` gets the member's payload first.
    */
  def fold[R, U](prev: Option[LshBucketState], rows: Iterator[R], maxBucket: Int,
      threshold: Double)(id: R => Long, words: R => Array[Long],
      score: (Array[Long], Array[Long]) => Double)(
      emit: (R, Iterator[(Long, Double)]) => IterableOnce[U]): (LshBucketState, Seq[U]) = {
    val s = prev.getOrElse(LshBucketState(Vector.empty, false))
    val members = mutable.LinkedHashMap.from(s.members)
    var saturated = s.saturated
    val out = Vector.newBuilder[U]
    rows.foreach { r =>
      if (saturated) out ++= emit(r, Iterator.empty) // no members left to match
      else if (!members.contains(id(r))) {
        val w = words(r)
        out ++= emit(r, members.iterator.map { case (m, mw) => (m, score(mw, w)) }
          .filter(_._2 >= threshold))
        if (members.size + 1 >= maxBucket) {
          saturated = true
          members.clear()
        } else {
          require(members.isEmpty || w.length == members.head._2.length,
            s"payloads of one LSH bucket must share one width, got ${w.length}")
          members(id(r)) = w
        }
      }
    }
    (LshBucketState(members.toVector, saturated), out.result())
  }
}
