package graft.streaming

import java.nio.ByteBuffer
import scala.collection.mutable

/** One LSH bucket's state: member ids and their payload words (one width,
  * concatenated) as big-endian 8-byte longs. Binary fields decode as they
  * are; member structs decoded through a `MapObjects` loop numbered anew in
  * every plan, so each micro-batch compiled one more state decoder.
  */
final case class LshBucketState(ids: Array[Byte], words: Array[Byte], saturated: Boolean)

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
  def single(id: Long): LshBucketState = LshBucketState(bytes(Array(id)), Array.emptyByteArray, false)

  def ids(s: LshBucketState): Array[Long] = longs(s.ids)

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
    val s = prev.getOrElse(LshBucketState(Array.emptyByteArray, Array.emptyByteArray, false))
    val ids = longs(s.ids)
    val flat = longs(s.words)
    val width = if (ids.isEmpty) 0 else flat.length / ids.length
    val members = mutable.LinkedHashMap.from(ids.indices.map(i =>
      ids(i) -> java.util.Arrays.copyOfRange(flat, i * width, (i + 1) * width)))
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
    (LshBucketState(bytes(members.keys.toArray), bytes(Array.concat(members.values.toSeq: _*)),
      saturated), out.result())
  }

  private def longs(b: Array[Byte]): Array[Long] = {
    val a = new Array[Long](b.length / 8)
    ByteBuffer.wrap(b).asLongBuffer().get(a)
    a
  }

  private def bytes(a: Array[Long]): Array[Byte] = {
    val b = ByteBuffer.allocate(a.length * 8)
    b.asLongBuffer().put(a)
    b.array()
  }
}
