package graft

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{CepConvState, ConvState, EventTimeState, LshBucketState}

/** Every keyed-state operator's state comes back equal from the
  * `(state, deadline)` encoder that [[EventTimeState.closing]] stores it
  * with, and the largest state a default `StreamCuration` bucket can hold
  * encodes below `spark.kryoserializer.buffer.max` (64 MB by default).
  */
class StateEncoderSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  /** The stored row of `(s, deadline)`: its state bytes' length and the
    * pair decoded from it.
    */
  private def roundTrip[S: ClassTag](s: S, deadline: Long): (Int, (S, Long)) = {
    val enc = encoderFor(EventTimeState.stateEncoder[S])
    val row = enc.createSerializer()((s, deadline))
    (row.getBinary(0).length, enc.resolveAndBind().createDeserializer()(row))
  }

  private def same[S: ClassTag](s: S, deadline: Long = 42L): Boolean =
    roundTrip(s, deadline)._2 == (s -> deadline)

  // small values collide often; the extremes and the sign boundary too
  private val turn: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(-8, 8),
    3 -> Gen.choose(Int.MinValue, Int.MaxValue),
    1 -> Gen.oneOf(Int.MinValue, Int.MinValue + 1, -1, 0, 1, Int.MaxValue - 1, Int.MaxValue))

  private def conv(turns: Iterable[Int], maxTurn: Int, dups: Long) =
    ConvState(mutable.HashSet.from(turns), maxTurn, dups)

  test("DedupState's ConvState round-trips: empty, extreme and 50k-turn seen sets") {
    check(Prop.forAll(Gen.listOf(turn), turn, Gen.posNum[Long], Gen.long) {
      (turns, maxTurn, dups, deadline) => same(conv(turns, maxTurn, dups), deadline)
    })
    assert(same(conv(Nil, -1, 0L)))
    assert(same(conv(Seq(Int.MinValue, -1, 0, Int.MaxValue), Int.MaxValue, 3L), Long.MaxValue))
    assert(same(conv(0 until 50000, 49999, 7L), Long.MinValue))
  }

  test("StreamCep's CepConvState round-trips: empty and long buffers, in arrival order") {
    val row = Gen.zip(turn, Gen.long, Gen.oneOf("u", "a", "s", "c", "g"))
    check(Prop.forAll(Gen.listOf(row)) { rows => same(CepConvState(rows.toVector)) })
    assert(same(CepConvState(Vector.empty)))
    assert(same(CepConvState(Vector.tabulate(50000)(i => (50000 - i, i * 7L, "uas"(i % 3).toString)))))
  }

  /** Array payloads compare by reference, so buckets compare as values. */
  private def bucketSame(s: LshBucketState): Boolean = {
    def v(b: LshBucketState) = (b.members.map { case (id, w) => (id, w.toSeq) }, b.saturated)
    val (_, (back, deadline)) = roundTrip(s, 42L)
    v(back) == v(s) && deadline == 42L
  }

  test("LshBucket's state round-trips: empty, single, saturated and generated buckets") {
    val member = Gen.zip(Gen.long, Gen.listOfN(16, Gen.long).map(_.toArray))
    check(Prop.forAll(Gen.listOf(member), Gen.oneOf(false, true)) { (ms, saturated) =>
      bucketSame(LshBucketState(ms.toVector, saturated))
    })
    assert(bucketSame(LshBucketState(Vector.empty, saturated = false)))
    assert(bucketSame(LshBucketState(Vector(7L -> Array.emptyLongArray), saturated = false)))
    assert(bucketSame(LshBucketState(Vector.empty, saturated = true)))
  }

  test("the largest default StreamCuration bucket encodes below the 64 MB Kryo buffer") {
    // maxBucket = 100000 saturates at its 100000th member, so a bucket
    // holds at most 99,999 signatures of numHashes = 64 words
    val cfg = graft.streaming.StreamCuration.Config("in", "out", "ck")
    val rnd = new scala.util.Random(11)
    val largest = LshBucketState(Vector.tabulate(cfg.maxBucket - 1)(i =>
      i.toLong -> Array.fill(cfg.numHashes)(rnd.nextLong())), saturated = false)
    val (bytes, (back, _)) = roundTrip(largest, 42L)
    info(s"encoded: $bytes bytes")
    assert(bytes < 64 * 1024 * 1024, s"$bytes bytes")
    assert(bytes > 99999 * 64 * 8, s"$bytes bytes") // every word is stored
    assert(back.members.length == 99999 && !back.saturated)
    assert(back.members.indices.forall(i => back.members(i)._1 == i &&
      java.util.Arrays.equals(back.members(i)._2, largest.members(i)._2)))
  }
}
