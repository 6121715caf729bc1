package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.streaming.SeenTurns

/** The dedup state's binary seen-turn form behaves as the `Set[Int]` it
  * replaced: carried across micro-batches through `decode`/`encode`, it
  * holds the same turns after every insert, a duplicate insert is
  * reported and changes nothing, and the bytes are the distinct turns in
  * ascending order, 4 each.
  */
class SeenTurnsSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // small values collide often (duplicate inserts); the extremes and the
  // sign boundary test the ordering
  private val turn: Gen[Int] = Gen.frequency(
    4 -> Gen.choose(-8, 8),
    3 -> Gen.choose(Int.MinValue, Int.MaxValue),
    1 -> Gen.oneOf(Int.MinValue, Int.MinValue + 1, -1, 0, 1, Int.MaxValue - 1, Int.MaxValue))

  private def ints(bytes: Array[Byte]): Seq[Int] = {
    val buf = java.nio.ByteBuffer.wrap(bytes).asIntBuffer()
    Seq.fill(buf.remaining)(buf.get())
  }

  test("insert and contains agree with Set[Int] across micro-batches") {
    check(Prop.forAll(Gen.listOf(Gen.listOf(turn)), Gen.listOf(turn)) { (batches, probes) =>
      var stored = SeenTurns.empty
      var set = Set.empty[Int]
      batches.forall { batch =>
        val seen = SeenTurns.decode(stored)
        val ok = batch.forall { t =>
          val was = seen.contains(t)
          val added = seen.add(t)
          val agree = was == set.contains(t) && added == !was && seen.contains(t)
          set += t
          agree
        }
        stored = SeenTurns.encode(seen)
        ok && ints(stored) == set.toSeq.sorted
      } && (batches.flatten ++ probes).forall(t => SeenTurns.decode(stored).contains(t) == set.contains(t))
    })
  }

  test("the extremes and zero") {
    val all = Seq(Int.MaxValue, 0, Int.MinValue, -1, Int.MaxValue, Int.MinValue)
    val stored = SeenTurns.encode(all.toSet)
    assert(stored.length == 16)
    assert(ints(stored) == Seq(Int.MinValue, -1, 0, Int.MaxValue))
    val seen = SeenTurns.decode(stored)
    all.foreach(t => assert(seen.contains(t), t))
    Seq(1, -2, Int.MinValue + 1, Int.MaxValue - 1).foreach(t => assert(!seen.contains(t), t))
    assert(SeenTurns.decode(SeenTurns.empty).isEmpty)
    assert(SeenTurns.encode(Set.empty[Int]).isEmpty)
  }
}
