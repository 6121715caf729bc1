package graft.streaming

import java.nio.ByteBuffer
import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Turn

/** Deduplicated turn with arrival-order lineage. */
final case class DedupedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp,
    out_of_order: Boolean) // arrived with a lower turn_idx than already seen

/** Per-conversation state kept while the conversation is open. `seen`
  * holds the turn indices already emitted as [[SeenTurns]] bytes: Spark
  * decodes a binary field as it is, while a `Set[Int]` (and, in Spark 4.1,
  * an `Array[Int]` too) decodes through a `MapObjects` loop whose lambda
  * variable is numbered anew in every plan, so each micro-batch compiled
  * one more state decoder while the batch's other tasks waited for it.
  */
final case class ConvState(seen: Array[Byte], maxTurn: Int, dups: Long)

/** The stored form of a [[ConvState]]'s seen turns: distinct turn indices
  * in ascending order, 4 big-endian bytes each. The fold decodes it once
  * per key and micro-batch into a hash set and encodes it once when it
  * returns the state, so each row costs one hash lookup however many turns
  * the conversation already has.
  */
private[graft] object SeenTurns {

  val empty: Array[Byte] = Array.emptyByteArray

  def decode(seen: Array[Byte]): mutable.HashSet[Int] = {
    val ints = ByteBuffer.wrap(seen).asIntBuffer()
    val set = mutable.HashSet.empty[Int]
    set.sizeHint(ints.remaining)
    while (ints.hasRemaining) set += ints.get()
    set
  }

  def encode(set: collection.Set[Int]): Array[Byte] = {
    val sorted = set.toArray
    java.util.Arrays.sort(sorted)
    val bytes = ByteBuffer.allocate(sorted.length * 4)
    bytes.asIntBuffer().put(sorted)
    bytes.array()
  }
}

/** conv_id-keyed stateful dedup + ordering (north rule: "per-conversation
  * answer-dedup and ordering state" via [[EventTimeState]]).
  *
  * Semantics: FIRST occurrence of each (conv_id, turn_idx) wins; replays
  * are dropped and counted in state. `out_of_order` flags turns arriving
  * below the conversation's max turn_idx (ordering lineage for downstream
  * consumers). A conversation closes `gap` after its newest event time
  * under [[EventTimeState]]'s closing rule, so state size is bounded by
  * the number of OPEN conversations, not the stream length — the property
  * that keeps this operator viable at 10^12 turns. Late rows surface in
  * `numRowsDroppedByWatermark` (collected into the metrics table).
  *
  * The reference has no stateful layer at all (its Kafka Streams topology
  * is stateless, TopologyProducer.java:126-140); this is the BASELINE.json
  * mandate, not a port.
  */
object DedupState {

  def dedup(spark: SparkSession, turns: Dataset[Turn], watermark: String = "10 minutes",
      gap: String = "30 minutes"): Dataset[DedupedTurn] = {
    import spark.implicits._
    EventTimeState.closing(
        turns.withWatermark("ts", watermark).groupByKey(_.conv_id), gap,
        (t: Turn) => t.ts) { (_, rows, prev: Option[ConvState]) =>
      val s0 = prev.getOrElse(ConvState(SeenTurns.empty, -1, 0L))
      val seen = SeenTurns.decode(s0.seen)
      var maxTurn = s0.maxTurn
      var dups = s0.dups
      val out = rows.flatMap { t =>
        if (!seen.add(t.turn_idx)) {
          dups += 1
          None
        } else {
          val ooo = t.turn_idx < maxTurn
          maxTurn = math.max(maxTurn, t.turn_idx)
          Some(DedupedTurn(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, ooo))
        }
      }.toVector // drain before returning the state
      (ConvState(SeenTurns.encode(seen), maxTurn, dups), out)
    }
  }

  /** Batch-mode equivalent (backfill path): first-wins by arrival order is
    * not defined for an unordered batch, so batch dedup uses the stable
    * (conv_id, turn_idx) identity with ts as tiebreak — matches the
    * streaming result whenever the stream delivers in ts order.
    */
  def dedupBatch(spark: SparkSession, turns: Dataset[Turn]): Dataset[Turn] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy($"conv_id", $"turn_idx")
      .orderBy($"ts".asc_nulls_last, $"role".asc)
    turns.toDF()
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
      .as[Turn]
  }
}
