package graft.streaming

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

/** Per-conversation state kept while the conversation is open: the turn
  * indices already emitted, the highest of them and the replays dropped.
  */
final case class ConvState(seen: mutable.HashSet[Int], maxTurn: Int, dups: Long)

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
      val s0 = prev.getOrElse(ConvState(mutable.HashSet.empty, -1, 0L))
      val seen = s0.seen
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
      (ConvState(seen, maxTurn, dups), out)
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
