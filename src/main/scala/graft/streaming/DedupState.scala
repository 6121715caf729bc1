package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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

/** Per-conversation state kept while the conversation is open;
  * `deadline` is the event-time timeout last set (ms).
  */
final case class ConvState(seen: Set[Int], maxTurn: Int, dups: Long, deadline: Long)

/** conv_id-keyed stateful dedup + ordering (north rule: "per-conversation
  * answer-dedup and ordering state" via flatMapGroupsWithState).
  *
  * Semantics: FIRST occurrence of each (conv_id, turn_idx) wins; replays
  * are dropped and counted in state. `out_of_order` flags turns arriving
  * below the conversation's max turn_idx (ordering lineage for downstream
  * consumers). State is closed by EVENT-TIME timeout `gap` after the last
  * seen event time, so state size is bounded by the number of OPEN
  * conversations, not the stream length — the property that keeps this
  * operator viable at 10^12 turns. Rows later than the watermark are
  * dropped by Spark before reaching the state function and surface in
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
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    // month-bearing gaps have no fixed millisecond length and would
    // silently become 0 ms (every conversation closing at the next
    // watermark) — reject them up front
    require(iv.months == 0,
      s"dedup gap must be day/time-based, got month-bearing interval '$gap'")
    val gapMs = iv.days * 86400000L + iv.microseconds / 1000L
    turns
      .withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState[ConvState, DedupedTurn](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[Turn], state: GroupState[ConvState]) =>
          if (state.hasTimedOut) {
            // conversation closed by watermark: release all state
            state.remove()
            Iterator.empty
          } else {
            var s = state.getOption.getOrElse(ConvState(Set.empty, -1, 0L, Long.MinValue))
            var maxTs = Long.MinValue
            val out = rows.flatMap { t =>
              if (t.ts != null) maxTs = math.max(maxTs, t.ts.getTime)
              if (s.seen.contains(t.turn_idx)) {
                s = s.copy(dups = s.dups + 1)
                None
              } else {
                val ooo = t.turn_idx < s.maxTurn
                s = s.copy(seen = s.seen + t.turn_idx, maxTurn = math.max(s.maxTurn, t.turn_idx))
                Some(DedupedTurn(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts, ooo))
              }
            }.toVector // drain before updating state
            // close the conversation `gap` after its newest event time.
            // CLAMP to watermark+1: one micro-batch can span far more
            // event time than `gap` (a backfill/availableNow batch over
            // 10^12 turns spans years), so an old conversation's close
            // time may already be behind the batch-end watermark — Spark
            // rejects such a timestamp; watermark+1 expires it at the
            // next batch, which is the same semantics (already closed).
            // An all-null-ts batch still sets a deadline (state would
            // otherwise be retained forever). The deadline never moves
            // earlier: an older or all-null-ts batch must not close a
            // conversation before its newest event time + gap.
            val wm = state.getCurrentWatermarkMs()
            val next =
              if (maxTs != Long.MinValue) math.max(maxTs + gapMs, wm + 1)
              else wm + math.max(gapMs, 1L)
            s = s.copy(deadline = math.max(s.deadline, next))
            state.update(s)
            state.setTimeoutTimestamp(s.deadline)
            out.iterator
          }
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
