package graft.streaming

import java.sql.Timestamp
import scala.reflect.ClassTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.unsafe.types.UTF8String

/** The one event-time closing rule behind every keyed-state operator
  * ([[DedupState]], [[StreamCep]], [[StreamCuration]], [[StreamDedup]]).
  * A key's state closes `gap` after the newest event time seen for it, so
  * state is bounded by OPEN keys, not by stream length. Rows later than
  * the watermark are dropped by Spark before they reach the fold and
  * surface in `numRowsDroppedByWatermark`.
  *
  * The deadline is kept next to the operator's state as `(S, Long)`,
  * because `GroupState` has no getter for the timeout it last set. It is
  * the newest event time + gap, with three guards:
  *  - clamped to watermark+1: one micro-batch can span far more event
  *    time than `gap` (a backfill batch spans years), so a key's close
  *    time may already be behind the batch-end watermark. Spark rejects
  *    such a timestamp; watermark+1 closes the key at the next batch,
  *    which is the same semantics;
  *  - watermark + max(gap, 1 ms) when every row's event time is null, or
  *    the key's state would never close;
  *  - never earlier than the previous deadline: an older or all-null-ts
  *    batch must not close a key before its newest event time + gap.
  *
  * Storage: every operator's state is plain Scala data, stored as one
  * Kryo-encoded binary field next to the deadline ([[stateEncoder]]).
  * Spark decodes a binary field as it is, while a state holding a
  * collection would decode through a `MapObjects` loop whose lambda
  * variable is numbered anew in every plan, compiling one more state
  * decoder per micro-batch. A key's encoded state must stay below
  * `spark.kryoserializer.buffer.max` (64 MB by default).
  */
private[graft] object EventTimeState {

  /** The stored form of a key's `(state, deadline)`. */
  def stateEncoder[S: ClassTag]: Encoder[(S, Long)] =
    Encoders.tuple(Encoders.kryo[S], Encoders.scalaLong)

  /** Milliseconds of a day/time interval such as "30 minutes".
    * Month-bearing intervals have no fixed length and would silently
    * become 0 ms (every key closing at the next watermark), so they are
    * rejected.
    */
  private def gapMs(gap: String): Long = {
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(gap))
    require(iv.months == 0,
      s"state gap must be day/time-based, got month-bearing interval '$gap'")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Keyed state under the closing rule. `fold` receives the key, its
    * rows of one micro-batch and its open state, and returns the new
    * state and the rows to emit now; `close`, if given, emits the rows due
    * when the watermark closes the key, after which its state is removed.
    * `gap` is parsed before the plan is built, so a bad gap fails at the
    * call.
    */
  def closing[K, V, S: ClassTag, U: Encoder](grouped: KeyValueGroupedDataset[K, V],
      gap: String, ts: V => Timestamp)(
      fold: (K, Iterator[V], Option[S]) => (S, Seq[U]),
      close: Option[(K, S) => Iterator[U]] = None): Dataset[U] = {
    val gapLen = gapMs(gap)
    grouped.flatMapGroupsWithState[(S, Long), U](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: K, rows: Iterator[V], state: GroupState[(S, Long)]) =>
        if (state.hasTimedOut) {
          val (s, _) = state.get
          state.remove()
          close.fold(Iterator.empty[U])(_(key, s))
        } else {
          val prev = state.getOption
          var newest = Long.MinValue
          val tracked = rows.map { v =>
            val t = ts(v)
            if (t != null) newest = math.max(newest, t.getTime)
            v
          }
          val (s, out) = fold(key, tracked, prev.map(_._1))
          tracked.foreach(_ => ()) // rows the fold left unread still count
          val wm = state.getCurrentWatermarkMs()
          val next =
            if (newest != Long.MinValue) math.max(newest + gapLen, wm + 1)
            else wm + math.max(gapLen, 1L)
          val deadline = prev.fold(next)(p => math.max(p._2, next))
          state.update((s, deadline))
          state.setTimeoutTimestamp(deadline)
          out.iterator
        }
    }(stateEncoder[S], implicitly[Encoder[U]])
  }
}
