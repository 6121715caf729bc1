package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.ops.{Cep, CepMatch}

/** Buffered `(turn_idx, ts_sec, symbol)` rows of one open conversation,
  * in arrival order.
  */
final case class CepConvState(rows: Vector[(Int, Long, String)])

/** Streaming CEP: the event-time twin of [[graft.ops.Cep]]. Turns are
  * symbolized with the SAME codegen'd rule column, buffered per
  * conversation in keyed state, and when the watermark closes the
  * conversation ([[EventTimeState]]: `gap` after its newest event — the
  * session-window contract), the buffer is sorted by turn_idx and run
  * through the SAME [[Cep.matchConv]] kernel. Emission strictly at close
  * keeps the operator exactly-once in append mode: a pattern can never
  * emit early and then be invalidated by a late out-of-order turn,
  * because matches are only decided once the watermark proves the
  * conversation complete. That is Flink CEP's event-time contract.
  *
  * State law: one buffered symbol row (int, long, one-char string) per
  * turn of each OPEN conversation — bounded by open conversations × turns per
  * conversation, independent of stream length. The only exchange is the
  * keyed-state shuffle on conv_id, identical to the batch plan's single
  * exchange amortized over arrival.
  */
object StreamCep {

  def matches(turns: DataFrame, rules: Seq[(Char, Column)], pattern: String,
      watermark: String = "10 minutes", gap: String = "30 minutes"): Dataset[CepMatch] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val grouped = turns
      .withWatermark("ts", watermark)
      .select(col("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"),
        col("ts"),
        coalesce(col("ts").cast("long"), lit(0L)).as("ts_sec"),
        Cep.symbolize(rules).as("s"))
      .as[(String, Int, Timestamp, Long, String)]
      .groupByKey(_._1)
    EventTimeState.closing(grouped, gap, (r: (String, Int, Timestamp, Long, String)) => r._3)(
      (_, rows, prev: Option[CepConvState]) =>
        (CepConvState(prev.fold(Vector.empty[(Int, Long, String)])(_.rows) ++
          rows.map(r => (r._2, r._4, r._5))), Seq.empty[CepMatch]),
      // closed by the watermark: match the sorted buffer once
      Some((conv: String, s: CepConvState) => Cep.matchConv(conv,
        s.rows.sortBy(_._1), java.util.regex.Pattern.compile(pattern)).iterator))
  }

  /** The transcript instantiation, streaming twin of [[Cep.searchRuns]]. */
  def searchRuns(turns: DataFrame, watermark: String = "10 minutes",
      gap: String = "30 minutes"): Dataset[CepMatch] =
    matches(turns, Cep.transcriptRules, Cep.searchRunPattern, watermark, gap)
}
