package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.ExactlyOnceSink

/** Output checks; each failed check counts the run's files as failed. */
object Checks {
  val keyCols = Seq("conv_id", "turn_idx", "decision", "reason", "uuid")

  def committed(spark: SparkSession, out: File): DataFrame =
    new ExactlyOnceSink(out.getPath).read(spark, "decisions")

  /** Order-independent (count, xor, sum mod p) of the rows' key-column hashes. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.select(xxhash64(keyCols.map(col): _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(pmod(col("h"), lit(1000000007L))))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1), l(2))
  }

  /** For each input file: (first batch, last batch, rows) of its committed
    * rows. The file of a row follows from its (conv_id, turn_idx) by the
    * generator's layout.
    */
  def fileBatches(spark: SparkSession, out: File, l: Layout): Map[Int, (Long, Long, Long)] =
    if (commitTimes(out).isEmpty) Map.empty
    else {
      val (o, t, r) = (l.openConvs, l.turnsPerConv, l.rowsPerFile)
      committed(spark, out)
        .withColumn("c", expr("cast(substr(conv_id, 6) as bigint)"))
        .withColumn("file", expr(s"cast((((c div $o) * $t + turn_idx) * $o + c % $o) div $r as int)"))
        .groupBy("file")
        .agg(min(col("batch_id").cast("long")), max(col("batch_id").cast("long")), count(lit(1)))
        .collect()
        .map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
        .toMap
    }

  /** Commit-marker modification time by batch id. */
  def commitTimes(out: File): Map[Long, Long] =
    Option(new File(out, "_commits").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .map(f => f.getName.toLong -> Fs.mtimeMs(f)).toMap

  /** Every committed key once, and every committed decision equal to batch
    * `decide`'s decision for that key.
    */
  def decisionsMatch(spark: SparkSession, out: File, ref: DataFrame): Boolean = {
    val c = committed(spark, out).select(keyCols.map(col): _*).as("a")
    val key = Seq("conv_id", "turn_idx")
    val same = keyCols.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    val r = c.join(ref.as("b"), key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _), "left")
      .agg(count(lit(1)), countDistinct(col("a.conv_id"), col("a.turn_idx")),
        sum(when(same, 0L).otherwise(1L)))
      .head()
    // ref holds each key once, so a repeated committed key shows as rows > keys
    r.getLong(0) == r.getLong(1) && (r.isNullAt(2) || r.getLong(2) == 0L)
  }

  /** Rows in = committed + replays suppressed + dropped late + null text. */
  def identity(in: Input, r: StreamRun, withDedup: Boolean): Boolean = {
    val replays = if (withDedup) in.planned.replays else 0L
    r.rowsIn == in.planned.rowsIn &&
      r.committed + replays + r.droppedLate + in.planned.nullText == in.planned.rowsIn
  }

  def everyFileOnce(r: StreamRun, files: Int): Boolean =
    r.fileBatch.keySet == (0 until files).toSet &&
      r.fileBatch.values.forall { case (a, b, _) => a == b }

  def drainRep(ctx: Ctx, in: Input, r: StreamRun, ref: DataFrame,
      refPrint: Option[(Long, Long, Long)], withDedup: Boolean, firstDropped: Long): Unit = {
    val files = everyFileOnce(r, in.layout.files)
    val ident = identity(in, r, withDedup)
    val decisions =
      refPrint.map(_ == fingerprint(committed(ctx.spark, r.out)))
        .getOrElse(decisionsMatch(ctx.spark, r.out, ref))
    val late = r.droppedLate <= in.planned.late && r.droppedLate == firstDropped
    ctx.report.tally(in.layout.files, files && ident && decisions && late,
      s"files=$files identity=$ident (in ${r.rowsIn}/${in.planned.rowsIn}, committed " +
        s"${r.committed}, dropped ${r.droppedLate}, planned ${in.planned}) decisions=$decisions " +
        s"late=$late (first $firstDropped)")
  }
}
