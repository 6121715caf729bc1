package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.validate.ValidationPipeline

/** Exactly-once routed sink for `foreachBatch`.
  *
  * The reference emits to `valid_data` / `blacklists` / `webdata` via three
  * independent producers with NO transactional coupling — a blacklist send
  * failure is even swallowed (TopologyProducer.java:286-290); the north rule
  * upgrades this to exactly-once. Each micro-batch is ONE write: the
  * decisions table, through the [[ManifestSink]] protocol (batch dir, then
  * an atomically published `_commits/<id>` marker; a replay is a no-op).
  * The routes are read-side views over the committed decisions, so one
  * marker commits every route of the batch at once — the output is
  * committed once per epoch, as in Flink's checkpointed sinks.
  */
final class ExactlyOnceSink(outDir: String) extends Serializable {

  private val table = new ManifestSink(outDir)

  def committedBatches(): Set[Long] = table.committedBatches()

  /** Write one decision micro-batch. Safe to call twice with the same id.
    *
    * The write is the ONLY execution of the micro-batch plan — one Spark
    * job. A foreachBatch DataFrame re-executes its whole plan per action,
    * including any upstream STATEFUL operator, so a second action would
    * recompute the dedup state op and double-count its watermark-drop
    * metrics. `partition_id` records the writing partition for the
    * per-partition metrics view. Dictionary encoding is off: high-entropy
    * message text only burns CPU before the encoder falls back.
    */
  def writeBatch(decisions: DataFrame, batchId: Long): Unit =
    table.publish(batchId) { dir =>
      decisions.withColumn("partition_id", spark_partition_id())
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .parquet(dir)
    }

  /** Committed-only view of one output kind, each with `batch_id`:
    *  - `decisions`: the written table (decision columns + `partition_id`);
    *  - `valid` / `rejected` / `webdata`: [[ValidationPipeline.routes]];
    *  - `metrics`: rows validated / rejected and the ts range per
    *    (batch, partition) — per-partition lineage (north rule).
    */
  def read(spark: SparkSession, kind: String): DataFrame = {
    val dec = table.read(spark)
    if (dec.columns.isEmpty) return dec // nothing committed yet
    lazy val (valid, rejected, webdata) = ValidationPipeline.routes(dec, "batch_id")
    kind match {
      case "decisions" => dec
      case "valid" => valid
      case "rejected" => rejected
      case "webdata" => webdata
      case "metrics" => dec.groupBy("batch_id", "partition_id")
        .agg(
          sum(when(col("decision") === "valid", 1L).otherwise(0L)).as("rows_validated"),
          sum(when(col("decision") === "rejected", 1L).otherwise(0L)).as("rows_rejected"),
          min("ts").as("ts_min"), max("ts").as("ts_max"))
        .select("partition_id", "rows_validated", "rows_rejected", "ts_min", "ts_max",
          "batch_id")
      case other => throw new IllegalArgumentException(s"unknown sink output '$other'")
    }
  }
}
