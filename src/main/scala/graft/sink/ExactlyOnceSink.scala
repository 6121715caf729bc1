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
    * job, [[ManifestSink.write]]: each task writes its partition's rows to
    * one parquet file, and the `_commits/<id>` marker is the only commit
    * (no `_SUCCESS`, no write-job SQL metrics, no
    * `spark.sql.files.maxRecordsPerFile` split). A foreachBatch DataFrame
    * re-executes its whole plan per action, including any upstream
    * STATEFUL operator, so a second action would recompute the dedup state
    * op and double-count its watermark-drop metrics. The plan's observed
    * metrics (`graft_out`) still reach the query's progress: the job runs
    * the micro-batch's own RDD. `partition_id` records the writing
    * partition for the per-partition metrics view. Dictionary encoding is
    * off: high-entropy message text only burns CPU before the encoder
    * falls back.
    */
  def writeBatch(decisions: DataFrame, batchId: Long): Unit =
    table.publish(batchId)(ManifestSink.write(
      decisions.withColumn("partition_id", spark_partition_id()), _,
      Map("parquet.enable.dictionary" -> "false")))

  /** Committed-only view of one output kind, each with `batch_id`:
    *  - `decisions`: the written table (decision columns + `partition_id`);
    *  - `valid` / `rejected` / `webdata`: [[ValidationPipeline.routes]];
    *  - `metrics`: rows validated / rejected and the ts range per
    *    (batch, partition) — per-partition lineage (north rule).
    */
  def read(spark: SparkSession, kind: String): DataFrame = {
    // the kind is checked before the table is read, so an unknown one
    // throws even while nothing is committed
    val view: DataFrame => DataFrame = kind match {
      case "decisions" => identity
      case "valid" => ValidationPipeline.routes(_, "batch_id")._1
      case "rejected" => ValidationPipeline.routes(_, "batch_id")._2
      case "webdata" => ValidationPipeline.routes(_, "batch_id")._3
      case "metrics" => _.groupBy("batch_id", "partition_id")
        .agg(
          sum(when(col("decision") === "valid", 1L).otherwise(0L)).as("rows_validated"),
          sum(when(col("decision") === "rejected", 1L).otherwise(0L)).as("rows_rejected"),
          min("ts").as("ts_min"), max("ts").as("ts_max"))
        .select("partition_id", "rows_validated", "rows_rejected", "ts_min", "ts_max",
          "batch_id")
      case other => throw new IllegalArgumentException(s"unknown sink output '$other'")
    }
    val dec = table.read(spark)
    if (dec.columns.isEmpty) dec else view(dec) // empty: nothing committed yet
  }
}
