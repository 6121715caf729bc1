package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.io.LocalFs

/** The one file-stream query shape behind every `start`
  * ([[StreamValidate]], [[StreamQuality]], [[StreamAnn]],
  * [[StreamCuration]]):
  *
  *   readStream(schema'd parquet dir) → in-plan stage → foreachBatch write
  *
  * The source is a parquet-dir file stream (the local stand-in for the
  * Iceberg streaming source — no Iceberg jars offline, SURVEY.md §7.6;
  * swapping `parquet` for `format("iceberg")` here is the only production
  * delta), `maxFilesPerTrigger` files per micro-batch. The query is
  * checkpointed in append mode: stop/restart resumes from the offsets, and
  * the per-batch write's sink manifest suppresses the replayed batch.
  *
  * The session's `file:` I/O goes through [[graft.io.LocalFs]] before the
  * source and the checkpoint are opened: Hadoop's local filesystem would
  * otherwise start a `chmod` or `readlink` process for most checkpoint,
  * state-store and sink files, hundreds per micro-batch.
  */
private[streaming] object FileStream {

  /** Starts the query and returns its handle. `stage` builds the part of
    * the plan that must live in the stream (state, watermark) on the
    * source frame; `writeBatch` commits each micro-batch of its output.
    * `availableNow` drains the backlog at max rate then stops (throughput
    * benchmarking, batch catch-up after a restart); otherwise the query
    * tails the directory on a 1-second processing-time trigger.
    */
  def start(spark: SparkSession, schema: StructType, inputDir: String,
      maxFilesPerTrigger: Int, checkpointDir: String, availableNow: Boolean)(
      stage: DataFrame => DataFrame)(
      writeBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    LocalFs.use(spark)
    val source = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    stage(source).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime("1 second"))
      .foreachBatch(writeBatch)
      .start()
  }
}
