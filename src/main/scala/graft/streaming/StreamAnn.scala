package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.io.LocalFs
import graft.sink.ManifestSink

/** ONLINE similarity serving: a stream of query vectors answered from the
  * persisted IVF index — the serving half of the build/serve split,
  * running continuously.
  *
  *   readStream(queries) → per-batch `ivfTopKIndexed` → exactly-once sink
  *
  * The index path is resolved through its `CURRENT` pointer ON EVERY
  * MICRO-BATCH (ivfTopKIndexed resolves at call time), so a retrain
  * published mid-stream (`rebuildIvfIndex` / `publishVersion`) serves the
  * NEXT batch with the new snapshot and zero coordination — the ANN
  * analogue of StreamValidate's per-batch catalog refresh, and the reason
  * versions are immutable: the in-flight batch keeps its consistent file
  * set while the swap lands.
  *
  * Scale shape: per batch this is the serving plan the index exists for —
  * probe-list directory pruning at file listing, broadcast probes,
  * bounded-heap top-k; the query stream itself is tiny relative to the
  * index, so the stream adds no state and no new shuffle class.
  */
object StreamAnn {

  final case class Config(
      indexDir: String,
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      k: Int = 10,
      nprobe: Int = 4,
      maxFilesPerTrigger: Int = 4,
      availableNow: Boolean = false)

  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    LocalFs.use(spark)
    val sink = new ManifestSink(cfg.outDir)
    spark.readStream
      .schema("q_id long, embedding array<double>, ts timestamp")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .outputMode("append")
      .trigger(if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime("1 second"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink.writeBatch(
          graft.ops.Similarity.ivfTopKIndexed(cfg.indexDir,
            df.select("q_id", "embedding"), cfg.k, cfg.nprobe), id)
      }
      .start()
  }

  /** Committed results across all batches. */
  def readResults(spark: SparkSession, outDir: String): DataFrame =
    new ManifestSink(outDir).read(spark)
}
