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
  *
  * `start` also sets `spark.sql.artifact.isolation.enabled=false` on the
  * caller's session and leaves it set, as it leaves the [[graft.io.LocalFs]]
  * keys: every later query on that session, batch jobs included, and every
  * session cloned from it runs without artifact isolation. Each streaming
  * query runs in a cloned session with a new id; with isolation on, every
  * job carries that id and the executor builds a new class loader for it.
  * Spark caches compiled classes per class loader, so every `start`
  * compiled each generated class again (about 20 per `StreamValidate`
  * drain, most of them byte-identical to the previous drain's), the first
  * micro-batch's other tasks waited on the compile lock, and the JIT
  * started cold on the fresh classes. graft adds no session artifacts, so
  * the isolation guards nothing here.
  *
  * One state-store policy for every stream's keyed state: `start` sets
  * `spark.sql.streaming.stateStore.providerClass` to Spark's
  * `RocksDBStateStoreProvider` with
  * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`,
  * and leaves both set on the session, as it leaves the isolation key (so
  * a stateful query that does not go through `start` runs whatever store
  * its session holds, this one once a stream has started there). A
  * micro-batch's commit then writes only that batch's changes as a
  * changelog file per partition; a full snapshot is due every
  * `minDeltasForSnapshot` (10) versions and is uploaded by the state
  * store's maintenance thread, off the batch. Without changelogs every
  * commit flushed RocksDB, made a local checkpoint, zipped and uploaded it
  * and forked two `rm -rf` per partition, whatever the batch changed. A
  * checkpoint written on another provider keeps it: Spark restores the
  * provider class from the checkpoint's offset log. A RocksDB checkpoint
  * written without changelogs resumes from its last snapshot and goes on
  * with changelogs.
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
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
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
