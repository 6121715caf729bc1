package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.model.Catalog
import graft.sink.ExactlyOnceSink
import graft.validate.ValidationPipeline

/** The streaming topology: `readStream(transcripts) → dedup state →
  * validate (same stages as batch — parity by construction) →
  * foreachBatch exactly-once sink` (SURVEY.md §3.1 Spark equivalent): one
  * decisions write per micro-batch, read back as the three routes.
  *
  * Source is a schema'd parquet-dir file stream (the local stand-in for
  * the Iceberg streaming source — no Iceberg jars offline, SURVEY.md §7.6;
  * swapping `format("parquet")` for `format("iceberg")` is the only
  * production delta). Checkpointed: stop/restart resumes from offsets and
  * the sink manifest suppresses the replayed batch.
  *
  * Partitioning note (north rule): the stateless validation stages are
  * NARROW — no shuffle at all. The only exchange is the one Spark inserts
  * for the conv_id-keyed dedup state, which is hash-partitioned over
  * `spark.sql.shuffle.partitions`; a hot conversation lands on one
  * partition but its cost is a Set lookup per row, so skew shows up only
  * if one conversation dominates the whole stream volume — tracked by the
  * sink's per-partition `metrics` view.
  */
object StreamValidate {

  /** @param catalogDir when set, the dimension catalog is RE-LOADED from
    *   this directory (CatalogIO layout) at the start of every micro-batch
    *   — matching the reference's always-fresh per-record lookups
    *   (TopologyProducer.java:196-208) at micro-batch granularity. When
    *   None, the catalog passed to [[start]] is broadcast once (the
    *   immutable-catalog fast path).
    * @param relational validate with the relational (join-based)
    *   formulation instead of the fused typed map — only meaningful with
    *   `catalogDir` (the refresh path revalidates inside `foreachBatch`,
    *   where either formulation runs on the batch frame).
    */
  final case class Config(
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      enableBlacklist: Boolean = true,
      withDedup: Boolean = true,
      watermark: String = "10 minutes",
      maxFilesPerTrigger: Int = 4,
      availableNow: Boolean = false,
      catalogDir: Option[String] = None,
      relational: Boolean = false)

  /** Source + optional conv_id-keyed dedup state — the streaming stages
    * that must live in the stream plan (state, watermark). Validation is
    * appended either here (static catalog) or per-batch (refresh mode).
    */
  private def turnsStream(spark: SparkSession, cfg: Config): DataFrame = {
    import spark.implicits._
    val raw = spark.readStream
      .schema(graft.model.Schemas.transcript)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
    if (!cfg.withDedup) raw
    else DedupState.dedup(spark, raw.as[graft.model.Turn], cfg.watermark)
      .drop("out_of_order").toDF()
  }

  def decisions(spark: SparkSession, cfg: Config, cat: Catalog): DataFrame =
    // decideFast: one-pass parse+evaluate (agreement-tested with decide);
    // lineage counters surface through its graft_out observed metrics
    ValidationPipeline.decideFast(spark, turnsStream(spark, cfg), cat,
      cfg.enableBlacklist).toDF()

  /** Start the query; returns the running handle. `cat` is the static
    * catalog; ignored when `cfg.catalogDir` enables per-batch refresh.
    */
  def start(spark: SparkSession, cfg: Config, cat: Catalog): StreamingQuery = {
    val sink = new ExactlyOnceSink(cfg.outDir)
    val (frame, validateBatch): (DataFrame, (DataFrame, Long) => Unit) =
      cfg.catalogDir match {
        case None =>
          (decisions(spark, cfg, cat),
            (df: DataFrame, id: Long) => sink.writeBatch(df, id))
        case Some(dir) =>
          // Refresh mode: the stream plan carries only source+state; the
          // catalog is re-read and re-broadcast per micro-batch, so a dim
          // row added mid-stream is honored by the NEXT batch (tested).
          (turnsStream(spark, cfg), (df: DataFrame, id: Long) => {
            val decided =
              if (cfg.relational) {
                val (e, d, a) = graft.model.CatalogIO.frames(spark, dir)
                graft.validate.RelationalValidation
                  .decide(spark, df, e, d, a, cfg.enableBlacklist)
              } else
                ValidationPipeline.decideFast(spark, df,
                  graft.model.CatalogIO.load(spark, dir), cfg.enableBlacklist).toDF()
            sink.writeBatch(decided, id)
          })
      }
    frame.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .outputMode("append")
      // AvailableNow = drain the backlog at max rate then stop (the honest
      // trigger for throughput benchmarking and for batch-catchup restarts);
      // ProcessingTime for the steady-state tailing mode.
      .trigger(if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime("1 second"))
      .foreachBatch(validateBatch)
      .start()
  }

  /** Listener appending one JSON line per finished batch with the state-op
    * metrics the sink cannot see — notably `numRowsDroppedByWatermark`
    * (the `dropped-late` lineage metric) — keyed by batchId, so a resumed
    * query continues the same file idempotently (last writer wins per id).
    */
  final class MetricsListener(path: String) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dropped = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val line = s"""{"batch_id":${p.batchId},"input_rows":${p.numInputRows},""" +
        s""""dropped_late":$dropped,"state_rows":$stateRows,""" +
        s""""rows_per_sec":${p.processedRowsPerSecond}}""" + "\n"
      Files.createDirectories(Paths.get(path).getParent)
      Files.write(Paths.get(path), line.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }
}
