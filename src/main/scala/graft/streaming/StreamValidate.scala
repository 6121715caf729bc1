package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.model.Catalog
import graft.sink.ExactlyOnceSink
import graft.validate.ValidationPipeline

/** The streaming topology: `readStream(transcripts) → dedup state →
  * validate (same stages as batch — parity by construction) →
  * foreachBatch exactly-once sink` (SURVEY.md §3.1 Spark equivalent): one
  * decisions write per micro-batch, read back as the three routes.
  *
  * The source, checkpoint, trigger and `file:` I/O setup are
  * [[FileStream]]'s, shared with the other streams; this object supplies
  * the transcript schema, the in-plan dedup (+ validation) stage and the
  * [[ExactlyOnceSink]] write.
  *
  * Partitioning note (north rule): the stateless validation stages are
  * NARROW — no shuffle at all. The only exchange is the one Spark inserts
  * for the conv_id-keyed dedup state, which is hash-partitioned over
  * `spark.sql.shuffle.partitions`; a hot conversation lands on one
  * partition but its cost is a hash lookup per row (the seen set is
  * decoded and encoded once per batch, [[EventTimeState]]), so skew shows
  * up only if one conversation dominates the whole stream volume — tracked
  * by the sink's per-partition `metrics` view.
  */
object StreamValidate {

  /** @param catalogDir when set, the dimension catalog is RE-LOADED from
    *   this directory (CatalogIO layout) at the start of every micro-batch
    *   — matching the reference's always-fresh per-record lookups
    *   (TopologyProducer.java:196-208) at micro-batch granularity. When
    *   None, the catalog passed to [[start]] is broadcast once (the
    *   immutable-catalog fast path).
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
      catalogDir: Option[String] = None)

  /** Start the query; returns the running handle. `cat` is the static
    * catalog; ignored when `cfg.catalogDir` enables per-batch refresh.
    * The stream plan carries the source and the optional conv_id-keyed
    * dedup state (state and watermark must live there); validation is
    * appended to it (static catalog) or run per batch (refresh mode).
    */
  def start(spark: SparkSession, cfg: Config, cat: Catalog): StreamingQuery = {
    import spark.implicits._
    val sink = new ExactlyOnceSink(cfg.outDir)
    def dedup(raw: DataFrame): DataFrame =
      if (!cfg.withDedup) raw
      else DedupState.dedup(spark, raw.as[graft.model.Turn], cfg.watermark)
        .drop("out_of_order").toDF()
    // decideFast: one-pass parse+evaluate (agreement-tested with decide);
    // lineage counters surface through its graft_out observed metrics
    def decide(df: DataFrame, c: Catalog): DataFrame =
      ValidationPipeline.decideFast(spark, df, c, cfg.enableBlacklist).toDF()
    val run = FileStream.start(spark, graft.model.Schemas.transcript, cfg.inputDir,
      cfg.maxFilesPerTrigger, cfg.checkpointDir, cfg.availableNow) _
    cfg.catalogDir match {
      case None => run(raw => decide(dedup(raw), cat))(sink.writeBatch)
      case Some(dir) =>
        // Refresh mode: the catalog is re-read and re-broadcast per
        // micro-batch, so a dim row added mid-stream is honored by the
        // NEXT batch (tested).
        run(dedup) { (df, id) =>
          sink.writeBatch(decide(df, graft.model.CatalogIO.load(spark, dir)), id)
        }
    }
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
