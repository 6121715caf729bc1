package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.io.LocalFs
import graft.ops.{GopherRules, LangModel, QualityModel}
import graft.sink.ManifestSink

/** ONLINE quality gating: the train-offline / serve-online half of the
  * data-selection family. All three learned/derived artifacts are fitted
  * in batch — the logistic-regression weights ([[QualityModel.train]]),
  * the perplexity tercile thresholds (batch `percentile` over a scored
  * reference corpus), and the trigram LM itself ([[LangModel.train]]) —
  * then FROZEN into this stream, which applies them plus the Gopher
  * ruleset to every arriving document:
  *
  *   readStream(docs) → gopher flags + LR score + LM-score bucket
  *     (one narrow projection + a broadcast-model scoring pass)
  *     → exactly-once sink
  *
  * No state, no watermark, no shuffle: every gate is a per-row function
  * of the frozen artifacts, so the streaming query is embarrassingly
  * parallel and the batch form ([[gates]]) is literally the same plan —
  * StreamQualitySpec pins stream output == batch output row-for-row.
  * Model refresh follows the StreamAnn pattern: swap the artifacts and
  * restart (or resolve a CURRENT pointer per batch); nothing here holds
  * state that a swap would invalidate.
  */
object StreamQuality {

  /** Frozen serving artifacts. */
  final case class Model(
      weights: Seq[Double], // QualityModel LR weights
      lm: LangModel.NbModel, // trigram LM for the perplexity signal
      t13: Double, // tercile thresholds over the reference corpus
      t23: Double,
      stopwords: Seq[String] = GopherRules.requiredStopwords,
      scoreLang: String = "en")

  /** Fit every artifact from a reference corpus in one call. */
  def fit(spark: SparkSession, reference: DataFrame,
      stopwords: Seq[String] = GopherRules.requiredStopwords): Model = {
    val w = QualityModel.train(QualityModel.features(reference))
    val lm = LangModel.train(spark, reference)
    val scored = LangModel.score(spark, reference, lm)
    val th = scored.agg(
      percentile(col("mean_logp"), lit(1.0 / 3)),
      percentile(col("mean_logp"), lit(2.0 / 3))).head()
    Model(w, lm, th.getDouble(0), th.getDouble(1), stopwords)
  }

  /** The gate projection — identical for batch and stream(-batch) input.
    * Gopher + LR gates are composable Columns in ONE narrow projection;
    * the LM perplexity bucket is the single mapPartitions scoring pass
    * (broadcast model), rejoined on doc_id — one hash join per
    * micro-batch, bounded by the batch.
    */
  def gates(spark: SparkSession, docs: DataFrame, m: Model): DataFrame = {
    val narrow = docs.select(col("doc_id"),
      GopherRules.keepCol(col("text"), stopwords = m.stopwords).as("gopher_ok"),
      QualityModel.pCol(col("text"), m.weights).as("quality_p"))
      .withColumn("quality_ok", col("quality_p") >= 0.5)
    val bucket = LangModel.score(spark, docs, m.lm, m.scoreLang)
      .select(col("doc_id"),
        when(col("mean_logp") >= m.t23, "head")
          .when(col("mean_logp") >= m.t13, "middle")
          .otherwise("tail").as("bucket"))
    narrow.join(bucket, Seq("doc_id"))
      .withColumn("keep",
        col("gopher_ok") && col("quality_ok") && col("bucket") =!= "tail")
  }

  final case class Config(
      inputDir: String,
      outDir: String,
      checkpointDir: String,
      model: Model,
      maxFilesPerTrigger: Int = 4,
      availableNow: Boolean = false)

  def start(spark: SparkSession, cfg: Config): StreamingQuery = {
    LocalFs.use(spark)
    val sink = new ManifestSink(cfg.outDir)
    spark.readStream
      .schema("doc_id long, text string, lang string, source string, n_chars long")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .outputMode("append")
      .trigger(if (cfg.availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime("1 second"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink.writeBatch(gates(spark, df, cfg.model), id)
      }
      .start()
  }

  def readResults(spark: SparkSession, outDir: String): DataFrame =
    new ManifestSink(outDir).read(spark)
}
