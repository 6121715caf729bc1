package graft.validate

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** The reference topology `stream → peek → filter → mapValues(tidy) →
  * filter(validate) → peek → to` (TopologyProducer.java:126-140) as Spark
  * stages.
  *
  * This is the FUSED hot path: tidy + parse stay Catalyst expressions
  * (whole-stage codegen, parquet column pruning still applies upstream);
  * the irreducibly order-sensitive validation fold (quirks Q2/Q4/Q9 —
  * abort/last-wins/side-output semantics over the items array) runs as ONE
  * narrow typed `map` with the dimension catalog as a broadcast variable —
  * replacing the reference's per-record remote lookups (TP:196-208) with
  * zero network and ZERO shuffles. The whole pipeline is embarrassingly
  * parallel: throughput scales linearly with cores/executors, which is what
  * the north-rule scaling criterion needs.
  *
  * A relational (explode + broadcast-join) formulation of the same
  * semantics lives in [[RelationalValidation]]; tests assert both agree.
  */
object ValidationPipeline {

  /** T2 (null filter, TP:133) + T3 (tidy, TP:134,148-151 — BEFORE parse and
    * over the whole raw string, quirk Q6; the forwarded record is the tidied
    * one) + single `from_json` (fixing the reference's double parse,
    * TP:167+178).
    */
  def parsed(transcripts: DataFrame): DataFrame =
    transcripts
      .filter(col("text").isNotNull)
      .select(
        col("conv_id"), col("turn_idx"), col("role"),
        regexp_replace(col("text"), "Adamm", "Adam").as("text"),
        col("tool"), col("ts"))
      .withColumn("msg", from_json(col("text"), Schemas.envelope))

  /** Full decision stream/frame. Works identically for batch and streaming
    * DataFrames (same stages — parity by construction, SURVEY.md §7.2.3).
    */
  def decide(spark: SparkSession, transcripts: DataFrame, cat: Catalog,
      enableBlacklist: Boolean = true): Dataset[TurnDecision] = {
    import spark.implicits._
    val bcat = spark.sparkContext.broadcast(cat)
    parsed(transcripts)
      // T1/T7 peek analogues (TP:132,136): lineage counters as observed
      // metrics (CollectMetrics) instead of per-row logging — free at scale,
      // surfaced per micro-batch through StreamingQueryProgress and per
      // action through QueryExecution.observedMetrics.
      .observe("graft_in",
        count(lit(1)).as("rows_in"),
        // PERMISSIVE from_json yields a null-FIELDED struct for corrupt
        // JSON (not a null struct), so test the gate keys
        sum(when(col("msg").isNull || col("msg.msg_type").isNull
          || col("msg.data_type").isNull, 1L).otherwise(0L)).as("malformed_envelope"))
      .as[ParsedTurn]
      .map(t => Evaluator.evalTurn(t, bcat.value, enableBlacklist))
      .observe("graft_out",
        count(lit(1)).as("rows_out"),
        sum(when(col("decision") === "valid", 1L).otherwise(0L)).as("valid"),
        sum(when(col("decision") === "rejected", 1L).otherwise(0L)).as("rejected"),
        sum(when(col("promoted"), 1L).otherwise(0L)).as("promoted"))
  }

  /** Fast fused variant: tidy stays a Catalyst expression, but parse +
    * evaluate happen in ONE typed map (Jackson directly to the evaluator's
    * case classes), skipping the from_json struct materialization and the
    * encoder deserialization between stages. Same decisions as [[decide]]
    * (corpus agreement test); ~1 allocation pass less per row on the hot
    * path. Prefer [[decide]] when the parsed struct is needed as a column.
    */
  def decideFast(spark: SparkSession, transcripts: DataFrame, cat: Catalog,
      enableBlacklist: Boolean = true): Dataset[TurnDecision] = {
    import spark.implicits._
    val bcat = spark.sparkContext.broadcast(cat)
    transcripts
      .filter(col("text").isNotNull)
      .as[Turn]
      .map { t =>
        val tidied = JsonParse.tidy(t.text) // T3, literal-replace fast path
        val pt = ParsedTurn(t.conv_id, t.turn_idx, t.role, tidied, t.tool, t.ts,
          JsonParse.parseEnvelope(tidied))
        Evaluator.evalTurn(pt, bcat.value, enableBlacklist)
      }
      .observe("graft_out",
        count(lit(1)).as("rows_out"),
        sum(when(col("decision") === "valid", 1L).otherwise(0L)).as("valid"),
        sum(when(col("decision") === "rejected", 1L).otherwise(0L)).as("rejected"),
        sum(when(col("promoted"), 1L).otherwise(0L)).as("promoted"))
  }

  /** The three routed outputs of one decision frame (topics `valid_data`,
    * `blacklists`, `webdata` — TP:137, TP:286, TP:223). `carry` columns
    * (e.g. the sink's `batch_id`) follow each route's own columns.
    */
  def routes(decisions: DataFrame, carry: String*): (DataFrame, DataFrame, DataFrame) = {
    def pick(names: String*) = (names ++ carry).map(col)
    val valid = decisions.filter(col("decision") === "valid")
      .select(pick("conv_id", "turn_idx", "role", "tool", "ts", "text", "reason", "promoted"): _*)
    val rejected = decisions.filter(col("decision") === "rejected")
      .select(pick("conv_id", "turn_idx", "role", "tool", "ts", "reason", "uuid"): _*)
    val webdata = decisions.select(col("conv_id") +: col("turn_idx") +:
      explode(col("webdata")).as("payload") +: carry.map(col): _*)
    (valid, rejected, webdata)
  }
}
