package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained quality/domain classifier: logistic regression fit by
  * full-batch gradient descent — the shape of DCLM/fastText-style
  * quality filters (a tiny linear model over cheap text features,
  * trained on an in-corpus label, then applied as a narrow scoring
  * pass). Third trained model in the engine beside the BPE tokenizer and
  * the NB language model, and like them it trains from the corpus itself
  * with no external artifacts.
  *
  * Scale shape — the canonical distributed-GD pattern: each iteration is
  * ONE scan producing d+1 map-side-combined gradient averages (avg of
  * (sigma(x*w) - y) * x_j); the weight update is d+1 doubles on the
  * driver; classification is a pure codegen projection over the final
  * literal weights. Iterations are deterministic (no sampling, no
  * shuffling), so the ENTIRE train+predict chain is re-derivable in SQL
  * — the `quality_classifier` oracle unrolls the same three iterations
  * as chained aggregate CTEs.
  */
object QualityModel {

  /** Feature row: bias + three bounded text statistics. Kept tiny and
    * exactly SQL-derivable — the contract is "deterministic trained
    * linear filter", not feature-engineering ambition.
    */
  def features(docs: DataFrame, textCol: String = "text",
      labelCol: String = "lang", labelValue: String = "en"): DataFrame =
    docs.select(
      col("doc_id") +:
        (col(labelCol) === labelValue).cast("double").as("y") +:
        xCols(col(textCol)).zipWithIndex.map { case (x, j) => x.as(s"x$j") }: _*)

  private def xCols(t: Column): Seq[Column] = {
    val ws = TextMetrics.words(t)
    Seq(
      lit(1.0),
      length(t) / 1000.0,
      size(ws) / 100.0,
      aggregate(transform(ws, w => length(w)), lit(0L), (a, x) => a + x)
        .cast("double") / greatest(size(ws), lit(1)) / 10.0)
  }

  /** The trained model's probability as a single composable Column — the
    * form the streaming quality gate applies inline.
    */
  def pCol(text: Column, w: Seq[Double]): Column =
    sigmoid(xCols(text).zip(w).map { case (x, wi) => x * wi }.reduce(_ + _))

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  private def dot(w: Seq[Double]): Column =
    (0 until w.length).map(j => col(s"x$j") * w(j)).reduce(_ + _)

  /** Full-batch GD from w = 0: one scan per iteration, d+1 gradient
    * avgs, driver-side update. Returns the final weights.
    */
  def train(feats: DataFrame, iters: Int = 3, lr: Double = 0.5): Seq[Double] = {
    val d = 4
    (1 to iters).foldLeft(Seq.fill(d)(0.0)) { (w, _) =>
      val err = sigmoid(dot(w)) - col("y")
      val g = feats.agg(
        avg(err * col("x0")), avg(err * col("x1")),
        avg(err * col("x2")), avg(err * col("x3"))).head()
      w.indices.map(j => w(j) - lr * g.getDouble(j))
    }
  }

  /** Narrow scoring pass over the trained literal weights. */
  def classify(feats: DataFrame, w: Seq[Double]): DataFrame =
    feats.select(col("doc_id"), col("y"),
      sigmoid(dot(w)).as("p"))
      .withColumn("pred", col("p") >= 0.5)

  def trainAndClassify(docs: DataFrame, iters: Int = 3,
      lr: Double = 0.5): DataFrame = {
    val f = features(docs)
    classify(f, train(f, iters, lr))
  }
}
