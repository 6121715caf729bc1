package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** The native vector kernels must be BIT-identical to the HOF reference
  * formulation (strictly sequential double summation) — the cosine_topk /
  * ivf_topk / lsh oracle compares depend on it.
  */
class VectorExprSpec extends SparkSpec {

  test("dot_f64/cosine_sim bit-identical to the sequential HOF form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = base.limit(1).select(col("v").as("q"))
    val both = base.crossJoin(broadcast(q)).select(
      Similarity.dot(col("q"), col("v")).as("dk"),
      Similarity.dotHof(col("q"), col("v")).as("dh"),
      Similarity.cosine(col("q"), col("v")).as("ck"),
      Similarity.cosineHof(col("q"), col("v")).as("ch"))
    // exact equality — same summation order, no tolerance needed
    assert(both.filter(col("dk") =!= col("dh") || col("ck") =!= col("ch")).isEmpty)
    assert(both.count() > 0)
  }

  test("argmax_dot over a centroid matrix == per-centroid dot argmax") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents: Seq[Seq[Double]] = base.limit(7).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    val got = base.select(col("vec_id"),
        graft.functions.VectorExpr.argmax_dot(col("v"), typedlit(cents)).as("i"))
      .as[(Long, Int)].collect().toMap
    // reference: unrolled per-centroid dot columns + driver-side argmax
    val scored = base.select(col("vec_id") +:
        cents.zipWithIndex.map { case (c, i) =>
          Similarity.dot(col("v"), typedlit(c)).as(s"s$i") }: _*)
      .collect()
    scored.foreach { r =>
      val ss = (0 until cents.size).map(i => r.getDouble(i + 1))
      assert(got(r.getLong(0)) == ss.indexOf(ss.max), s"vec ${r.getLong(0)}")
    }
    assert(scored.nonEmpty)
  }

  test("vector expressions run inside whole-stage codegen") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("embedding").cast("array<double>").as("v"))
    val plan = base.select(Similarity.cosine(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(600)) // whole-stage codegen span
    // SQL resolution goes through GraftExtensions (ExtensionsSpec)
  }
}
