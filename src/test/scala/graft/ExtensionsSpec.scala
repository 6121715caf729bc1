package graft

import org.apache.spark.sql.SparkSession

/** GraftExtensions: every native expression resolves in SQL in a session
  * built with the extensions installed (the spark.sql.extensions path a
  * production job uses — no runtime register() calls).
  */
class ExtensionsSpec extends SparkSpec {

  test("extensions session resolves every injected function in SQL") {
    spark.sparkContext // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(s2.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c")
        .head().getDouble(0) == 1.0)
      assert(s2.sql("SELECT dot_f64(array(2.0d, 3.0d), array(4.0d, 5.0d)) d")
        .head().getDouble(0) == 23.0)
      assert(s2.sql("SELECT argmax_dot(array(0.0d, 1.0d), array(array(1.0d, 0.0d), array(0.0d, 1.0d))) a")
        .head().getInt(0) == 1)
      // over embedding rows read from parquet: |v|^2 > 0 and cos(v, v) = 1
      s2.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .selectExpr("cast(embedding as array<double>) AS v")
        .createOrReplaceTempView("vx")
      val r = s2.sql("SELECT cosine_sim(v, v) AS c, dot_f64(v, v) AS d FROM vx LIMIT 5")
        .collect()
      assert(r.nonEmpty &&
        r.forall(x => math.abs(x.getDouble(0) - 1.0) < 1e-9 && x.getDouble(1) > 0))
      // checksum exprs return the 0=valid/1=invalid/2=abort code
      assert(s2.sql("SELECT luhn_check('4111111111111111') l").head().getInt(0) == 0)
      assert(s2.sql("SELECT luhn_check('4111111111111112') l").head().getInt(0) == 1)
      assert(s2.sql("SELECT luhn_check('not-digits') l").head().getInt(0) == 2)
      assert(s2.sql("SELECT luhn_check('4242424242424242') l").head().getInt(0) == 0)
      assert(s2.sql("SELECT abn_check('51824753556') a").head().getInt(0) == 0)
      assert(s2.sql("SELECT simhash64(array('a','b')) s").head().getLong(0) ==
        graft.functions.SketchKernels.simhash64(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
            Array(org.apache.spark.unsafe.types.UTF8String.fromString("a"),
              org.apache.spark.unsafe.types.UTF8String.fromString("b")))))
      assert(s2.sql("SELECT size(minhash_sig(array('x y z'), 16)) n")
        .head().getInt(0) == 16)
      assert(s2.sql("SELECT hyperplane_code(array(1.0d, -2.0d), 8) h")
        .head().getLong(0) >= 0L)
      // size params must be literals — they shape codegen
      val e = intercept[Exception] {
        s2.sql("SELECT minhash_sig(array('x'), 8 + 8) n").collect()
      }
      assert(e.getMessage.contains("integer literal") ||
        e.getCause != null && e.getCause.getMessage.contains("integer literal"),
        e.getMessage)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
