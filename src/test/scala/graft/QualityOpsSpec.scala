package graft

import org.apache.spark.sql.functions._
import graft.ops.{LangModel, Sampling, Similarity, TextMetrics}

/** Round-5 curation operators: repetition signals, LM scoring, exact
  * stratified sampling, int8 scalar-quantized ANN.
  */
class QualityOpsSpec extends SparkSpec {
  import spark.implicits._

  // ----------------------------------------------------- repetitionSignals

  test("repetition signals: hand-computed fractions on planted docs") {
    val docs = Seq(
      // "ab ab ab ab": 2-grams = 3x "ab ab" (len 5) -> top2 = 3*5 = 15
      // 3-grams = 2x "ab ab ab" (len 8) -> dup3 = 2*8 = 16; n_chars = 11
      (1L, "ab ab ab ab"),
      // no repeats at all
      (2L, "one two three four five"),
      // single word: no 2-grams -> both fractions 0
      (3L, "hello")
    ).toDF("doc_id", "text")
    val out = TextMetrics.repetitionSignals(docs)
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((11.0, 15.0 / 11.0, 16.0 / 11.0)))
    // no repeats: best2 = the longest single 2-gram ("three four", 10 chars)
    assert(out(2L) === ((23.0, 10.0 / 23.0, 0.0)))
    assert(out(3L) === ((5.0, 0.0, 0.0)))
  }

  test("repetition signals: run-length fold equals explode+group brute force") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = TextMetrics.repetitionSignals(docs)
    // brute force: explode 2-grams/3-grams, group, max/sum — the oracle's shape
    val ws = split(lower(trim(col("text"))), "\\s+")
    def gramDf(n: Int) = docs.select(col("doc_id"), length(col("text")).as("nc"),
        explode(transform(
          arrays_zip((0 until n).map(j => slice(ws, lit(j + 1), size(ws) - (n - 1))): _*),
          s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))).as("g"))
      .groupBy("doc_id", "nc", "g").agg(count(lit(1)).as("c"))
    val b2 = gramDf(2).groupBy("doc_id", "nc")
      .agg(max(col("c") * length(col("g"))).as("best"))
      .select(col("doc_id"), (col("best").cast("double") / col("nc")).as("exp_top2"))
    val b3 = gramDf(3).groupBy("doc_id", "nc")
      .agg(sum(when(col("c") >= 2, col("c") * length(col("g"))).otherwise(0L)).as("dup"))
      .select(col("doc_id"), (col("dup").cast("double") / col("nc")).as("exp_dup3"))
    val joined = fast.join(b2, Seq("doc_id"), "left").join(b3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top2_frac"), coalesce(col("exp_top2"), lit(0.0)),
        col("dup3_frac"), coalesce(col("exp_dup3"), lit(0.0)))
      .as[(Long, Double, Double, Double, Double)].collect()
    joined.foreach { case (id, t, et, d, ed) =>
      assert(t === et, s"top2 mismatch doc $id")
      assert(d === ed, s"dup3 mismatch doc $id")
    }
  }

  // --------------------------------------------------------------- lmScore

  test("lm score: counts trigrams, prefers model-like text, canonical-order sum") {
    val docs = Seq(
      (1L, "en", "the cat and the dog and the cat sat"),
      (2L, "en", "the dog and the cat ran and the cat"),
      (3L, "en", "zq xv qqj wkz vvx jjq zzz qxq"), // trigrams rare under model
      (4L, "en", "ab") // < 3 chars: zero trigrams
    ).toDF("doc_id", "lang", "text")
    val m = LangModel.train(spark, docs)
    val out = LangModel.score(spark, docs, m, scoreLang = "en")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === 33L) // 35 chars -> 33 trigrams
    assert(out(4L) === ((0L, 0.0)))
    // the gibberish doc must score strictly worse than the in-distribution ones
    assert(out(3L)._2 < out(1L)._2 && out(3L)._2 < out(2L)._2)
    // driver-side recomputation in the SAME canonical order: exact equality
    val text1 = "the cat and the dog and the cat sat"
    val grams = (0 to text1.length - 3).map(i => text1.substring(i, i + 3))
    val counts = scala.collection.immutable.TreeMap(
      grams.groupBy(identity).view.mapValues(_.size.toLong).toSeq: _*)
    var s = 0.0
    counts.foreach { case (g, c) =>
      s += c * m.logp.getOrElse(("en", g), m.unseen("en"))
    }
    assert(out(1L)._2 === s / grams.size)
  }

  // ------------------------------------------------------ stratifiedSample

  test("stratified sample: exact ceil(frac*n) per stratum, deterministic") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val frac = 0.2
    val out = Sampling.stratifiedSample(docs, "lang", frac)
    val strata = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val got = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    strata.foreach { case (l, n) =>
      assert(got(l) === math.ceil(n * frac).toLong, s"stratum $l")
    }
    // deterministic: two runs give the identical id set
    val ids1 = out.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = Sampling.stratifiedSample(docs, "lang", frac)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 === ids2)
    // ranks within budget
    assert(out.filter(col("rk") > col("n_take")).isEmpty)
  }

  test("stratified sample: bucketed-rank plan is row-identical to the naive stratum window") {
    // the scale-safe formulation (md5-prefix bucket histogram + per-bucket
    // rank + exact offsets) must reproduce the naive whole-stratum window
    // EXACTLY — same rows, same rk — on a corpus AND on a skewed frame
    // where one stratum dominates
    import org.apache.spark.sql.expressions.Window
    def naive(docs: org.apache.spark.sql.DataFrame, frac: Double) = {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_stratum"))
      docs.select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(counts), Seq("lang"))
        .withColumn("n_take", ceil(col("n_stratum") * lit(frac)))
        .filter(col("rk") <= col("n_take"))
        .select(col("doc_id"), col("lang"), col("rk"), col("n_take"))
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val skewed = spark.range(3000).select(col("id").as("doc_id"),
      when(col("id") % 100 === 0, "rare").otherwise("hot").as("lang"))
    for ((df, frac) <- Seq((docs, 0.2), (docs, 0.999), (skewed, 0.1))) {
      val a = Sampling.stratifiedSample(df, "lang", frac)
        .orderBy("doc_id").collect().toSeq
      val b = naive(df, frac).orderBy("doc_id").collect().toSeq
      assert(a === b, s"frac=$frac")
    }
    // plan pin: no Window partitioned by the bare stratum — every window
    // partition key must include the md5 bucket (the whole point)
    val plan = Sampling.stratifiedSample(docs, "lang", 0.2)
      .queryExecution.executedPlan.toString
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty && winSpecs.forall(_.contains("_bk#")),
      s"window partition keys missing the md5 bucket: $winSpecs")
  }

  test("stratified sample: int strata keep their type and exact per-stratum counts") {
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      (col("id") % 7 === 0).cast("int").as("tier"))
    val out = Sampling.stratifiedSample(docs, "tier", 0.1)
    assert(out.schema("tier").dataType === org.apache.spark.sql.types.IntegerType)
    val got = out.groupBy("tier").count().as[(Int, Long)].collect().toMap
    assert(got === Map(0 -> math.ceil(1714 * 0.1).toLong, 1 -> math.ceil(286 * 0.1).toLong))
    // same rows and ranks as the string-strata form of the same corpus
    val asString = Sampling.stratifiedSample(
      docs.withColumn("tier", col("tier").cast("string")), "tier", 0.1)
    assert(out.withColumn("tier", col("tier").cast("string")).orderBy("doc_id").collect().toSeq ===
      asString.orderBy("doc_id").collect().toSeq)
  }

  // ----------------------------------------------------------------- sqTopK

  test("sq top-k: int8 quantization keeps high recall vs exact brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.bruteTopK(emb, k = 10, stride = 50)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val quant = Similarity.sqTopK(emb, k = 10, stride = 50)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(quant.keySet === exact.keySet)
    val recalls = exact.map { case (q, ids) =>
      (quant(q) intersect ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"mean recall@10 only $mean")
  }

  test("sq reconstruction error is bounded by half a quantization step") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (mn, mx) = Similarity.sqTrain(emb)
    val maxStep = mn.indices.map(i => (mx(i) - mn(i)) / 255.0).max
    val err = emb.select(
        Similarity.sqRecon(col("embedding").cast("array<double>"), mn, mx).as("r"),
        col("embedding").cast("array<double>").as("v"))
      .select(aggregate(zip_with(col("r"), col("v"), (a, b) => abs(a - b)),
        lit(0.0), (acc, x) => greatest(acc, x)).as("e"))
      .agg(max("e")).head().getDouble(0)
    assert(err <= maxStep / 2 + 1e-12, s"max err $err vs step $maxStep")
  }

  // ----------------------------------------------------------------- pqTopK

  test("pq top-k: compressed shortlist + exact rerank keeps high recall vs brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.bruteTopK(emb, k = 10, stride = 50)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = Similarity.pqTopK(emb, k = 10, stride = 50)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.keySet === exact.keySet)
    val recalls = exact.map { case (q, ids) =>
      (pq(q) intersect ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 only $mean")
  }

  test("pq codes: m codes per vector, each within [0, k)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, m = 8, k = 16, iters = 1)
    assert(cb.size == 8 && cb.forall(_.size == 16) && cb.forall(_.forall(_.size == 8)))
    val codes = emb.select(Similarity.pqCodes(
        col("embedding").cast("array<double>"), cb, sub = 8).as("c"))
    assert(codes.filter(size(col("c")) =!= 8).count() == 0)
    assert(codes.select(explode(col("c")).as("x"))
      .filter(col("x") < 0 || col("x") >= 16).count() == 0)
  }

  test("pq training tightens quantization error; recon has full dimensionality") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def mse(cb: Seq[Seq[Seq[Double]]]): Double =
      emb.select(
          Similarity.pqRecon(col("embedding").cast("array<double>"), cb, sub = 8).as("r"),
          col("embedding").cast("array<double>").as("v"))
        .select(aggregate(zip_with(col("r"), col("v"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("e"))
        .agg(avg("e")).head().getDouble(0)
    val e0 = mse(Similarity.pqTrain(emb, iters = 0))
    val e3 = mse(Similarity.pqTrain(emb, iters = 3))
    assert(e3 < e0, s"Lloyd iterations must not worsen distortion: $e3 !< $e0")
    val d = emb.select(size(Similarity.pqRecon(
      col("embedding").cast("array<double>"), Similarity.pqTrain(emb, iters = 1),
      sub = 8)).as("n")).distinct().as[Int].collect().toSeq
    assert(d == Seq(64))
  }

  test("pq top-k plans bounded-heap final, no Window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.pqTopK(emb, k = 5, stride = 100)
    q.collect()
    val s = flattenPlan(q.queryExecution.executedPlan)
      .map(_.verboseString(5)).mkString("\n")
    assert(!s.contains("Window"), s.take(1500))
    assert(s.contains("partial_topkbyscore"), s.take(1500))
  }

  // ------------------------------------------------------- JL projection

  test("jl projection: 16 dims, deterministic, preserves cosine structure") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.jlDistortion(emb).cache()
    assert(out.select(countDistinct("q_id")).head().getLong(0) > 0)
    // a 64->16 sign projection keeps cosines near the original on average
    val meanErr = out.select(avg(abs(col("cos_orig") - col("cos_proj"))))
      .head().getDouble(0)
    assert(meanErr < 0.25, s"mean |cos_orig - cos_proj| = $meanErr")
    // and correlates: projected cosine is not noise. The ceiling here is
    // the fixture, not the op: pairwise cos_orig std is only 0.12 while
    // JL noise at k=16 is ~1/sqrt(k)=0.25, so corr ~0.47 IS the
    // theoretical behavior (measured, deterministic — exact arithmetic)
    val corr = out.stat.corr("cos_orig", "cos_proj")
    assert(corr > 0.4, s"corr only $corr")
    // bit-exact determinism across partitionings (literal matrix, fixed
    // fold order)
    val a = out.collect().map(_.toSeq).toSet
    val b = Similarity.jlDistortion(emb.repartition(17)).collect().map(_.toSeq).toSet
    assert(a == b)
    out.unpersist()
  }

  test("jl projection plans zero Exchange up to the pair join") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val p = Similarity.jlMatrix(64, 16)
    val s = base.select(Similarity.jlProject(col("v"), p))
      .queryExecution.executedPlan.toString
    assert(!s.contains("Exchange"), s.take(1200))
  }
}
