package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sink.ManifestSink
import graft.streaming.StreamQuality

/** Online quality gating with frozen batch-fitted artifacts: stream
  * output equals the batch gate row-for-row across micro-batches, a
  * stopped-and-resumed stream continues exactly-once, and the gates are
  * internally consistent.
  */
class StreamQualitySpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("stream gates == batch gates across chunked arrival + resume") {
    import spark.implicits._
    val m = StreamQuality.fit(spark, docs,
      stopwords = graft.ops.TextMetrics.stopwords.toMap.apply("en"))
    val in = Files.createTempDirectory("graft_sq_in").toString
    val out = Files.createTempDirectory("graft_sq_out").toString
    val ck = Files.createTempDirectory("graft_sq_ck").toString

    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select("doc_id", "gopher_ok", "quality_ok", "bucket", "keep")
        .collect().map(_.toSeq).toSet

    // arrival in three chunks
    val chunks = Seq(docs.filter($"doc_id" % 3 === 0),
      docs.filter($"doc_id" % 3 === 1), docs.filter($"doc_id" % 3 === 2))
    chunks.take(2).foreach(_.coalesce(1).write.mode("append").parquet(in))
    val cfg = StreamQuality.Config(in, out, ck, m,
      maxFilesPerTrigger = 1, availableNow = true)
    val q1 = StreamQuality.start(spark, cfg)
    q1.awaitTermination(); q1.stop()
    // stop, deliver the last chunk, RESUME from the checkpoint
    chunks(2).coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamQuality.start(spark, cfg)
    q2.awaitTermination(); q2.stop()

    val got = rows(new ManifestSink(out).read(spark))
    val want = rows(StreamQuality.gates(spark, docs, m))
    assert(got == want)
    assert(got.size == docs.count())
  }

  test("gate internals: keep is the conjunction; buckets near-terciles on the fit corpus") {
    val m = StreamQuality.fit(spark, docs,
      stopwords = graft.ops.TextMetrics.stopwords.toMap.apply("en"))
    val g = StreamQuality.gates(spark, docs, m).cache()
    assert(g.filter(col("keep") =!=
      (col("gopher_ok") && col("quality_ok") && col("bucket") =!= "tail"))
      .count() == 0)
    val n = docs.count()
    val counts = g.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("head", "middle", "tail"))
    counts.values.foreach(c => assert(math.abs(c - n / 3.0) <= n * 0.05 + 2))
    // quality_p matches the batch classifier's probabilities
    import spark.implicits._
    val pStream = g.select("doc_id", "quality_p").as[(Long, Double)]
      .collect().toMap
    val pBatch = graft.ops.QualityModel.trainAndClassify(docs)
      .select("doc_id", "p").as[(Long, Double)].collect().toMap
    pBatch.foreach { case (id, p) =>
      assert(math.abs(pStream(id) - p) < 1e-12, s"doc $id") }
    g.unpersist()
  }
}
