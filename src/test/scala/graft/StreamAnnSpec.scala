package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sink.ManifestSink
import graft.streaming.StreamAnn

/** Streaming ANN serving from the persisted IVF index: per-batch results
  * equal the batch serving call, and a version published mid-stream is
  * served by the next micro-batch (the live index-swap contract).
  */
class StreamAnnSpec extends SparkSpec {

  test("serves the live index version per batch; a mid-stream swap takes effect next batch") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val idx = Files.createTempDirectory("graft_sann_idx").toString
    val in = Files.createTempDirectory("graft_sann_in").toString
    val out = Files.createTempDirectory("graft_sann_out").toString
    val ck = Files.createTempDirectory("graft_sann_ck").toString

    // v0 (flat): index over the corpus WITHOUT the planted twins
    Similarity.buildIvfIndex(emb, idx, nlist = 8)
    // queries = every 100th vector; twins = near-identical copies of the
    // queries under NEW ids, present only in the v1 snapshot below
    val queries = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"embedding",
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
    val twins = emb.filter($"vec_id" % 100 === 0)
      .select(($"vec_id" + 7000000).as("vec_id"),
        transform($"embedding", x => x * 1.000001).as("embedding"))
    Similarity.buildIvfIndex(emb.unionByName(twins), s"$idx/versions/v1", nlist = 8)

    def results(): Map[(Long, Int), Long] =
      new ManifestSink(out).read(spark)
        .select("q_id", "rank", "vec_id").as[(Long, Int, Long)]
        .collect().map { case (q, r, v) => (q, r) -> v }.toMap

    // batch 1 against v0
    queries.coalesce(1).write.mode("append").parquet(in)
    val cfg = StreamAnn.Config(idx, in, out, ck, k = 5, nprobe = 4,
      maxFilesPerTrigger = 1, availableNow = true)
    val q1 = StreamAnn.start(spark, cfg)
    q1.awaitTermination(); q1.stop()
    val r1 = results()
    assert(r1.nonEmpty && r1.values.forall(_ < 7000000),
      "twin served before its version was published")
    // parity with the batch serving call on the same (v0) snapshot
    val want1 = Similarity.ivfTopKIndexed(idx, queries.drop("ts"), k = 5, nprobe = 4)
      .select("q_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().map { case (q, r, v) => (q, r) -> v }.toMap
    assert(r1 == want1)

    // PUBLISH v1 mid-stream (an external maintenance job's swap), then a
    // second batch of the same queries: every query's rank-1 hit is now
    // its twin — served from the new snapshot with zero coordination
    Similarity.publishVersion(idx, "v1")
    queries.withColumn("q_id", $"q_id" + 1000000) // distinct q_ids for batch 2
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamAnn.start(spark, cfg)
    q2.awaitTermination(); q2.stop()
    val r2 = results().filter { case ((q, _), _) => q >= 1000000 }
    assert(r2.nonEmpty)
    // every batch-2 query's top-5 now contains its twin (cos ~ 1.0; the
    // original vector itself ties at 1.0 and wins rank 1 on the id
    // tiebreak — the twin's PRESENCE is what only the v1 snapshot has)
    val byQ = r2.groupBy(_._1._1).map { case (q, m) => q -> m.values.toSet }
    byQ.foreach { case (q, hits) =>
      assert(hits.contains(q - 1000000 + 7000000),
        s"query $q top-5 $hits lacks its twin — v1 not being served")
    }
  }
}
