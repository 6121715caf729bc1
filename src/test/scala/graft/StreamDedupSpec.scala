package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.streaming.StreamDedup

/** Online MinHash-LSH near-dup detection: cross-micro-batch pair
  * discovery (also across a checkpoint restart), batch-operator parity
  * below the cap, saturation bound.
  */
class StreamDedupSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp =
    new Timestamp((TranscriptGen.BaseEpoch + sec) * 1000L)

  /** Base docs (first 30) + mutated near-dup copies of the first 15
    * (+100000, every 10th word replaced) with assigned event times:
    * bases at t=0..29s, copies at t=60..74s (a later chunk).
    */
  private lazy val (baseDocs, copyDocs) = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ws = split(lower(trim(col("text"))), "\\s+")
    val base = docs.filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text"),
        (col("doc_id") + TranscriptGen.BaseEpoch).cast("timestamp").as("ts"))
    val copies = docs.filter(col("doc_id") < 15)
      .withColumn("text",
        concat_ws(" ", transform(ws, (w, i) => when(i % 10 === 0, lit("xmutx")).otherwise(w))))
      .select((col("doc_id") + 100000).as("doc_id"), col("text"),
        (col("doc_id") + TranscriptGen.BaseEpoch + 60).cast("timestamp").as("ts"))
    (base, copies)
  }

  test("near-dup pairs are discovered across micro-batches and match the batch operator") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_sd_in").toString
    val out = Files.createTempDirectory("graft_sd_out").toString
    val ck = Files.createTempDirectory("graft_sd_ck").toString
    baseDocs.coalesce(1).write.mode("append").parquet(in)

    val stream = spark.readStream
      .schema(baseDocs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val pairs = StreamDedup.nearDupPairs(spark, stream,
      numHashes = 64, bands = 16, threshold = 0.3, maxBucket = 10000)
    // the file sink, unlike the memory sink, resumes from its checkpoint
    def run() = pairs.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    def emitted() = spark.read.schema(pairs.schema).parquet(out)
      .select("doc_a", "doc_b", "est_jaccard").as[(Long, Long, Double)].collect()
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    val afterChunk1 = emitted().length
    // second chunk arrives after a RESTART: the bases' buckets come back
    // from the checkpoint
    copyDocs.coalesce(1).write.mode("append").parquet(in)
    val q2 = run()
    try {
      q2.processAllAvailable()
      val raw = emitted()
      val got = raw.toSet
      // at-least-once: a pair may surface from several bands, never more
      assert(raw.groupBy(r => (r._1, r._2)).values.map(_.length).max <= 16)

      // every planted copy pairs with its base ACROSS the batch boundary
      val crossChunk = got.filter { case (a, b, _) => a < 15 && b >= 100000 }
      assert(crossChunk.nonEmpty, "no cross-micro-batch pair found")
      assert(got.size > afterChunk1, "second chunk emitted no new pairs")

      // parity: same pair set + same estimates as the batch operator on
      // the union corpus (cap not hit on either side)
      val batch = graft.ops.Dedup.minhashLshPairs(
          baseDocs.unionByName(copyDocs).drop("ts"),
          numHashes = 64, bands = 16, threshold = 0.3, maxBucket = 10000)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == batch,
        s"stream-only: ${got -- batch}; batch-only: ${batch -- got}")
    } finally q2.stop()
  }

  test("all-null-event-time groups still get a closure deadline (no eternal state)") {
    import spark.implicits._
    // round-6 fix (round-5 advisor finding): a bucket whose rows ALL carry
    // null ts previously never set a timeout — its keyed state was
    // retained forever. Now it closes at watermark + gap like any other.
    val in = Files.createTempDirectory("graft_sd_null").toString
    // chunk 1: two near-identical docs with NULL event time → they bucket
    // together and their bands' state forms with no timeout source
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta", null),
        (2L, "alpha beta gamma delta epsilon zeta eta theta", null))
      .toDF("doc_id", "text", "ts")
      .select(col("doc_id"), col("text"), col("ts").cast("timestamp").as("ts"))
      .coalesce(1).write.mode("append").parquet(in)
    val stream = spark.readStream.schema(baseDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val pairs = StreamDedup.nearDupPairs(spark, stream,
      numHashes = 64, bands = 16, threshold = 0.3, maxBucket = 10000,
      watermark = "1 second", gap = "1 second")
    val q = pairs.writeStream.format("memory").queryName("sd_null")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // state formed: the null-ts near-dups were matched against each other
      assert(spark.sql("select count(*) from sd_null").head().getLong(0) > 0)
      val rowsBefore = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rowsBefore > 0, "expected keyed state for the null-ts bucket")
      // chunk 2: one real-ts doc far in the future → watermark jumps past
      // the null-ts groups' (watermark-at-arrival + gap) deadline
      Seq((100L, "completely different words entirely here now", ts(100000)))
        .toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
      // chunk 3: another batch so the timed-out groups are processed
      Seq((101L, "another unrelated document body of text", ts(100001)))
        .toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
      // the probe docs create their own fresh groups, so total row count
      // is not the signal — numRowsRemoved is: without the fix no timeout
      // is ever set for the null-ts groups and nothing is EVER removed
      val removed = q.recentProgress
        .flatMap(_.stateOperators.headOption).map(_.numRowsRemoved).sum
      assert(removed >= rowsBefore,
        s"null-ts state not released: $rowsBefore groups, only $removed removed")
    } finally q.stop()
  }

  /** Feeds `rows` through `op` one micro-batch per row; returns the
    * (a, b) pairs emitted.
    */
  private def pairsOf[T: Encoder](name: String, rows: Seq[T])(
      op: DataFrame => DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[T]
    val q = op(mem.toDF()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      rows.foreach { row => mem.addData(row); q.processAllAvailable() }
      spark.table(name).toDF("a", "b", "score", "ts").select("a", "b")
        .as[(Long, Long)].collect().toSet
    } finally q.stop()
  }

  // regression for both tests below: doc 1 at 0 s sets its buckets'
  // deadline to 300 s; copy 2 arrives with null ts at watermark -60 s;
  // unrelated rows at 310 s and 311 s move the watermark to 251 s (past
  // watermark + gap, not 300 s). The buckets must still hold docs 1 and 2
  // when copy 3 arrives

  test("text: an all-null-ts batch does not close a bucket early") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val pairs = pairsOf("sd_null_early", Seq(
        (1L, text, ts(0)), (2L, text, null),
        (10L, "completely different words entirely here now", ts(310)),
        (11L, "another unrelated document body of text", ts(311)),
        (3L, text, null))) { in =>
      StreamDedup.nearDupPairs(spark, in.toDF("doc_id", "text", "ts"),
        watermark = "1 minute", gap = "5 minutes").toDF()
    }
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs)
  }

  test("vector: an all-null-ts batch does not close a bucket early") {
    import spark.implicits._
    val v = Seq(1.0, 0.5, 0.25, 0.0)
    val pairs = pairsOf("sd_vec_null_early", Seq(
        (1L, v, ts(0)), (2L, v, null),
        (10L, Seq(0.0, 1.0, 0.0, 0.0), ts(310)),
        (11L, Seq(0.0, 0.0, 1.0, 0.0), ts(311)),
        (3L, v, null))) { in =>
      StreamDedup.nearDupVectorPairs(spark, in.toDF("vec_id", "embedding", "ts"),
        watermark = "1 minute", gap = "5 minutes").toDF()
    }
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs)
  }

  test("a saturated bucket stops emitting and frees its members") {
    import spark.implicits._
    /** Streams `rows` as one file; returns the distinct (a, b) pairs. */
    def pairCount(name: String, rows: DataFrame)(op: DataFrame => DataFrame): Long = {
      val in = Files.createTempDirectory(s"graft_$name").toString
      rows.coalesce(1).write.mode("append").parquet(in)
      val stream = spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = op(stream).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        spark.table(name).toDF("a", "b", "score", "ts").select("a", "b").distinct().count()
      } finally q.stop()
    }
    // 30 identical texts → every band bucket holds all of them; cap at 5.
    // The same for 30 identical vectors in one hyperplane bucket
    val text = pairCount("sd_sat", (0 until 30)
        .map(i => (i.toLong, "same words in every single document here", ts(i)))
        .toDF("doc_id", "text", "ts")) { in =>
      StreamDedup.nearDupPairs(spark, in,
        numHashes = 64, bands = 16, threshold = 0.3, maxBucket = 5).toDF()
    }
    val vector = pairCount("sd_vec_sat", (0 until 30)
        .map(i => (i.toLong, Seq(1.0, 0.5, 0.25, 0.0), ts(i)))
        .toDF("vec_id", "embedding", "ts")) { in =>
      StreamDedup.nearDupVectorPairs(spark, in, maxBucket = 5).toDF()
    }
    for ((kind, distinctPairs) <- Seq("text" -> text, "vector" -> vector)) {
      // unbounded would be C(30,2)=435 pairs; the cap bounds it to the
      // pre-saturation pairs C(5,2)=10 at most (identical payloads → all
      // bands agree on membership)
      assert(distinctPairs <= 10, s"$kind: saturated bucket kept emitting: $distinctPairs pairs")
      assert(distinctPairs > 0, s"$kind: expected some pre-saturation pairs")
    }
  }

  test("vector near-dup: cross-batch exact-duplicate discovery, batch-operator parity") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"), col("embedding"),
      (col("vec_id") + TranscriptGen.BaseEpoch).cast("timestamp").as("ts"))
    val copies = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"),
        (col("vec_id") + TranscriptGen.BaseEpoch + 60).cast("timestamp").as("ts"))
    val in = Files.createTempDirectory("graft_sd_vec").toString
    base.coalesce(1).write.mode("append").parquet(in)

    val stream = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val pairs = StreamDedup.nearDupVectorPairs(spark, stream,
      planes = 8, bands = 1, threshold = 0.35, maxBucket = 10000)
    val q = pairs.writeStream.format("memory").queryName("sd_vec")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      copies.coalesce(1).write.mode("append").parquet(in) // later micro-batch
      q.processAllAvailable()
      val got = spark.sql("select vec_a, vec_b, cos from sd_vec")
        .as[(Long, Long, Double)].collect().toSet
      // every exact copy pairs with its base across the batch boundary
      (0L until 10L).foreach(id => assert(
        got.exists(p => p._1 == id && p._2 == id + 10000 && p._3 > 0.999),
        s"exact-duplicate pair $id missing"))
      // parity incl. bit-identical cosines with the batch operator
      val batch = graft.ops.Similarity.lshCosinePairs(
          base.unionByName(copies).drop("ts"), planes = 8, threshold = 0.35,
          maxBucket = 10000)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == batch,
        s"stream-only: ${got -- batch}; batch-only: ${batch -- got}")
    } finally q.stop()
  }
}
