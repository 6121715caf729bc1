package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.sink.ManifestSink
import graft.streaming.StreamCuration

/** Streaming curation composition: ingest → online exact+near dedup →
  * lang/length gate → exactly-once sink, as ONE running query — survivor
  * set agrees with the batch `Curation.curateMinhash` on the same corpus,
  * including across a checkpoint stop/resume.
  */
class StreamCurationSpec extends SparkSpec {

  /** Corpus in three id-ordered chunks (one file each → one micro-batch
    * each at maxFilesPerTrigger=1):
    *  1. bases: docs 0..39 of the sf0.001 documents table;
    *  2. exact copies (+100000) of docs 0..9 and mutated near-dups
    *     (+200000, every 10th word replaced) of docs 0..9;
    *  3. post-restart chunk: exact copies (+300000) of docs 10..19 plus
    *     fresh docs 40..49.
    */
  private lazy val chunks: Seq[org.apache.spark.sql.DataFrame] = {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def at(d: org.apache.spark.sql.DataFrame, offset: Long, tsBase: Long) =
      d.select((col("doc_id") + offset).as("doc_id"), col("text"),
        (col("doc_id") + TranscriptGen.BaseEpoch + tsBase).cast("timestamp").as("ts"))
    val ws = split(lower(trim(col("text"))), "\\s+")
    val mutated = docs.filter(col("doc_id") < 10)
      .withColumn("text", concat_ws(" ",
        transform(ws, (w, i) => when(i % 10 === 0, lit("xmutx")).otherwise(w))))
    Seq(
      at(docs.filter(col("doc_id") < 40), 0, 0),
      at(docs.filter(col("doc_id") < 10), 100000, 100)
        .unionByName(at(mutated, 200000, 150)),
      at(docs.filter(col("doc_id") >= 10 && col("doc_id") < 20), 300000, 200)
        .unionByName(at(docs.filter(col("doc_id") >= 40 && col("doc_id") < 50), 0, 250)))
  }

  private def cfg(in: String, out: String, ck: String) = StreamCuration.Config(
    inputDir = in, outDir = out, checkpointDir = ck,
    numHashes = 64, bands = 16, threshold = 0.3, lang = "en", minTokens = 3,
    maxFilesPerTrigger = 1, availableNow = true)

  test("survivor set == batch curateMinhash, across micro-batches AND a checkpoint restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_sc_in").toString
    val out = Files.createTempDirectory("graft_sc_out").toString
    val ck = Files.createTempDirectory("graft_sc_ck").toString

    // phase 1: chunks 1+2 (separate files → separate micro-batches)
    chunks(0).coalesce(1).write.mode("append").parquet(in)
    chunks(1).coalesce(1).write.mode("append").parquet(in)
    val q1 = StreamCuration.start(spark, cfg(in, out, ck))
    q1.awaitTermination(); q1.stop()

    def survivors(): Set[Long] =
      new ManifestSink(out).read(spark)
        .select("doc_id").as[Long].collect().toSet
    def batchSurvivors(corpus: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.ops.Curation.curateMinhash(corpus.drop("ts"),
          threshold = 0.3, lang = "en", minTokens = 3)
        .select("doc_id").as[Long].collect().toSet

    val mid = survivors()
    val midBatch = batchSurvivors(chunks(0).unionByName(chunks(1)))
    assert(mid == midBatch,
      s"stream-only: ${mid -- midBatch}; batch-only: ${midBatch -- mid}")
    // dedup actually suppressed the planted copies: every EXACT copy dies;
    // mutated near-dups die exactly when they cross the threshold (some of
    // the shorter docs legitimately fall under 0.3 — in BOTH engines, which
    // the set equality above already proved)
    assert(!mid.exists(id => id >= 100000 && id < 200000),
      s"exact copy survived: ${mid.filter(id => id >= 100000 && id < 200000)}")
    assert(mid.count(_ >= 200000) < 10, "no mutated near-dup was suppressed")
    assert(mid.nonEmpty)

    // phase 2: RESTART from the checkpoint, ingest chunk 3. Exact copies
    // of docs 10..19 must be suppressed by bucket state the restarted
    // query recovers FROM THE CHECKPOINT (their originals arrived before
    // the stop); fresh docs 40..49 pass.
    chunks(2).coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamCuration.start(spark, cfg(in, out, ck))
    q2.awaitTermination(); q2.stop()

    val fin = survivors()
    val finBatch = batchSurvivors(
      chunks(0).unionByName(chunks(1)).unionByName(chunks(2)))
    assert(fin == finBatch,
      s"stream-only: ${fin -- finBatch}; batch-only: ${finBatch -- fin}")
    // cross-restart suppression: none of the +300000 exact copies survive
    assert(fin.forall(_ < 300000), s"post-restart copy survived: ${fin.filter(_ >= 300000)}")
    // the fresh docs of chunk 3 that pass the batch gate arrived post-restart
    assert(fin.exists(id => id >= 40 && id < 50), "no post-restart fresh doc survived")
    // gate actually gates: some ingested doc failed lang/length in BOTH forms
    val all = chunks.map(_.count()).sum
    assert(fin.size < all)
  }

  test("an all-null-ts batch does not close a bucket early") {
    // regression: doc 1 at 0 s sets its buckets' deadline to 300 s; copy 2
    // arrives with null ts at watermark -60 s; unrelated docs at 310 s and
    // 311 s move the watermark to 251 s (past watermark + gap, not 300 s).
    // The buckets must still hold doc 1 when copy 3 arrives, so 3 is dropped
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = StreamCuration.verdicts(spark, mem.toDS().toDF("doc_id", "text", "ts"),
        StreamCuration.Config(inputDir = "", outDir = "", checkpointDir = "",
          watermark = "1 minute", gap = "5 minutes"))
      .writeStream.format("memory").queryName("sc_null_ts")
      .outputMode("append").start()
    def ts(sec: Long) = new Timestamp((TranscriptGen.BaseEpoch + sec) * 1000L)
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    try {
      Seq((1L, text, ts(0)), (2L, text, null),
          (10L, "completely different words entirely here now", ts(310)),
          (11L, "another unrelated document body of text", ts(311)),
          (3L, text, null))
        .foreach { row => mem.addData(row); q.processAllAvailable() }
      val dropped = spark.table("sc_null_ts").groupBy("doc_id")
        .agg(max(col("dropped").cast("int")).as("d"))
        .as[(Long, Int)].collect().toMap
      assert(dropped == Map(1L -> 0, 2L -> 1, 10L -> 0, 11L -> 0, 3L -> 1), dropped)
    } finally q.stop()
  }

  test("the exact lane never saturates: copies past maxBucket are still dropped") {
    // four exact copies over two micro-batches with maxBucket = 2: every
    // MinHash bucket saturates at the second copy and votes keep from then
    // on, so only the exact lane's one member drops copies 3 and 4
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = StreamCuration.verdicts(spark, mem.toDS().toDF("doc_id", "text", "ts"),
        StreamCuration.Config(inputDir = "", outDir = "", checkpointDir = "", maxBucket = 2))
      .writeStream.format("memory").queryName("sc_exact_cap")
      .outputMode("append").start()
    def ts(sec: Long) = new Timestamp((TranscriptGen.BaseEpoch + sec) * 1000L)
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    try {
      Seq(Seq(1L, 2L), Seq(3L, 4L)).foreach { ids =>
        mem.addData(ids.map(id => (id, text, ts(id))): _*)
        q.processAllAvailable()
      }
      val lanes = spark.table("sc_exact_cap").select("doc_id", "band", "dropped")
        .as[(Long, Int, Boolean)].collect()
      val dropped = lanes.groupBy(_._1).map { case (id, vs) => id -> vs.exists(_._3) }
      assert(dropped == Map(1L -> false, 2L -> true, 3L -> true, 4L -> true), dropped)
      val late = lanes.filter(_._1 >= 3)
      assert(late.filter(_._2 >= 0).forall(!_._3), "a saturated MinHash lane dropped a copy")
      assert(late.count(l => l._2 == -1 && l._3) == 2, late.toSeq)
    } finally q.stop()
  }

  test("plan: exactly ONE stateful operator; the state exchange is the only shuffle") {
    // The design claim: lane fan-out and gate columns are narrow; the
    // (band, bucket)-keyed state inserts the single exchange; the per-doc
    // collapse lives in foreachBatch, OUTSIDE the stream plan — so no
    // second stateful operator for the correctness checker to reject.
    val docs = spark.readStream
      .schema("doc_id long, text string, ts timestamp")
      .parquet(java.nio.file.Files.createTempDirectory("graft_sc_plan").toString)
    val plan = StreamCuration.verdicts(spark, docs, StreamCuration.Config(
        inputDir = "", outDir = "", checkpointDir = ""))
      .queryExecution.analyzed.toString
    assert("FlatMapGroupsWithState".r.findAllIn(plan).length == 1, plan.take(1500))
    assert(!plan.contains("Deduplicate"), plan.take(1500))
  }

  test("replayed batch after a torn write is suppressed by the manifest") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sc_sink").toString
    val sink = new graft.sink.ManifestSink(out)
    val df = Seq((1L, "en", 5), (2L, "en", 7)).toDF("doc_id", "lang_pred", "ws_tokens")
    sink.writeBatch(df, 0L)
    // replay with DIFFERENT content — must be a no-op (already committed)
    sink.writeBatch(df.withColumn("doc_id", col("doc_id") + 100), 0L)
    assert(sink.read(spark).select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // torn write: data present, no commit marker → excluded from reads
    df.withColumn("doc_id", col("doc_id") + 500)
      .write.mode("overwrite").parquet(s"$out/data/batch_id=9")
    assert(sink.read(spark).select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // completing the batch publishes it
    sink.writeBatch(df.withColumn("doc_id", col("doc_id") + 500), 9L)
    assert(sink.read(spark).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 501L, 502L))
  }
}
