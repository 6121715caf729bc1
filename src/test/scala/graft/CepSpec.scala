package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.ops.{Cep, CepMatch}
import graft.streaming.StreamCep

/** CEP sequence matching: kernel semantics, batch operator over the
  * fixture corpus, and batch-vs-streaming agreement under watermark close.
  */
class CepSpec extends SparkSpec {

  private def ts(sec: Long): Timestamp =
    new Timestamp((TranscriptGen.BaseEpoch + sec) * 1000L)

  private val pat = java.util.regex.Pattern.compile(Cep.searchRunPattern)

  private def turnsOf(symbols: String): IndexedSeq[(Int, Long, String)] =
    symbols.zipWithIndex.map { case (c, i) => (i, i * 7L, c.toString) }.toIndexedSeq

  // ------------------------------------------------------------- kernel

  test("kernel finds maximal greedy non-overlapping runs") {
    val m = Cep.matchConv("C", turnsOf("uasuasuascuasuas"), pat)
    // two runs: turns 0..8 (3 blocks) and 10..15 (2 blocks)
    assert(m.map(x => (x.match_seq, x.start_turn_idx, x.end_turn_idx, x.n_turns, x.symbols)) ==
      Vector((1L, 0, 8, 9L, "uasuasuas"), (2L, 10, 15, 6L, "uasuas")))
    assert(m.head.span_seconds == 8 * 7L)
  }

  test("kernel: single triple does not match, broken runs split") {
    assert(Cep.matchConv("C", turnsOf("uas"), pat).isEmpty)
    assert(Cep.matchConv("C", turnsOf("uasguas"), pat).isEmpty)
    assert(Cep.matchConv("C", turnsOf("uacuasuas"), pat).map(_.start_turn_idx) == Vector(3))
    assert(Cep.matchConv("C", turnsOf(""), pat).isEmpty)
  }

  test("kernel reports real turn_idx values, not string positions") {
    // sparse turn_idx (upstream filter dropped turns): positions follow
    // sort order, emitted indexes are the actual column values
    val sparse = IndexedSeq((5, 0L, "u"), (7, 7L, "a"), (9, 14L, "s"),
      (11, 21L, "u"), (13, 28L, "a"), (15, 35L, "s"))
    val m = Cep.matchConv("C", sparse, pat)
    assert(m.map(x => (x.start_turn_idx, x.end_turn_idx)) == Vector((5, 15)))
  }

  test("kernel never loops on zero-width-capable patterns") {
    val p = java.util.regex.Pattern.compile("a*")
    val m = Cep.matchConv("C", turnsOf("bbab"), p)
    assert(m.map(x => (x.start_turn_idx, x.n_turns)) == Vector((2, 1L)))
  }

  // ------------------------------------------------------------- batch op

  test("batch searchRuns finds episodes on the fixture corpus") {
    val turns = TranscriptGen.turnsDs(spark, 60, 10, 30).toDF()
    val got = Cep.searchRuns(turns).collect()
    assert(got.nonEmpty, "expected at least one uas-run episode")
    assert(got.forall(m => m.n_turns >= 6 && m.n_turns % 3 == 0))
    assert(got.forall(m => m.end_turn_idx - m.start_turn_idx + 1 == m.n_turns))
    assert(got.forall(m => m.symbols == "uas" * (m.n_turns / 3).toInt))
    // match_seq is dense 1..k per conversation
    got.groupBy(_.conv_id).values.foreach { ms =>
      assert(ms.map(_.match_seq).sorted.toSeq == (1L to ms.length).toSeq)
    }
  }

  test("batch operator is invariant to input partitioning") {
    val turns = TranscriptGen.turnsDs(spark, 40, 10, 20).toDF()
    val a = Cep.searchRuns(turns.repartition(1)).collect().toSet
    val b = Cep.searchRuns(turns.repartition(17, col("turn_idx"))).collect().toSet
    assert(a == b)
  }

  // ------------------------------------------------------------ streaming

  test("streaming matches agree with batch once conversations close") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val corpus = TranscriptGen.turnsDs(spark, 30, 10, 20).collect().toVector
    val (c1, c2) = corpus.partition(_.conv_id < "CONV_00000015")
    val mem = MemoryStream[Turn]
    // the fixture pulls ~4% of turns back one hour ("late" lane); a
    // watermark below that drops them pre-state (correct dropped-late
    // semantics, but then stream != batch by construction), so the
    // agreement run allows 2 hours of lateness
    val out = StreamCep.searchRuns(mem.toDS().toDF(),
      watermark = "2 hours", gap = "30 seconds")
    val outDir = Files.createTempDirectory("graft_cep_out").toString
    val ck = Files.createTempDirectory("graft_cep_ck").toString
    // the file sink, unlike the memory sink, resumes from its checkpoint
    def run() = out.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ck).start()
    // two micro-batches split mid-corpus with a RESTART between them (the
    // first chunk's buffers come back from the checkpoint), then a
    // far-future turn to advance the watermark past every close time
    val q1 = run()
    try {
      mem.addData(c1: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = run()
    try {
      mem.addData(c2: _*)
      q2.processAllAvailable()
      mem.addData(Turn("ZZZ_FLUSH", 0, "user", "x", null, ts(10_000_000L)))
      q2.processAllAvailable()
      val got = spark.read.schema(out.schema).parquet(outDir).as[CepMatch].collect()
        .filterNot(_.conv_id == "ZZZ_FLUSH").toSet
      val batch = Cep.searchRuns(spark.createDataset(corpus).toDF()).collect().toSet
      assert(got == batch,
        s"stream-only: ${got -- batch}; batch-only: ${batch -- got}")
      assert(got.nonEmpty)
    } finally q2.stop()
  }

  test("streaming emits nothing before the conversation closes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    def t(i: Int, role: String, sec: Long, tool: String = null) =
      Turn("C1", i, role, "x", tool, ts(sec))
    val q = StreamCep.searchRuns(mem.toDS().toDF(),
      watermark = "10 seconds", gap = "30 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("cep_hold").start()
    try {
      mem.addData(t(0, "user", 0), t(1, "agent", 1), t(2, "tool", 2, "search"),
        t(3, "user", 3), t(4, "agent", 4), t(5, "tool", 5, "search"))
      q.processAllAvailable()
      assert(spark.table("cep_hold").isEmpty, "emitted before close")
      mem.addData(Turn("C2", 0, "user", "x", null, ts(10_000L)))
      q.processAllAvailable()
      val rows = spark.table("cep_hold").as[CepMatch].collect()
      assert(rows.map(m => (m.conv_id, m.start_turn_idx, m.end_turn_idx)).toSeq ==
        Seq(("C1", 0, 5)))
    } finally q.stop()
  }

  test("streaming: an all-null-ts batch does not close the conversation early") {
    // regression: C1's deadline is 2 s + gap = 302 s; its null-ts turn
    // arrives at watermark -58 s. The watermark then reaches 251 s, past
    // watermark + gap but not 302 s, so C1 must stay open and match its
    // six turns once, not close early and split them
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    def t(c: String, i: Int, role: String, sec: Option[Long], tool: String = null) =
      Turn(c, i, role, "x", tool, sec.map(ts).orNull)
    val q = StreamCep.searchRuns(mem.toDS().toDF(),
      watermark = "1 minute", gap = "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("cep_null_ts").start()
    try {
      Seq(Seq(t("C1", 0, "user", Some(0)), t("C1", 1, "agent", Some(1)),
            t("C1", 2, "tool", Some(2), "search")),
          Seq(t("C1", 3, "user", None)),
          Seq(t("OTHER", 0, "user", Some(310))),
          Seq(t("OTHER", 1, "user", Some(311))),
          Seq(t("C1", 4, "agent", None), t("C1", 5, "tool", None, "search")),
          Seq(Turn("ZZZ_FLUSH", 0, "user", "x", null, ts(10_000L))))
        .foreach { batch => mem.addData(batch: _*); q.processAllAvailable() }
      val rows = spark.table("cep_null_ts").as[CepMatch].collect()
      assert(rows.map(m => (m.conv_id, m.start_turn_idx, m.end_turn_idx)).toSeq ==
        Seq(("C1", 0, 5)), rows.mkString(","))
    } finally q.stop()
  }
}
