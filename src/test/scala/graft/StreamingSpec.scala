package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.sink.ExactlyOnceSink
import graft.streaming.{DedupState, Sessionize, StreamValidate, TurnJoin}
import graft.validate.ValidationPipeline

/** Streaming-layer goldens: batch/stream parity, checkpoint resume,
  * exactly-once sink replay, stateful dedup, session windows, and the
  * stream-stream user⋈tool join (SURVEY.md §5.2 items 2-3, §2.4).
  */
class StreamingSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  private def ts(sec: Long): Timestamp =
    new Timestamp((TranscriptGen.BaseEpoch + sec) * 1000L)

  // ------------------------------------------------------------------ parity

  test("streaming decisions == batch decisions on the same corpus") {
    import spark.implicits._
    val in = tmp("in"); val out = tmp("out"); val ck = tmp("ck")
    val turns = TranscriptGen.turnsDs(spark, 40, 10, 20)
    turns.repartition(6).write.mode("append").parquet(in)

    val cfg = StreamValidate.Config(in, out, ck, withDedup = false, maxFilesPerTrigger = 2)
    val q = StreamValidate.start(spark, cfg, TranscriptGen.catalog)
    q.processAllAvailable(); q.stop()

    val sink = new ExactlyOnceSink(out)
    val streamed = sink.read(spark, "valid").select("conv_id", "turn_idx", "text")
      .unionByName(sink.read(spark, "rejected")
        .withColumn("text", lit(null).cast("string"))
        .select("conv_id", "turn_idx", "text"))
    val batch = ValidationPipeline.decide(spark, turns.toDF(), TranscriptGen.catalog).toDF()

    assert(sink.committedBatches().size > 1, "expected multiple micro-batches")
    assert(streamed.count() == batch.count())
    val sKeys = streamed.select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    val bKeys = batch.select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    assert(sKeys == bKeys)
    // valid rows carry the tidied text forward — spot-check equality
    val sValid = sink.read(spark, "valid").select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toMap2
    val bValid = batch.filter($"decision" === "valid")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().toMap2
    assert(sValid == bValid)
  }

  private implicit class Tup3Ops(rows: Array[(String, Int, String)]) {
    def toMap2: Map[(String, Int), String] = rows.map(r => (r._1, r._2) -> r._3).toMap
  }

  test("full stream job with dedup: duplicates collapse, late rows dropped and counted, webdata emitted") {
    import spark.implicits._
    val in = tmp("in_dd"); val out = tmp("out_dd"); val ck = tmp("ck_dd")
    val metricsPath = s"${tmp("m")}/metrics.jsonl"
    val listener = new StreamValidate.MetricsListener(metricsPath)
    spark.streams.addListener(listener)
    try {
      def user(i: Int, sec: Long, scenario: String) = {
        val text = TranscriptGen.userText(scenario, 1, 42L)
        Turn("CDD", i, "user", text, null, ts(sec))
      }
      // file 1: three turns + an exact duplicate of turn 0; one webdata turn
      Seq(user(0, 0, "valid_email"), user(1, 10, "webdata"),
        user(0, 12, "valid_email"), user(2, 20, "regex_fail"))
        .toDS().coalesce(1).write.mode("append").parquet(in)
      val cfg = StreamValidate.Config(in, out, ck, withDedup = true,
        watermark = "10 minutes", maxFilesPerTrigger = 1)
      val q = StreamValidate.start(spark, cfg, TranscriptGen.catalog)
      q.processAllAvailable() // batch 1 establishes the watermark
      // file 2 arrives later: fresh turn + a 2h-late turn (< watermark)
      Seq(user(3, 30, "valid_email"), user(9, -7200, "valid_email"))
        .toDS().coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable(); q.stop()

      val sink = new ExactlyOnceSink(out)
      val got = sink.read(spark, "valid").select("conv_id", "turn_idx")
        .unionByName(sink.read(spark, "rejected").select("conv_id", "turn_idx"))
        .as[(String, Int)].collect().toSeq.sorted
      // duplicate of turn 0 collapsed; late turn 9 dropped by watermark
      assert(got == Seq(("CDD", 0), ("CDD", 1), ("CDD", 2), ("CDD", 3)), got)
      assert(sink.read(spark, "webdata").count() == 1)
      val metricsTxt = new String(Files.readAllBytes(java.nio.file.Paths.get(metricsPath)))
      assert(metricsTxt.contains("\"dropped_late\":1"), metricsTxt)
    } finally spark.streams.removeListener(listener)
  }

  // -------------------------------------------------------- checkpoint resume

  test("checkpoint stop/restart resumes without duplicate or lost rows") {
    import spark.implicits._
    val in = tmp("in2"); val out = tmp("out2"); val ck = tmp("ck2")
    val all = TranscriptGen.turnsDs(spark, 30, 10, 0).collect()
    val (first, second) = all.splitAt(all.length / 2)

    first.toSeq.toDS().repartition(3).write.mode("append").parquet(in)
    val cfg = StreamValidate.Config(in, out, ck, withDedup = false, maxFilesPerTrigger = 2)
    val q1 = StreamValidate.start(spark, cfg, TranscriptGen.catalog)
    q1.processAllAvailable(); q1.stop()

    second.toSeq.toDS().repartition(3).write.mode("append").parquet(in)
    val q2 = StreamValidate.start(spark, cfg, TranscriptGen.catalog)
    q2.processAllAvailable(); q2.stop()

    val sink = new ExactlyOnceSink(out)
    val got = sink.read(spark, "valid").select("conv_id", "turn_idx")
      .unionByName(sink.read(spark, "rejected").select("conv_id", "turn_idx"))
      .as[(String, Int)].collect()
    assert(got.length == got.distinct.length, "duplicates after restart")
    val want = all.filter(_.text != null).map(t => (t.conv_id, t.turn_idx)).toSet
    assert(got.toSet == want, "lost or extra rows after restart")
  }

  test("per-batch catalog refresh: entity added mid-stream is honored by the next micro-batch (fused + relational)") {
    import spark.implicits._
    for (relational <- Seq(false, true)) {
      val tag = if (relational) "rel" else "fused"
      val in = tmp(s"in_cr_$tag"); val out = tmp(s"out_cr_$tag")
      val ck = tmp(s"ck_cr_$tag"); val cat = tmp(s"cat_cr_$tag")
      // stale catalog: the scenario's target entity (PER_TARGET0 for
      // u=1, h=42) does not exist yet → TARGET_MISSING rejection
      graft.model.CatalogIO.write(spark, cat,
        TranscriptGen.entities.filterNot(_.code == "PER_TARGET0"),
        TranscriptGen.defAllowed, TranscriptGen.attributeDefs)
      def turn(i: Int) = Turn("CREF", i, "user",
        TranscriptGen.userText("valid_email", 1, 42L), null, ts(i))
      Seq(turn(0)).toDS().coalesce(1).write.mode("append").parquet(in)
      val cfg = StreamValidate.Config(in, out, ck, withDedup = false,
        maxFilesPerTrigger = 10, catalogDir = Some(cat), relational = relational)
      val q = StreamValidate.start(spark, cfg, TranscriptGen.catalog)
      q.processAllAvailable()
      // catalog update lands mid-stream; the NEXT micro-batch must see it
      graft.model.CatalogIO.write(spark, cat, TranscriptGen.entities,
        TranscriptGen.defAllowed, TranscriptGen.attributeDefs)
      Seq(turn(1)).toDS().coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable(); q.stop()
      val sink = new ExactlyOnceSink(out)
      val rejected = sink.read(spark, "rejected").select("turn_idx", "reason")
        .as[(Int, String)].collect().toMap
      val valid = sink.read(spark, "valid").select("turn_idx").as[Int].collect().toSet
      assert(rejected.get(0).contains("TARGET_MISSING"),
        s"[$tag] pre-update turn should reject TARGET_MISSING, got $rejected")
      assert(valid == Set(1),
        s"[$tag] post-update turn should be valid, got valid=$valid rejected=$rejected")
    }
  }

  // ------------------------------------------------------- exactly-once sink

  test("sink replay of a committed batch is a no-op; torn write is repaired") {
    import spark.implicits._
    val out = tmp("out3")
    val sink = new ExactlyOnceSink(out)
    val dec = ValidationPipeline.decide(spark,
      TranscriptGen.turnsDs(spark, 5, 10, 0).toDF(), TranscriptGen.catalog).toDF()

    sink.writeBatch(dec, 7L)
    val n1 = sink.read(spark, "valid").count()
    sink.writeBatch(dec, 7L) // replay
    assert(sink.read(spark, "valid").count() == n1)

    // torn write: decisions landed for batch 8 but no commit marker
    dec.limit(3).withColumn("partition_id", spark_partition_id())
      .write.mode("overwrite").parquet(s"$out/data/batch_id=8")
    assert(sink.read(spark, "valid").count() == n1, "uncommitted batch visible")
    sink.writeBatch(dec, 8L) // repair overwrites the torn partition
    assert(sink.read(spark, "valid").filter($"batch_id" === 8).count() ==
      dec.filter($"decision" === "valid").count())
  }

  /** Commits one batch, leaves `debris` in the sink dir, and checks that
    * every read kind still returns the same rows.
    */
  private def readsIgnore(tag: String)(debris: String => Unit): ExactlyOnceSink = {
    val out = tmp(tag)
    val sink = new ExactlyOnceSink(out)
    sink.writeBatch(ValidationPipeline.decide(spark,
      TranscriptGen.turnsDs(spark, 5, 10, 0).toDF(), TranscriptGen.catalog).toDF(), 1L)
    val kinds = Seq("decisions", "valid", "rejected", "webdata", "metrics")
    val want = kinds.map(k => k -> sink.read(spark, k).count())
    debris(out)
    assert(kinds.map(k => k -> sink.read(spark, k).count()) == want)
    sink
  }

  test("sink reads skip a torn non-parquet file in an uncommitted batch dir") {
    readsIgnore("out_torn") { out =>
      // batch 0's dir lists first, so schema inference over all of data/
      // would read this footer
      val torn = Paths.get(s"$out/data/batch_id=0/part-00000-torn.parquet")
      Files.createDirectories(torn.getParent)
      Files.write(torn, "not a parquet file".getBytes(UTF_8))
    }
  }

  test("sink reads ignore a temp marker left by a crash mid-publish") {
    // the crash fell between the temp-marker write and its ATOMIC_MOVE
    val sink = readsIgnore("out_tmpmark")(out =>
      Files.write(Paths.get(s"$out/_commits/.tmp_2"), "2".getBytes(UTF_8)))
    assert(sink.committedBatches() == Set(1L))
  }

  /** Spark jobs started while `f` runs, on any thread, counted by a
    * SparkListener between two marker jobs: the listener bus delivers job
    * starts in order, so the end marker arrives after every job `f` ran.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.marker"))).getOrElse("job"))
    }
    def marker(name: String): Unit = {
      sc.setLocalProperty("graft.marker", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.marker", null)
    }
    sc.addSparkListener(listener)
    try {
      marker("begin"); f; marker("end")
      var jobs = -1
      var e = ""
      while ({
        e = starts.poll(60, TimeUnit.SECONDS)
        assert(e != null, "listener bus not flushed")
        e != "end"
      }) jobs = if (e == "begin") 0 else if (jobs >= 0) jobs + 1 else jobs
      jobs
    } finally sc.removeSparkListener(listener)
  }

  test("sink: one job per batch, none on replay; reads equal the routes and per-partition metrics") {
    val out = tmp("out_views")
    val sink = new ExactlyOnceSink(out)
    val frame = ValidationPipeline.decide(spark,
      TranscriptGen.turnsDs(spark, 20, 10, 0).toDF(), TranscriptGen.catalog).toDF()
      .repartition(3).localCheckpoint()
    assert(jobsOf(sink.writeBatch(frame, 5L)) == 1)
    assert(jobsOf(sink.writeBatch(frame, 5L)) == 0) // replay
    def same(got: DataFrame, want: DataFrame, what: String): Unit = {
      assert(got.columns.toSeq == want.columns.toSeq, what)
      assert(got.count() == want.count() && got.exceptAll(want).isEmpty &&
        want.exceptAll(got).isEmpty, what)
    }
    val (valid, rejected, webdata) = ValidationPipeline.routes(frame)
    assert(valid.count() > 0 && rejected.count() > 0 && webdata.count() > 0)
    same(sink.read(spark, "valid").drop("batch_id"), valid, "valid")
    same(sink.read(spark, "rejected").drop("batch_id"), rejected, "rejected")
    same(sink.read(spark, "webdata").drop("batch_id"), webdata, "webdata")
    // the per-(batch, partition) aggregate the sink used to write as a table
    val metrics = frame.withColumn("partition_id", spark_partition_id())
      .groupBy(col("partition_id"))
      .agg(
        sum(when(col("decision") === "valid", 1L).otherwise(0L)).as("rows_validated"),
        sum(when(col("decision") === "rejected", 1L).otherwise(0L)).as("rows_rejected"),
        min("ts").as("ts_min"), max("ts").as("ts_max"))
      .withColumn("batch_id", lit(5L))
    assert(metrics.count() == 3)
    same(sink.read(spark, "metrics"), metrics, "metrics")
  }

  // ------------------------------------------------------------ dedup state

  test("stateful dedup: first wins, duplicates dropped, out-of-order flagged") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val deduped = DedupState.dedup(spark, mem.toDS(), watermark = "1 minute", gap = "5 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()

    def t(c: String, i: Int, sec: Long) = Turn(c, i, "user", s"m$i", null, ts(sec))
    mem.addData(t("C1", 0, 0), t("C1", 1, 10), t("C1", 0, 12)) // dup of turn 0
    q.processAllAvailable()
    mem.addData(t("C1", 3, 20), t("C1", 2, 25)) // turn 2 arrives after 3
    q.processAllAvailable()
    val rows = spark.table("dedup_out")
      .select("conv_id", "turn_idx", "out_of_order")
      .as[(String, Int, Boolean)].collect().sortBy(_._2)
    q.stop()
    assert(rows.map(_._2).toSeq == Seq(0, 1, 2, 3), s"got ${rows.toSeq}")
    assert(rows.count(_._3) == 1 && rows.find(_._3).get._2 == 2)
  }

  test("stateful dedup: an all-null-ts batch does not pull the close deadline earlier") {
    // regression: real-ts turn (deadline ts+gap), then a null-ts turn of the
    // same conversation; the watermark then passes watermark+gap but not
    // ts+gap — the conversation must stay open and suppress the replay
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val q = DedupState.dedup(spark, mem.toDS(), "1 minute", "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_null_ts").start()
    def t(c: String, i: Int, sec: Option[Long]) =
      Turn(c, i, "user", s"m$i", null, sec.map(ts).orNull)
    mem.addData(t("N1", 0, Some(0))) // deadline 300 s
    q.processAllAvailable()
    mem.addData(t("N1", 1, None)) // watermark -60 s: fallback 240 s
    q.processAllAvailable()
    mem.addData(t("OTHER", 0, Some(310))) // watermark -> 250 s
    q.processAllAvailable()
    mem.addData(t("OTHER", 1, Some(311))) // timeouts run at watermark 250 s
    q.processAllAvailable()
    mem.addData(t("N1", 0, None)) // replay of N1/0
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_null_ts").select("conv_id", "turn_idx")
      .as[(String, Int)].collect().toSeq.sorted
    assert(rows == Seq(("N1", 0), ("N1", 1), ("OTHER", 0), ("OTHER", 1)), rows)
  }

  test("stateful dedup survives a batch spanning far more event time than the gap") {
    // regression: a wide batch (backfill shape) advances the watermark past
    // old conversations' natural close time; the timeout must clamp to
    // watermark+1 instead of throwing "Timeout timestamp cannot be earlier
    // than the current watermark".
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val q = DedupState.dedup(spark, mem.toDS(), "1 minute", "5 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_wide").start()
    def t(c: String, i: Int, sec: Long) = Turn(c, i, "user", s"m$i", null, ts(sec))
    // one batch spanning ~3 years of event time across conversations
    mem.addData(t("W_OLD", 0, 0), t("W_NEW", 0, 94608000L))
    q.processAllAvailable()
    // next batch: W_OLD's close time is far behind the watermark now
    mem.addData(t("W_NEW", 1, 94608010L))
    q.processAllAvailable()
    mem.addData(t("W_NEW", 2, 94608020L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_wide").select("conv_id", "turn_idx").collect()
    assert(rows.length == 4, rows.mkString(","))
  }

  test("stateful dedup runs on the RocksDB state store provider") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Turn]
      val q = DedupState.dedup(spark, mem.toDS(), "1 minute", "5 minutes")
        .writeStream.outputMode("append").format("memory")
        .queryName("dedup_rocks").start()
      def t(c: String, i: Int, sec: Long) = Turn(c, i, "user", s"m$i", null, ts(sec))
      mem.addData(t("R1", 0, 0), t("R1", 0, 5), t("R1", 1, 10))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("dedup_rocks").select("turn_idx").as[Int].collect().sorted
      assert(rows.toSeq == Seq(0, 1))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sink metrics table: per-partition lineage rows committed with the batch") {
    import spark.implicits._
    val out = tmp("out_m")
    val sink = new ExactlyOnceSink(out)
    val dec = ValidationPipeline.decide(spark,
      TranscriptGen.turnsDs(spark, 8, 10, 0).toDF(), TranscriptGen.catalog).toDF()
    sink.writeBatch(dec, 3L)
    val m = sink.read(spark, "metrics")
    val (v, r) = (m.agg(sum("rows_validated")).head().getLong(0),
      m.agg(sum("rows_rejected")).head().getLong(0))
    assert(v == dec.filter(col("decision") === "valid").count())
    assert(r == dec.filter(col("decision") === "rejected").count())
    assert(m.select("partition_id").distinct().count() >= 1)
  }

  test("batch dedup keeps exactly one row per (conv_id, turn_idx)") {
    import spark.implicits._
    val turns = TranscriptGen.turnsDs(spark, 10, 10, 0)
    val withDups = turns.union(turns.limit(25))
    val dd = DedupState.dedupBatch(spark, withDups)
    assert(dd.count() == turns.count())
  }

  // ---------------------------------------------------------- session window

  test("session windows split on gap and close under watermark (streaming)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val sess = Sessionize.sessions(mem.toDS().toDF(), gap = "1 minute",
      watermark = Some("30 seconds"))
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    def t(c: String, i: Int, sec: Long) = Turn(c, i, "user", "x", null, ts(sec))
    // session 1: 0..30s; gap > 1min; session 2: 200..210s
    mem.addData(t("S1", 0, 0), t("S1", 1, 30), t("S1", 2, 200), t("S1", 3, 210))
    q.processAllAvailable()
    mem.addData(t("S1", 4, 1000)) // advances watermark, closes both sessions
    q.processAllAvailable()
    val rows = spark.table("sess_out")
      .select("conv_id", "n_turns").as[(String, Long)].collect()
    q.stop()
    assert(rows.sortBy(_._2).map(_._2).toSeq == Seq(2, 2), s"got ${rows.toSeq}")
  }

  test("batch sessionize matches gaps-and-islands on fixtures") {
    import spark.implicits._
    val turns = TranscriptGen.turnsDs(spark, 20, 10, 0).toDF()
    val s = Sessionize.sessions(turns, gap = "1 minute")
    // per-conversation turn counts are conserved
    val bySess = s.groupBy("conv_id").agg(sum("n_turns").as("n")).as[(String, Long)].collect().toMap
    val byConv = turns.groupBy("conv_id").count().as[(String, Long)].collect().toMap
    assert(bySess == byConv)
    assert(s.filter($"session_end" < $"session_start").count() == 0)
  }

  test("tumbling windows close under watermark and emit once (streaming)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val win = graft.streaming.TimeWindows.tumbling(mem.toDS().toDF(),
      size = "1 minute", watermark = Some("30 seconds"))
    val q = win.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    def t(c: String, i: Int, sec: Long) = Turn(c, i, "user", "x", null, ts(sec))
    mem.addData(t("W1", 0, 0), t("W1", 1, 10), t("W1", 2, 70))
    q.processAllAvailable()
    mem.addData(t("W1", 3, 1000)) // advances watermark past both windows
    q.processAllAvailable()
    val rows = spark.table("win_out").select("n_turns").as[Long].collect().sorted
    q.stop()
    assert(rows.toSeq == Seq(1, 2), s"got ${rows.toSeq}") // [0,1min)=2, [1,2min)=1
  }

  // ------------------------------------------------------- stream-stream join

  test("user⋈tool interval join pairs tool turns within the horizon") {
    import spark.implicits._
    def t(c: String, i: Int, role: String, sec: Long, tool: String = null) =
      Turn(c, i, role, "x", tool, ts(sec))
    val turns = Seq(
      t("J1", 0, "user", 0), t("J1", 1, "tool", 60, "search"),
      t("J1", 2, "user", 120), t("J1", 3, "tool", 350, "calc"), // in range of turn 2 only
      t("J2", 0, "user", 0) // no tool reply
    ).toDS().toDF()
    val joined = TurnJoin.userToolPairs(turns, horizon = "5 minutes")
      .select("conv_id", "u_turn_idx", "t_turn_idx").as[(String, Int, Int)].collect().toSet
    assert(joined == Set(("J1", 0, 1), ("J1", 2, 3)))
  }

  // ------------------------------------------------------ kill-and-resume

  test("chaos: kill mid-corpus + resume from checkpoint equals the uninterrupted run (1M rows, stateful)") {
    val in = tmp("in_chaos")
    TranscriptGen.turnsDs(spark, 100000, 10, 0).repartition(16)
      .write.mode("append").parquet(in)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Spark 4.1's state-store commit validation is tracked by the
    // application-global StateStoreCoordinator: the deliberate mid-batch
    // kill leaves that batch's partial commit bookkeeping behind, and the
    // RESUMED query incarnation (same SparkContext, same coordinator) can
    // then fail validation for a batch it replays cleanly — observed as a
    // ~1-in-3 STATE_STORE_COMMIT_VALIDATION_FAILED flake in otherwise
    // green runs. A production restart is a fresh JVM with a fresh
    // coordinator, so the race is a same-process harness artifact;
    // exactly-once is judged by the post-resume output-equality
    // assertions below, not by the validator.
    val prevCv = spark.conf.getOption(
      "spark.sql.streaming.stateStore.commitValidation.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    try {
      // watermark >> corpus span so late-drop behavior cannot depend on
      // batch boundaries — the comparison isolates exactly-once delivery
      val outA = tmp("out_chaos_a"); val ckA = tmp("ck_chaos_a")
      val cfgA = StreamValidate.Config(in, outA, ckA, withDedup = true,
        watermark = "3650 days", maxFilesPerTrigger = 4, availableNow = true)
      val qA = StreamValidate.start(spark, cfgA, TranscriptGen.catalog)
      qA.awaitTermination(); qA.stop()

      // chaos run: same topology, killed after >= 2 committed batches with
      // the 3rd in flight (its write may be torn; the manifest suppresses
      // or repairs it on restart)
      val outB = tmp("out_chaos_b"); val ckB = tmp("ck_chaos_b")
      val cfgB = cfgA.copy(outDir = outB, checkpointDir = ckB, availableNow = false)
      val sinkB = new ExactlyOnceSink(outB)
      val qB1 = StreamValidate.start(spark, cfgB, TranscriptGen.catalog)
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (sinkB.committedBatches().size < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)
      // The deliberate mid-batch kill can race Spark 4.1's state-store
      // commit validation: interrupted tasks commit 0 of N partitions, the
      // validator throws ("Expected N commits but got 0"), the query is
      // marked FAILED, and stop() rethrows the terminal exception. Any
      // failure mode of the query being killed is in-scope for chaos —
      // exactly-once is judged by the post-resume equality below.
      try qB1.stop()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      assert(sinkB.committedBatches().size >= 2, "no committed progress before the kill")
      val qB2 = StreamValidate.start(spark, cfgB.copy(availableNow = true),
        TranscriptGen.catalog)
      qB2.awaitTermination(); qB2.stop()

      // committed output equals the uninterrupted run's, row for row
      val sinkA = new ExactlyOnceSink(outA)
      Seq("valid", "rejected", "webdata").foreach { table =>
        val a = sinkA.read(spark, table).drop("batch_id")
        val b = sinkB.read(spark, table).drop("batch_id")
        assert(a.count() == b.count(), s"$table row count differs")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$table content differs after kill+resume")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCv match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.commitValidation.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.commitValidation.enabled")
      }
    }
  }

  test("stream-stream join runs with bounded state (watermarked)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val joined = TurnJoin.userToolPairs(mem.toDS().toDF(), horizon = "2 minutes",
      watermark = Some("1 minute"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("join_out").start()
    def t(c: String, i: Int, role: String, sec: Long) = Turn(c, i, role, "x",
      if (role == "tool") "search" else null, ts(sec))
    mem.addData(t("C1", 0, "user", 0), t("C1", 1, "tool", 30))
    q.processAllAvailable()
    mem.addData(t("C1", 2, "user", 60), t("C1", 3, "tool", 90), t("C1", 9, "user", 2000))
    q.processAllAvailable()
    val rows = spark.table("join_out").select("u_turn_idx", "t_turn_idx")
      .as[(Int, Int)].collect().toSet
    q.stop()
    assert(rows.contains((0, 1)) && rows.contains((2, 3)))
    assert(!rows.exists(_._1 == 9))
  }

  test("built-in dropDuplicatesWithinWatermark agrees with the custom state dedup") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(c: String, i: Int, role: String, sec: Long) =
      Turn(c, i, role, "x", null, ts(sec))
    val data = Seq(
      t("D1", 0, "user", 0), t("D1", 0, "user", 5), // replay within watermark
      t("D1", 1, "tool", 30), t("D1", 1, "tool", 40),
      t("D2", 0, "user", 10), t("D1", 2, "user", 60))
    val mem1 = MemoryStream[Turn]
    val mem2 = MemoryStream[Turn]
    val custom = DedupState.dedup(spark, mem1.toDS())
    val builtin = mem2.toDS().toDF().withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")
    val q1 = custom.writeStream.outputMode("append")
      .format("memory").queryName("dd_custom").start()
    val q2 = builtin.writeStream.outputMode("append")
      .format("memory").queryName("dd_builtin").start()
    mem1.addData(data: _*); mem2.addData(data: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    def surviving(table: String) = spark.table(table)
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    val (c, b) = (surviving("dd_custom"), surviving("dd_builtin"))
    q1.stop(); q2.stop()
    assert(c == b, s"custom $c vs builtin $b")
    assert(c == Set(("D1", 0), ("D1", 1), ("D1", 2), ("D2", 0)))
    // the custom operator earns its keep over the built-in by ALSO
    // emitting ordering lineage + counting replays in bounded state;
    // this test pins that its core keep/drop set is the standard one
  }

  test("left-outer stream-stream join: unanswered turn emits nulls only after the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    val joined = TurnJoin.userToolPairsOuter(mem.toDS().toDF(),
      horizon = "2 minutes", watermark = Some("1 minute"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("outer_join_out").start()
    def t(c: String, i: Int, role: String, sec: Long) = Turn(c, i, role, "x",
      if (role == "tool") "search" else null, ts(sec))
    def rows() = spark.table("outer_join_out")
      .select(col("u_turn_idx"), col("t_turn_idx")).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSet
    // C1/0 answered; C2/0 never answered — its no-match is NOT final while
    // the watermark is short of u_ts + horizon, so nothing outer-emits yet
    mem.addData(t("C1", 0, "user", 0), t("C1", 1, "tool", 30), t("C2", 0, "user", 10))
    q.processAllAvailable()
    assert(rows() == Set((0, 1)))
    // advance event time far past C2/0 + horizon + watermark on BOTH sides
    mem.addData(t("C3", 0, "user", 1000), t("C3", 1, "tool", 1010))
    q.processAllAvailable()
    mem.addData(t("C4", 0, "user", 2000), t("C4", 1, "tool", 2010))
    q.processAllAvailable()
    val got = rows()
    q.stop()
    assert(got.contains((0, -1)), s"unanswered C2/0 should outer-emit nulls, got $got")
  }
}
