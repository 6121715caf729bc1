package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.model.{ParsedTurn, Schemas, Turn}
import graft.sink.ExactlyOnceSink
import graft.streaming.DedupState
import graft.validate.{Evaluator, JsonParse, RelationalValidation, TokenCodec, ValidationPipeline}

/** Per-layer metrics of a traced run. Each probe calls one layer through
  * graft's public entry points inside its own span.
  */
object Probes {
  val HeldOut = 20000
  val MicroPasses = 5

  def record(ctx: Ctx, in: Input, runs: Seq[StreamRun], overhead: Double): Unit = {
    val rep = ctx.report
    ctx.phase("probe validate micro")(validateMicro(ctx, in))
    ctx.phase("probe validate throughput")(validateThroughput(ctx, in))
    ctx.phase("probe validate counts")(validateCounts(ctx, in))
    rep.put("source.tps", ctx.phase("probe source")(
      ctx.span("probe.source")(streamTps(ctx, in, identity))), "1/s")
    batchPhases(ctx, runs)
    ctx.phase("probe state")(state(ctx, in, runs.last))
    ctx.phase("probe sink")(sink(ctx, in, runs.last))
    engine(ctx, runs)
    rep.put("trace.overhead_share", overhead, "ratio")
  }

  private def timedNs(f: => Unit): Long = { val t0 = System.nanoTime(); f; System.nanoTime() - t0 }

  /** Single-thread ns per turn of each hot-path step over a held-out sample
    * (another seed of the same layout), median of `MicroPasses` passes after
    * one untimed pass.
    */
  def validateMicro(ctx: Ctx, in: Input): Unit = ctx.span("probe.validate_micro") {
    val held = new Gen(in.layout.copy(rows = HeldOut.toLong), ctx.args.seed + 7919L)
    val turns = (0 until HeldOut).map(k => held.turn(k.toLong)).filter(_.text != null).toArray
    val n = turns.length
    val tidied = new Array[String](n)
    val parsed = new Array[ParsedTurn](n)
    var sink = 0L
    def pass(): Seq[Long] = Seq(
      timedNs { var i = 0; while (i < n) { tidied(i) = JsonParse.tidy(turns(i).text); i += 1 } },
      timedNs {
        var i = 0
        while (i < n) {
          val t = turns(i)
          parsed(i) = ParsedTurn(t.conv_id, t.turn_idx, t.role, tidied(i), t.tool, t.ts,
            JsonParse.parseEnvelope(tidied(i)))
          i += 1
        }
      },
      timedNs {
        var i = 0
        while (i < n) {
          val e = parsed(i).msg
          if (e != null && e.token != null) sink += TokenCodec.decode(e.token).size
          i += 1
        }
      },
      timedNs {
        var i = 0
        while (i < n) {
          sink += Evaluator.evalTurn(parsed(i), in.cat, enableBlacklist = true).decision.length
          i += 1
        }
      })
    pass()
    val passes = (1 to MicroPasses).map(_ => pass())
    Seq("tidy", "parse", "token", "eval").zipWithIndex.foreach { case (step, i) =>
      ctx.report.put(s"validate.${step}_ns", Stats.median(passes.map(_(i).toDouble)) / n, "ns")
    }
    require(sink != 0L)
  }

  /** Batch throughput of the three formulations over the corpus to noop. */
  def validateThroughput(ctx: Ctx, in: Input): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val ent = in.cat.entities.values.toSeq.toDF()
    val defs = in.cat.defAllowed.values.toSeq.toDF()
    val atts = in.cat.attributes.values.toSeq.toDF()
    val forms: Seq[(String, () => DataFrame)] = Seq(
      "decide_fast" -> (() => ValidationPipeline.decideFast(spark, in.read(spark), in.cat).toDF()),
      "decide" -> (() => ValidationPipeline.decide(spark, in.read(spark), in.cat).toDF()),
      "relational" -> (() => RelationalValidation.decide(spark, in.read(spark), ent, defs, atts)))
    // relational is an order of magnitude slower: one pass
    forms.zip(Seq(2, 2, 1)).foreach { case ((name, df), passes) =>
      val tps = ctx.span(s"probe.$name") {
        (1 to passes).map { _ =>
          in.planned.rowsIn / (timedNs(df().write.format("noop").mode("overwrite").save()) / 1e9)
        }
      }
      ctx.report.put(s"validate.${name}_tps", Stats.median(tps), "1/s")
    }
  }

  /** Lineage counters from `decide`'s graft_in/graft_out observed metrics,
    * read from the progress of a stream over the corpus, and the share of
    * user turns whose token repeats an earlier one.
    */
  def validateCounts(ctx: Ctx, in: Input): Unit = {
    val spark = ctx.spark
    val prog = ctx.span("probe.decide_counts") {
      stream(ctx, in, "decide-counts")(df => ValidationPipeline.decide(spark, df, in.cat).toDF())._2
    }
    def sum(metric: String, field: String): Double = prog.map { p =>
      Option(p.observedMetrics.get(metric)).map((r: Row) => r.getAs[Long](field)).getOrElse(0L)
    }.sum.toDouble
    ctx.report.put("validate.rows_in", sum("graft_in", "rows_in"), "count")
    ctx.report.put("validate.valid", sum("graft_out", "valid"), "count")
    ctx.report.put("validate.rejected", sum("graft_out", "rejected"), "count")
    ctx.report.put("validate.malformed", sum("graft_in", "malformed_envelope"), "count")
    val tok = in.read(spark).select(get_json_object(col("text"), "$.token").as("t"))
      .filter(col("t").isNotNull)
      .agg(count(lit(1)), countDistinct(col("t"))).head()
    ctx.report.put("validate.token_repeat_share",
      (tok.getLong(0) - tok.getLong(1)).toDouble / math.max(1L, tok.getLong(0)), "ratio")
  }

  /** Runs `f` over the input as an AvailableNow stream into the noop sink;
    * returns its wall seconds and progress.
    */
  def stream(ctx: Ctx, in: Input, tag: String)(f: DataFrame => DataFrame):
      (Double, Seq[StreamingQueryProgress]) = {
    val spark = ctx.spark
    val ck = new File(ctx.dir, s"probe-$tag")
    Fs.delete(ck)
    val src = spark.readStream.schema(Schemas.transcript)
      .option("maxFilesPerTrigger", in.layout.perTrigger).parquet(in.dir.getPath)
    ctx.progress.nextParent = ctx.tracer.current._1
    val t0 = System.nanoTime()
    val q = f(src).writeStream.format("noop").option("checkpointLocation", ck.getPath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, ctx.progress.awaitProgress(q.runId))
  }

  def streamTps(ctx: Ctx, in: Input, f: DataFrame => DataFrame): Double = {
    val (wall, prog) = stream(ctx, in, "tps")(f)
    prog.map(_.numInputRows).sum / wall
  }

  def batchPhases(ctx: Ctx, runs: Seq[StreamRun]): Unit = {
    val batches = runs.flatMap(_.progress).filter(_.numInputRows > 0)
    def phase(k: String): Seq[Double] =
      batches.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val rep = ctx.report
    rep.put("batch.count", Stats.median(runs.map(_.progress.count(_.numInputRows > 0).toDouble)), "count")
    rep.put("batch.rows_p50", Stats.median(batches.map(_.numInputRows.toDouble)), "count")
    rep.put("batch.trigger_ms_p50", Stats.quantile(phase("triggerExecution"), 0.5), "ms")
    rep.put("batch.trigger_ms_p95", Stats.quantile(phase("triggerExecution"), 0.95), "ms")
    Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch",
      "planning" -> "queryPlanning", "add_batch" -> "addBatch", "wal_commit" -> "walCommit",
      "commit_offsets" -> "commitOffsets").foreach { case (name, key) =>
      rep.put(s"batch.${name}_ms", Stats.median(phase(key)), "ms")
    }
  }

  def state(ctx: Ctx, in: Input, last: StreamRun): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tps = ctx.span("probe.state") {
      streamTps(ctx, in, df => DedupState.dedup(spark, df.as[Turn]).toDF())
    }
    val ops = last.progress.filter(_.numInputRows > 0).flatMap(_.stateOperators.headOption)
    def total(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f).sum.toDouble
    def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      if (ops.isEmpty) 0.0 else ops.map(f).max.toDouble
    val rep = ctx.report
    rep.put("state.tps", tps, "1/s")
    rep.put("state.rows_end", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    rep.put("state.rows_peak", peak(_.numRowsTotal), "count")
    rep.put("state.updated", total(_.numRowsUpdated), "count")
    rep.put("state.removed", total(_.numRowsRemoved), "count")
    rep.put("state.update_ms", total(_.allUpdatesTimeMs), "ms")
    rep.put("state.removal_ms", total(_.allRemovalsTimeMs), "ms")
    rep.put("state.commit_ms", total(_.commitTimeMs), "ms")
    rep.put("state.memory_peak_bytes", peak(_.memoryUsedBytes), "bytes")
    rep.put("state.dropped_late", last.droppedLate.toDouble, "count")
    rep.put("state.replays_suppressed",
      (last.rowsIn - last.committed - last.droppedLate - in.planned.nullText).toDouble, "count")
  }

  /** `writeBatch` on one batch's decisions, checkpointed locally so the
    * write is the only work; the frame keeps that batch's partitioning.
    */
  def sink(ctx: Ctx, in: Input, last: StreamRun): Unit = ctx.span("probe.sink") {
    val spark = ctx.spark
    val files = new File(ctx.dir, "probe-sink-input")
    Fs.linkFirst(in.dir, files, in.layout.perTrigger)
    val frame = ValidationPipeline.decideFast(spark,
      spark.read.schema(Schemas.transcript).parquet(files.getPath), in.cat).toDF().localCheckpoint()
    val out = new File(ctx.dir, "probe-sink-out")
    Fs.delete(out)
    val sink = new ExactlyOnceSink(out.getPath)
    val writes = (0 until 4).map { id =>
      val before = ctx.engineTotals()
      val ns = timedNs(sink.writeBatch(frame, id.toLong))
      (ns / 1e6, (ctx.engineTotals() - before).jobs)
    }.drop(1)
    val reads = (1 to 3).map { _ =>
      timedNs(new ExactlyOnceSink(last.out.getPath).read(spark, "valid").count()) / 1e6
    }
    val outFiles = Fs.files(last.out)
    val rep = ctx.report
    rep.put("sink.write_batch_ms", Stats.median(writes.map(_._1)), "ms")
    rep.put("sink.jobs_per_batch", Stats.median(writes.map(_._2.toDouble)), "count")
    rep.put("sink.bytes", outFiles.map(_.length).sum.toDouble, "bytes")
    rep.put("sink.files", outFiles.size.toDouble, "count")
    rep.put("sink.read_ms", Stats.median(reads), "ms")
  }

  /** Spark's totals per streaming run (mean over the traced runs). */
  def engine(ctx: Ctx, runs: Seq[StreamRun]): Unit = {
    val t = runs.map(_.engine).reduce(_ + _)
    val n = runs.size.toDouble
    val wallMs = runs.map(_.wallS).sum * 1000
    val rep = ctx.report
    rep.put("engine.jobs", t.jobs / n, "count")
    rep.put("engine.stages", t.stages / n, "count")
    rep.put("engine.tasks", t.tasks / n, "count")
    rep.put("engine.run_ms", t.runMs / n, "ms")
    rep.put("engine.cpu_ms", t.cpuNs / 1e6 / n, "ms")
    rep.put("engine.gc_ms", t.gcMs / n, "ms")
    rep.put("engine.shuffle_read_bytes", t.shuffleRead / n, "bytes")
    rep.put("engine.shuffle_write_bytes", t.shuffleWrite / n, "bytes")
    rep.put("engine.spill_bytes", t.spill / n, "bytes")
    rep.put("engine.core_util", t.runMs / (wallMs * 4), "ratio")
  }
}
