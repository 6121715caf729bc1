package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.storage.StorageLevel
import graft.model.{Catalog, Schemas}
import graft.streaming.StreamValidate
import graft.validate.{TokenCodec, ValidationPipeline}

/** Everything one benchmark process shares. Listeners are added only for
  * the traced part of a traced run.
  */
final class Ctx(val spark: SparkSession, val args: Args, val dir: File, val sessionS: Double) {
  val report = new Report
  val tracer = new Tracer
  val engine = new EngineListener
  val progress = new ProgressListener(tracer)
  private var listening = false
  def traced: Boolean = listening

  def listen(): Unit = if (!listening) {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(progress)
    listening = true
  }

  def unlisten(): Unit = if (listening) {
    spark.streams.removeListener(progress)
    spark.sparkContext.removeSparkListener(engine)
    listening = false
  }

  /** Stops and awaits every streaming query, then removes the listeners. */
  def stopStreams(): Unit = {
    spark.streams.active.foreach { q => Try(q.stop()); Try(q.awaitTermination()) }
    unlisten()
  }

  def span[A](name: String, run: String = null)(f: => A): A =
    if (listening) tracer.span(name, run)(f) else f

  /** Runs `f` and logs its wall time on stderr. */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally System.err.println(f"[perfbench] $name%s: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Engine totals so far; zero when not tracing. */
  def engineTotals(): EngineTotals =
    if (listening) engine.totals(spark.sparkContext) else EngineTotals()
}

/** A workload's generated input and its catalog. */
final class Input(val gen: Gen, val planned: Planned, val dir: File, val cat: Catalog,
    val setupS: Double) {
  def layout: Layout = gen.layout
  def read(spark: SparkSession): DataFrame =
    spark.read.schema(Schemas.transcript).parquet(dir.getPath)
}

/** One finished streaming run: when it started, how long it ran, its
  * progress events and its sink directory. Where each input file landed is
  * read from the sink on first use, after the timed runs.
  */
final class StreamRun(spark: SparkSession, layout: Layout, val startMs: Long,
    val wallS: Double, val progress: Seq[StreamingQueryProgress], val out: File,
    val engine: EngineTotals) {
  lazy val fileBatch: Map[Int, (Long, Long, Long)] = Checks.fileBatches(spark, out, layout)
  lazy val commitMs: Map[Long, Long] = Checks.commitTimes(out)
  def droppedLate: Long = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
  def rowsIn: Long = progress.map(_.numInputRows).sum
  def committed: Long = fileBatch.values.map(_._3).sum
  /** Per input file: ms from `availableMs(file)` to its batch's commit marker. */
  def latenciesMs(availableMs: Int => Long): Seq[Double] =
    fileBatch.toSeq.map { case (f, (b, _, _)) => (commitMs(b) - availableMs(f)).toDouble }
}

object Workloads {
  val all: Map[String, Ctx => Unit] = Map(
    "drain_stateless" -> (c => drain(c, withDedup = false)),
    "drain_dedup" -> (c => drain(c, withDedup = true)))

  // Sizes for a 4-core local[4] session; README.md records why.
  val StatelessLayout = Layout(rows = 72000, openConvs = 2000, turnsPerConv = 10,
    rowsPerFile = 6000, dtMs = 20, replayEvery = 0, replayLag = 0, users = 50, perTrigger = 6)
  // 72 event-minutes in 3 micro-batches: Spark drops late rows against the
  // previous batch's watermark, so the third batch drops its late rows;
  // replays trail by 2 event-minutes.
  // The token cache is pre-filled (see prefillTokenCache), so every token
  // decode misses, as for a population beyond the cache; the catalog stays
  // at 20k users because each query start broadcasts it.
  val DedupLayout = Layout(rows = 54000, openConvs = 3000, turnsPerConv = 6,
    rowsPerFile = 4500, dtMs = 80, replayEvery = 10, replayLag = 1500, users = 20000,
    perTrigger = 4)
  val SetupReps = 3
  // Warm-up before timing: three untimed full drains. At these sizes a
  // drain is mostly per-query and per-batch work (planning, state commit,
  // the sink's jobs), which the JIT keeps speeding up over the first dozen
  // or so micro-batches.
  val WarmDrains = 3
  val MinReps = 3
  val MinTracedReps = 2
  val BatchPhases = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
    "commitOffsets")

  // ------------------------------------------------------------------ setup

  /** Generates the input `SetupReps` times and keeps the last; `setup_s`
    * is the session start plus the median generation time.
    */
  def prepare(ctx: Ctx, layout: Layout, prefillTokens: Boolean): Input = {
    val gen = new Gen(layout, ctx.args.seed)
    val dir = new File(ctx.dir, "input")
    val times = (1 to SetupReps).map { i =>
      ctx.phase(s"generate $i") {
        val t0 = System.nanoTime()
        gen.write(ctx.spark, dir)
        (System.nanoTime() - t0) / 1e9
      }
    }
    val t0 = System.nanoTime()
    val cat = Gen.catalog(layout.users)
    if (prefillTokens) prefillTokenCache()
    val fixed = (System.nanoTime() - t0) / 1e9
    new Input(gen, gen.planned, dir, cat, ctx.sessionS + Stats.median(times) + fixed)
  }

  /** A long-running stream's decode cache is full of earlier sessions'
    * tokens, which never match a new token: decode 100k of them before
    * anything is timed.
    */
  def prefillTokenCache(): Unit =
    (0 until 100000).foreach { u =>
      TokenCodec.decode(graft.fixtures.TranscriptGen.userToken(u).replace(".fixture", ".earlier"))
    }

  /** Batch `decide` of the reference formulation, deduplicated by key
    * (replays are identical).
    */
  def reference(ctx: Ctx, in: Input): DataFrame = {
    val ref = ValidationPipeline.decide(ctx.spark, in.read(ctx.spark), in.cat).toDF()
      .select(Checks.keyCols.map(col): _*)
      .dropDuplicates("conv_id", "turn_idx")
      .persist(StorageLevel.MEMORY_AND_DISK)
    ref.count()
    ref
  }

  // ------------------------------------------------------------------ drains

  final case class Rep(run: StreamRun, traced: Boolean)

  def drain(ctx: Ctx, withDedup: Boolean): Unit = {
    val name = if (withDedup) "drain_dedup" else "drain_stateless"
    val in = prepare(ctx, if (withDedup) DedupLayout else StatelessLayout,
      prefillTokens = withDedup)
    (0 until WarmDrains).foreach { w =>
      val runDir = new File(ctx.dir, s"warm$w")
      ctx.phase(s"warm-up $w")(drainOnce(ctx, in.dir, in.layout.perTrigger, runDir, withDedup, in))
      Fs.delete(runDir)
    }
    // Timed runs. A traced run alternates untraced and traced runs, so the
    // tracing overhead is measured at the same JIT warmth.
    val reps = mutable.ArrayBuffer.empty[Rep]
    var timed = 0.0
    def enough(traced: Boolean) =
      reps.count(_.traced == traced) >= (if (ctx.args.trace) MinTracedReps else MinReps)
    ctx.tracer.span(name, "workload") {
      while (timed < ctx.args.seconds || !enough(false) || (ctx.args.trace && !enough(true))) {
        val i = reps.size
        val traced = ctx.args.trace && i % 2 == 1
        if (traced) ctx.listen() else ctx.unlisten()
        System.gc() // every timed drain starts from the same heap
        val r = ctx.phase(s"drain $i") {
          ctx.span("run", s"$name-rep$i") {
            drainOnce(ctx, in.dir, in.layout.perTrigger, new File(ctx.dir, s"run$i"), withDedup, in)
          }
        }
        ctx.unlisten()
        System.err.println("[perfbench] micro-batch ms (" + BatchPhases.mkString("/") + "): " +
          r.progress.map(p => BatchPhases.map(k => Option(p.durationMs.get(k)).getOrElse(0L))
            .mkString("/")).mkString(" "))
        timed += r.wallS
        reps += Rep(r, traced)
      }
      // the reference and the checks run after every timed run, so their
      // cold code paths do not compete with a timed run
      val ref = ctx.phase("reference")(reference(ctx, in))
      val refPrint = if (withDedup) None else Some(Checks.fingerprint(ref))
      ctx.phase("check") {
        reps.foreach(r => Checks.drainRep(ctx, in, r.run, ref, refPrint, withDedup,
          reps.head.run.droppedLate))
      }
      if (ctx.args.trace) {
        val wall = (t: Boolean) => Stats.median(reps.filter(_.traced == t).map(_.run.wallS).toSeq)
        ctx.listen()
        Probes.record(ctx, in, reps.filter(_.traced).map(_.run).toSeq,
          overhead = wall(true) / wall(false) - 1)
      }
    }
    if (!ctx.args.trace) {
      val rs = reps.map(_.run).toSeq
      ctx.report.put("setup_s", in.setupS, "s")
      ctx.report.put("turns_per_s", Stats.median(rs.map(r => in.planned.rowsIn / r.wallS)), "1/s")
      // per drain, the percentile of its files' latencies (every file is
      // available when the drain starts); reported as the median over drains
      def latency(q: Double) = Stats.median(rs.map(r => Stats.quantile(r.latenciesMs(_ => r.startMs), q)))
      ctx.report.put("latency_p50_ms", latency(0.5), "ms")
      ctx.report.put("latency_p95_ms", latency(0.95), "ms")
    }
  }

  /** Drains the files of `input` with `StreamValidate` (AvailableNow),
    * `perTrigger` files per micro-batch, into a fresh sink and checkpoint
    * under `runDir`.
    */
  def drainOnce(ctx: Ctx, input: File, perTrigger: Int, runDir: File, withDedup: Boolean,
      in: Input): StreamRun = {
    Fs.delete(runDir)
    val out = new File(runDir, "out")
    val cfg = StreamValidate.Config(input.getPath, out.getPath,
      new File(runDir, "ckpt").getPath, withDedup = withDedup,
      maxFilesPerTrigger = perTrigger, availableNow = true)
    ctx.progress.nextParent = ctx.tracer.current._1
    val before = ctx.engineTotals()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = StreamValidate.start(ctx.spark, cfg, in.cat)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val engine = ctx.engineTotals() - before
    val progress = if (ctx.traced) ctx.progress.awaitProgress(q.runId) else q.recentProgress.toSeq
    new StreamRun(ctx.spark, in.layout, startMs, wall, progress, out, engine)
  }
}
