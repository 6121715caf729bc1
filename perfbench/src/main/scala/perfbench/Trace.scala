package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. Times are epoch nanoseconds; `parent` is 0 for a
  * root. `counts` holds what was counted at the same boundary.
  */
final case class Span(id: Long, parent: Long, run: String, name: String,
    startNs: Long, endNs: Long, counts: Map[String, Double])

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Long, String)]
  private val wall0Ns = System.currentTimeMillis() * 1000000L
  private val mono0 = System.nanoTime()

  def nowNs: Long = wall0Ns + (System.nanoTime() - mono0)
  def current: (Long, String) = stack.headOption.getOrElse((0L, "bench"))

  def add(name: String, parent: Long, run: String, startNs: Long, endNs: Long,
      counts: Map[String, Double] = Map.empty): Long = synchronized {
    val id = ids.incrementAndGet()
    spans += Span(id, parent, run, name, startNs, endNs, counts)
    id
  }

  /** Times `f` as a child of the innermost open span; `run` defaults to
    * the parent's run id.
    */
  def span[A](name: String, run: String = null)(f: => A): A = {
    val (parent, parentRun) = current
    val r = if (run == null) parentRun else run
    val id = ids.incrementAndGet()
    val t0 = nowNs
    stack.push((id, r))
    try f
    finally {
      stack.pop()
      synchronized { spans += Span(id, parent, r, name, t0, nowNs, Map.empty) }
    }
  }

  /** JSON lines, one per span, with self time: the span's duration minus
    * the union of its children's intervals.
    */
  def write(file: File): Unit = synchronized {
    file.getParentFile.mkdirs()
    val kids = spans.groupBy(_.parent)
    val out = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered, from = 0L
      var reach = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > reach) {
          if (reach != Long.MinValue) covered += reach - from
          from = a; reach = b
        } else reach = math.max(reach, b)
      }
      if (reach != Long.MinValue) covered += reach - from
      val dur = s.endNs - s.startNs
      val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      out.println(s"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""dur_ms":${Json.num(dur / 1e6)},"self_ms":${Json.num((dur - covered) / 1e6)},""" +
        s""""counts":{$counts}}""")
    }
    finally out.close()
  }
}

/** Totals of Spark's task metrics over an interval. */
final case class EngineTotals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0) {
  def -(o: EngineTotals): EngineTotals = EngineTotals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill)
  def +(o: EngineTotals): EngineTotals = EngineTotals(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill)
}

/** Task, stage and job totals from Spark's listener bus. A "fence" job
  * (marked by a local property) flushes the bus: once its end arrives,
  * every earlier event has been delivered, and the fence is not counted.
  */
final class EngineListener extends SparkListener {
  private var t = EngineTotals()
  private val fenceStages = mutable.Set.empty[Int]
  private val fenceJobs = mutable.Set.empty[Int]
  private val seenFences = mutable.Set.empty[String]
  private def isFence(p: java.util.Properties) =
    p != null && p.getProperty(EngineListener.FenceKey) != null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (isFence(e.properties)) fenceJobs += e.jobId else t = t.copy(jobs = t.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (fenceJobs.remove(e.jobId)) notifyAll()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (isFence(e.properties)) {
      fenceStages += e.stageInfo.stageId
      seenFences += e.properties.getProperty(EngineListener.FenceKey)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!fenceStages.contains(e.stageInfo.stageId)) t = t.copy(stages = t.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (!fenceStages.contains(e.stageId) && m != null)
      t = EngineTotals(t.jobs, t.stages, t.tasks + 1, t.runMs + m.executorRunTime,
        t.cpuNs + m.executorCpuTime, t.gcMs + m.jvmGCTime,
        t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        t.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Totals after every event posted before this call was delivered. */
  def totals(sc: SparkContext): EngineTotals = {
    val id = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(EngineListener.FenceKey, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(EngineListener.FenceKey, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (!(seenFences.contains(id) && fenceJobs.isEmpty) &&
          System.currentTimeMillis() < deadline) wait(100)
      t
    }
  }
}

object EngineListener {
  val FenceKey = "perfbench.fence"
}

/** Keeps every progress event and records each micro-batch as a span with
  * its `durationMs` phases as children. Spark reports the phases as
  * durations only; they are laid end to end in execution order.
  */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  private val progress = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]
  private val terminated = mutable.Set.empty[java.util.UUID]
  private val parents = mutable.Map.empty[java.util.UUID, Long]
  @volatile var nextParent = 0L
  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Micro-batch spans of the next query to start become children of
    * `nextParent`; the start event precedes the query's progress events.
    */
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { parents(e.runId) = nextParent }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { terminated += e.runId; notifyAll() }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    synchronized { progress.getOrElseUpdate(p.runId, mutable.ArrayBuffer.empty) += p }
    if (p.numInputRows > 0) {
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val parent = synchronized(parents.getOrElse(p.runId, 0L))
      val run = p.runId.toString
      val st = p.stateOperators.headOption
      val counts = Map("rows" -> p.numInputRows.toDouble) ++
        st.map(s => Map("state_rows" -> s.numRowsTotal.toDouble,
          "dropped_late" -> s.numRowsDroppedByWatermark.toDouble)).getOrElse(Map.empty)
      val id = tracer.add(s"micro_batch.${p.batchId}", parent, run, startNs,
        startNs + ms("triggerExecution") * 1000000L, counts)
      var at = startNs
      phases.foreach { ph =>
        val len = ms(ph) * 1000000L
        tracer.add(s"phase.$ph", id, run, at, at + len)
        at += len
      }
    }
  }

  /** Progress of query run `runId`, after its termination was delivered. */
  def awaitProgress(runId: java.util.UUID): Seq[StreamingQueryProgress] = synchronized {
    val deadline = System.currentTimeMillis() + 30000
    while (!terminated.contains(runId) && System.currentTimeMillis() < deadline) wait(100)
    require(terminated.contains(runId), s"no termination event for query run $runId")
    progress.getOrElse(runId, mutable.ArrayBuffer.empty).toSeq
  }
}
