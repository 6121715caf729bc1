package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Metrics by name with units, plus the attempted/failed tally. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Counts `n` attempted units (files); all of them fail when `ok` is false. */
  def tally(n: Long, ok: Boolean, what: => String): Unit = {
    attempted += n
    if (!ok) {
      failed += n
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms}}"""
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints `PERFBENCH_RESULT <json>` on stdout, and the marker
  * `PERFBENCH_STREAMS_STOPPED` on stderr once every streaming query has
  * stopped and the listeners are removed, before the session stops.
  */
object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", new File(need("work")).getAbsoluteFile)
  }

  def session(localDir: File): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", localDir.getPath)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = Workloads.all.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: ${Workloads.all.keys.mkString(", ")}"))
    val dir = new File(args.work, s"${args.workload}-s${args.seed}")
    Fs.delete(dir)
    val local = new File(dir, "spark-local")
    local.mkdirs()
    val spark = session(local)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] session ready after $sessionS%.2f s")
    val ctx = new Ctx(spark, args, dir, sessionS)
    val ok =
      try {
        run(ctx)
        if (args.trace) ctx.tracer.write(new File(args.work, s"trace/${args.workload}-s${args.seed}.jsonl"))
        else ctx.report.put("rss_peak_mb", rssPeakMb, "MB")
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          false
      } finally ctx.stopStreams()
    System.err.println("PERFBENCH_STREAMS_STOPPED")
    if (ok) println("PERFBENCH_RESULT " + ctx.report.json)
    spark.stop()
    Fs.delete(dir)
    sys.exit(if (ok) 0 else 1)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
