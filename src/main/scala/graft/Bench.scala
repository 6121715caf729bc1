package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen

/** Benchmark entrypoint (driver contract): prints ONE JSON line as the
  * FINAL stdout line (raw — build.sbt routes forked stdout through
  * unprefixed) and mirrors it to `data/bench_last.json`.
  *
  * Three parts:
  *  1. SCALING (the north-rule criterion, sandbox form): the fused
  *     validation job over an identical pre-generated transcript corpus at
  *     local[8] and local[32], in INTERLEAVED fresh child JVMs
  *     (8,32,8,32,…) with ActiveProcessorCount pinned. Efficiency is the
  *     best time-adjacent PAIRED ratio (tps32/tps8)/4 — pairing bounds the
  *     window a host CPU-steal spike can poison, and every raw sample is
  *     included in the JSON so a poisoned phase is visible. The pipeline is
  *     shuffle-free, so this measures real per-core scaling.
  *  2. HEADLINE: per-query wall seconds for every SparkEntry query at
  *     SPARK_GRAFT_CPUS over SPARK_GRAFT_SF_DIR (session pre-warmed so the
  *     alphabetically-first query doesn't absorb warmup).
  *  3. STREAMING: end-to-end source → validate → exactly-once 3-way sink.
  *
  * The primary metric (`value`) is validated turns/sec at the larger
  * parallelism from the SAME formulation (`decide`) that defines the
  * scaling gate — BASELINE.json's metric. The one-pass `decideFast`
  * throughput is reported separately (`fast_turns_per_sec`): it is
  * memory-bandwidth-bound, and one box cannot scale bandwidth with thread
  * count (a real cluster adds bandwidth with every executor — see
  * BENCH/BASELINE.md).
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // finer input splits: ~4+ task waves per core count so stragglers
      // and wave quantization don't masquerade as poor scaling
      .config("spark.sql.files.maxPartitionBytes", (24 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def timeIt[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def childJvmOpts: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("java.base/") ||
        a.startsWith("-Xmx") || a.startsWith("-D")).toSeq

  private def spawn(cmdTail: Seq[String], extraEnv: Map[String, String]):
      (Int, String, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(javaBin) ++ childJvmOpts ++ Seq("-cp", cp) ++ cmdTail
    val pb = new ProcessBuilder(cmd: _*)
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(false)
    val proc = pb.start()
    // Drain stderr CONCURRENTLY: a cluster child logs >64 KB of
    // master/worker/executor startup before setLogLevel bites, which
    // fills the stderr pipe and deadlocks a sequential stdout-then-stderr
    // read (the child blocks on write, the parent on read — hit live).
    val errBuf = new java.io.ByteArrayOutputStream()
    val drainer = new Thread(() => proc.getErrorStream.transferTo(errBuf))
    drainer.setDaemon(true)
    drainer.start()
    val out = new String(proc.getInputStream.readAllBytes())
    val rc = proc.waitFor()
    drainer.join(5000)
    (rc, out, errBuf.toString)
  }

  /** Thread-realization child (local[cpus], ActiveProcessorCount pinned);
    * returns (rows, decideSampleSecs, fastSampleSecs).
    */
  private def runThreadChild(cpus: Int, corpus: String, decSamples: Int,
      fastSamples: Int): (Long, Seq[Double], Seq[Double]) = {
    System.err.println(s"[bench] scaling phase: thread child JVM local[$cpus]")
    val (rc, out, err) = spawn(Seq(s"-XX:ActiveProcessorCount=$cpus",
      "-XX:+UseParallelGC",
      "graft.ScalingChild", cpus.toString, corpus, decSamples.toString,
      fastSamples.toString), Map.empty)
    require(rc == 0, s"scaling child local[$cpus] failed:\n${err.takeRight(2000)}")
    val line = out.linesIterator.find(_.startsWith("GRAFT_SCALING")).getOrElse(
      sys.error(s"no GRAFT_SCALING line from child:\n$out"))
    val Array(_, _, rowsS, decS, fastS) = line.trim.split(" ")
    val dec = decS.stripPrefix("dec=").split(",").toSeq.map(_.toDouble)
    val fast = fastS.stripPrefix("fast=").split(",").toSeq.map(_.toDouble)
    val rows = rowsS.toLong
    System.err.println(f"[bench] local[$cpus]: decide min ${dec.min}%.2f s " +
      f"(${rows / dec.min}%.0f turns/s); fast min ${fast.min}%.2f s")
    (rows, dec, fast)
  }

  /** (busy, steal, total) jiffies from the first /proc/stat line — the VM
    * exposes hypervisor STEAL accounting, i.e. exactly the external
    * interference this host's documented noise windows are made of,
    * independent of our own load.
    */
  private def procStat(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val l = try src.getLines().next() finally src.close()
      val v = l.trim.split("\\s+").drop(1).map(_.toLong)
      val total = v.sum
      val idle = v(3) + v.lift(4).getOrElse(0L)
      Some((total - idle, v.lift(7).getOrElse(0L), total))
    } catch { case _: Throwable => None }

  final case class ChildRun(rows: Long, dec: Seq[Double], fast: Seq[Double],
      stealCores: Double, busyCores: Double)

  /** Executor-realization child (local-cluster[workers,coresPer] — real
    * separate executor JVMs, pinned to their nominal core budget). Host
    * steal/busy core-counts are sampled around the child: a SUSTAINED
    * steal window slows the wide (4x4) phase more than the narrow one —
    * each sample individually under the ratio re-trigger — so the steal
    * measurement is the flag the ratio cannot provide.
    */
  private def runClusterChild(workers: Int, coresPer: Int, corpus: String,
      samples: Int): ChildRun = {
    System.err.println(s"[bench] scaling phase: cluster child $workers x $coresPer")
    val before = procStat()
    val (rc, out, err) = spawn(
      Seq("graft.ClusterScalingChild", workers.toString, coresPer.toString,
        corpus, samples.toString),
      // the standalone worker's executor launcher needs both of these
      Map("SPARK_HOME" -> "/opt/spark", "SPARK_SCALA_VERSION" -> "2.13"))
    require(rc == 0, s"cluster child ${workers}x$coresPer failed:\n${err.takeRight(2000)}")
    val after = procStat()
    val nCpu = Runtime.getRuntime.availableProcessors()
    val (stealCores, busyCores) = (before, after) match {
      case (Some((b0, s0, t0)), Some((b1, s1, t1))) if t1 > t0 =>
        (nCpu.toDouble * (s1 - s0) / (t1 - t0),
          nCpu.toDouble * (b1 - b0) / (t1 - t0))
      case _ => (-1.0, -1.0)
    }
    val line = out.linesIterator.find(_.startsWith("GRAFT_SCALING")).getOrElse(
      sys.error(s"no GRAFT_SCALING line from cluster child:\n$out"))
    val Array(_, _, rowsS, decS, fastS) = line.trim.split(" ")
    val dec = decS.stripPrefix("dec=").split(",").toSeq.map(_.toDouble)
    val fast = fastS.stripPrefix("fast=").split(",").toSeq.map(_.toDouble)
    val rows = rowsS.toLong
    System.err.println(f"[bench] ${workers}x$coresPer executors: decide min ${dec.min}%.2f s " +
      f"(${rows / dec.min}%.0f turns/s); fast min ${fast.min}%.2f s " +
      f"(${rows / fast.min}%.0f turns/s); host steal $stealCores%.1f / busy $busyCores%.1f cores")
    ChildRun(rows, dec, fast, stealCores, busyCores)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Sized so the timed job runs ~10s+ at local[32]: short jobs measure
    // scheduler overhead, not scaling (first attempt at 1.5M rows ran 1.7s
    // and reported efficiency 0.30 on pure overhead).
    // 16.8M turns: decide runs 28 s at 1x4 / ~7.5 s at 4x4 — long enough
    // that scheduler overhead is noise, short enough that an interleaved
    // pair fits inside one host-noise window.
    val benchTurns = sys.env.getOrElse("SPARK_GRAFT_BENCH_TURNS", "16800000").toLong
    // 5 interleaved (low,high) rounds of min-of-2 each: with the adjacent
    // pairing below that is 9 gate pairs — the host's multi-minute CPU-steal
    // windows (documented BENCH/BASELINE.md) poison at most 2-3 adjacent
    // pairs, which a 9-pair median absorbs; 4 rounds of min-of-3 did not.
    val nPairs = sys.env.getOrElse("SPARK_GRAFT_SCALING_PAIRS", "5").toInt
    val decSamples = sys.env.getOrElse("SPARK_GRAFT_SCALING_SAMPLES", "2").toInt
    // 256 files ≈ 5.5 MB each: one parquet row group per file, so the task
    // count is the FILE count — 16 waves at 16 cores vs 3.6 waves when the
    // corpus was 64×22MB (wave quantization taxed only the high phase,
    // understating efficiency by ~10%+). Dir keyed by size AND layout.
    val benchFiles = 256
    val benchDir = s"/root/repo/data/tx_bench_${benchTurns}_f$benchFiles"

    // ---- phase 1: scaling evidence on an identical corpus ----------------
    val convs = benchTurns / 10
    if (!new java.io.File(s"$benchDir/_GRAFT_READY").exists()) {
      val spark = session(cpus)
      spark.sparkContext.setLogLevel("ERROR")
      try {
        TranscriptGen.turnsDs(spark, convs, 10, convs / 2)
          .repartition(benchFiles).write.mode("overwrite").parquet(s"$benchDir/transcripts.parquet")
        new java.io.File(benchDir, "_GRAFT_READY").createNewFile()
      } finally spark.stop()
    }
    val corpus = s"$benchDir/transcripts.parquet"
    // EXECUTOR realization (primary): N=1 → 4N=4 separate executor JVMs of
    // 4 cores each (≤ half the 32-core box at the top, so "adding an
    // executor" does not just re-slice one saturated memory controller —
    // on a real cluster every executor brings its own). Interleaved
    // A/B/A/B…: pair i = (low run i, high run i), time-adjacent, so a host
    // CPU-steal spike can poison at most the pair it lands in.
    // Falls back to the thread realization (local[8] vs local[cpus]) if
    // local-cluster cannot launch in this environment.
    val (lowW, highW, coresPer) = (1, 4, 4)
    val clusterRuns: Option[Seq[(Int, ChildRun)]] =
      try Some((1 to nPairs).flatMap { _ =>
        Seq(lowW -> runClusterChild(lowW, coresPer, corpus, decSamples),
          highW -> runClusterChild(highW, coresPer, corpus, decSamples))
      })
      catch { case e: Throwable =>
        System.err.println(s"[bench] cluster scaling failed, falling back to threads: $e")
        None
      }
    // Primary formulation for BOTH the headline `value` and the scaling
    // gate: `decide` — the Catalyst-idiomatic validation path (from_json +
    // typed evaluation, CPU-bound; it is what `SparkEntry.entry` and the
    // oracled queries run). `decideFast` is the bandwidth-heavy one-pass
    // variant; its throughput and pair efficiency are reported alongside
    // (one box cannot scale memory bandwidth with thread count — a real
    // cluster adds bandwidth with every executor).
    case class ScalingResult(rows: Long, pairs: Seq[(Double, Double, Double)],
        fastPairs: Seq[(Double, Double, Double)], runsJson: String,
        realization: String, lowLabel: String, highLabel: String,
        retried: Int = 0)
    // ALL time-adjacent (low, high) pairings from the interleaved sequence
    // low,high,low,high,…: (low_i, high_i) and (low_{i+1}, high_i) — 2n-1
    // pairs from the same runs, so a single host-noise window poisons at
    // most two adjacent pairs and the MEDIAN gate survives it (same honest
    // data, denser pairing).
    def mkPairs(lows: Seq[Double], highs: Seq[Double], factor: Double) = {
      val fwd = lows.zip(highs)
      val bwd = lows.drop(1).zip(highs)
      (fwd ++ bwd).map { case (lo, hi) => (lo, hi, (hi / lo) / factor) }
    }
    val sc: ScalingResult = clusterRuns match {
      case Some(runs0) =>
        // Adaptive de-noise: a child whose decide min is >1.25x the best
        // min AT ITS LEVEL was sampled inside a host CPU-steal window
        // (this host's documented failure mode — windows run minutes, so
        // min-of-2 inside one window stays poisoned). Give the worst such
        // child extra samples (MERGED into its sample set) and reassess,
        // up to maxRetries extra children per phase. Steal noise is
        // one-sided (it only slows), so min-of-more-samples approaches
        // the noise-free time from above at BOTH levels with the same
        // trigger: re-sampling a slow low LOWERS efficiency, a slow high
        // RAISES it — the protocol cannot inflate beyond truth.
        var runs = runs0.toVector
        val maxRetries = sys.env.getOrElse("SPARK_GRAFT_SCALING_RETRIES", "4").toInt
        // steal threshold (cores): above this, the child ran under real
        // hypervisor steal even if its ratio looks level-typical — a
        // SUSTAINED steal window slows the wide phase ~uniformly, which
        // the 1.25x ratio trigger cannot see (measured: a run with all 9
        // pairs in [0.63, 0.79], every child individually under-trigger).
        val stealThreshold = sys.env.getOrElse("SPARK_GRAFT_STEAL_CORES", "2.0").toDouble
        var retried = 0
        var converged = false
        // a child whose re-sample spawn itself failed is marked ineligible
        // and SKIPPED — not a reason to abandon the whole pass (a poisoned
        // LOW child left in place inflates its pairs' efficiency, the exact
        // direction the gate guards against)
        var ineligible = Set.empty[Int]
        while (!converged && retried < maxRetries) {
          val bestMin: Map[Int, Double] =
            runs.groupBy(_._1).map { case (w, rs) => w -> rs.map(_._2.dec.min).min }
          runs.zipWithIndex
            .filter { case ((w, cr), i) =>
              !ineligible(i) && (cr.dec.min > bestMin(w) * 1.25 ||
                cr.stealCores > stealThreshold) }
            .sortBy { case ((w, cr), _) =>
              -(math.max(cr.dec.min / bestMin(w), 1.0 + cr.stealCores / 100.0)) }
            .headOption match {
            case Some(((w, cr), i)) =>
              System.err.println(f"[bench] re-sampling child seq=$i (${w}x$coresPer): " +
                f"decide min ${cr.dec.min}%.2f s vs level best ${bestMin(w)}%.2f s, " +
                f"steal ${cr.stealCores}%.1f cores")
              try {
                val cr2 = runClusterChild(w, coresPer, corpus, decSamples)
                // min-of-more samples; the recorded steal is the cleanest
                // attempt's (the one the min realistically came from)
                runs = runs.updated(i, (w, cr.copy(
                  dec = cr.dec ++ cr2.dec, fast = cr.fast ++ cr2.fast,
                  stealCores = math.min(cr.stealCores, cr2.stealCores),
                  busyCores = math.min(cr.busyCores, cr2.busyCores))))
              } catch { case e: Throwable =>
                System.err.println(s"[bench] re-sample failed, skipping child $i: $e")
                ineligible += i
              }
              retried += 1
            case None => converged = true
          }
        }
        val rows = runs.head._2.rows
        def tps(ss: Seq[Double]): Double = rows / ss.min
        val lows = runs.filter(_._1 == lowW).map(_._2)
        val highs = runs.filter(_._1 == highW).map(_._2)
        val pairs = mkPairs(lows.map(r => tps(r.dec)), highs.map(r => tps(r.dec)),
          highW.toDouble / lowW)
        val fastPairs = mkPairs(lows.map(r => tps(r.fast)), highs.map(r => tps(r.fast)),
          highW.toDouble / lowW)
        def r1(x: Double): String = if (x < 0) "-1" else f"$x%.1f"
        val runsJson = runs.zipWithIndex.map { case ((w, cr), i) =>
          s"""{"seq":$i,"workers":$w,"cores_per":$coresPer,"rows":${cr.rows},"steal_cores":${r1(cr.stealCores)},"busy_cores":${r1(cr.busyCores)},"decide_sec":${cr.dec.mkString("[", ",", "]")},"fast_sec":${cr.fast.mkString("[", ",", "]")}}"""
        }.mkString("[", ",", "]")
        ScalingResult(rows, pairs, fastPairs, runsJson,
          "executors: local-cluster, separate executor JVMs pinned to their core budget, decide formulation (fast variant reported alongside)",
          s"${lowW}x$coresPer", s"${highW}x$coresPer", retried)
      case None =>
        val lowC = 8
        val runs = (1 to nPairs).flatMap { _ =>
          Seq(lowC -> runThreadChild(lowC, corpus, decSamples, 1)) ++
            (if (cpus != lowC) Seq(cpus -> runThreadChild(cpus, corpus, decSamples, 1)) else Nil)
        }
        val rows = runs.head._2._1
        def tps(ss: Seq[Double]): Double = rows / ss.min
        val lows = runs.filter(_._1 == lowC).map(_._2)
        val highs = if (cpus == lowC) lows else runs.filter(_._1 == cpus).map(_._2)
        val factor = if (cpus == lowC) 1.0 else cpus.toDouble / lowC
        val pairs = mkPairs(lows.map(r => tps(r._2)), highs.map(r => tps(r._2)), factor)
        val fastPairs = mkPairs(lows.map(r => tps(r._3)), highs.map(r => tps(r._3)), factor)
        val runsJson = runs.zipWithIndex.map { case ((c, (r, dec, fast)), i) =>
          s"""{"seq":$i,"cpus":$c,"rows":$r,"decide_sec":${dec.mkString("[", ",", "]")},"fast_sec":${fast.mkString("[", ",", "]")}}"""
        }.mkString("[", ",", "]")
        ScalingResult(rows, pairs, fastPairs, runsJson,
          "threads (fallback): local[N] in one JVM, decide formulation",
          s"local[$lowC]", s"local[$cpus]")
    }
    val rows = sc.rows
    // best time-adjacent pair; median also reported for the skeptical reader
    // GATE metric = the MEDIAN time-adjacent pair (host noise can only
    // hurt a pair, but picking the max of 4 pairs biases the gate upward;
    // the best pair is reported strictly as a secondary diagnostic).
    val sortedPairs = sc.pairs.sortBy(_._3)
    val medianPair = sortedPairs(sortedPairs.size / 2)
    val best = sc.pairs.maxBy(_._3)
    val effMedian = medianPair._3
    val effBest = best._3
    val valueTps = medianPair._2 // decide turns/s at high size, SAME pair as the gate
    val fastEffBest = sc.fastPairs.map(_._3).max
    System.err.println(f"[bench] scaling: decide efficiency median $effMedian%.3f (gate) best $effBest%.3f " +
      f"(${medianPair._1}%.0f → ${medianPair._2}%.0f turns/s); fast efficiency best $fastEffBest%.3f")
    // reference point: the whole box through one JVM (headline throughput).
    // min-of-2, with ONE extra child if the min still loses to the 16-core
    // gate pair — local[32] on the full box cannot structurally lose to 4x4
    // executors on half of it, so that outcome means both samples landed in
    // a steal window (the round-3 driver run recorded 301k here vs 2.4M in
    // every clean run, off a single unguarded sample).
    val local32 = try {
      val (_, d1, f1) = runThreadChild(cpus, corpus, 2, 1)
      val (dec32, fast32) =
        if (rows / d1.min >= valueTps) (d1, f1)
        else {
          System.err.println(f"[bench] local32 decide ${rows / d1.min}%.0f t/s < gate pair " +
            f"$valueTps%.0f t/s — steal-poisoned, one re-sample")
          val (_, d2, f2) = runThreadChild(cpus, corpus, 2, 1)
          (d1 ++ d2, f1 ++ f2)
        }
      Some((rows / dec32.min, rows / fast32.min))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] local32 reference failed: $e"); None }
    // fast throughput comes ONLY from fast-formulation samples (pair highs
    // + the local[32] fast run) — never a decide number under a fast label
    val fastCandidates = sc.fastPairs.map(_._2) ++ local32.map(_._2).toSeq
    val fastBest: Option[Double] =
      if (fastCandidates.nonEmpty) Some(fastCandidates.max) else None

    // ---- phase 2: headline per-query timings at `cpus` -------------------
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // pre-warm: session/codegen/catalog init must not be billed to the
    // alphabetically-first query (round 1 billed it to `cardinality`)
    try {
      TranscriptGen.ensure(spark, sfDir)
      spark.read.parquet(s"$sfDir/documents.parquet").count()
      SparkEntry.queries("cardinality")(spark, sfDir).count()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    // IVF index build timed HERE, not inside the ivf_topk_indexed query:
    // the build/serve split is the point of a persisted index, so the
    // query's number below is pure serving and the (fresh, not cached)
    // build cost is its own metric.
    val ivfBuildSec: Double = try {
      for (d <- Seq(SparkEntry.ivfIndexPath(sfDir),
          SparkEntry.ivfAppendedIndexPath(sfDir))) {
        val f = new java.io.File(d)
        if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()
      }
      val (_, sec) = SparkEntry.ensureIvfIndex(spark, sfDir)
      // the incremental twin builds+appends here too, so ivf_topk_appended
      // below also times pure serving
      val (_, appSec) = SparkEntry.ensureIvfAppendedIndex(spark, sfDir)
      System.err.println(f"[bench] ivf index build: $sec%.2f s; build+append: $appSec%.2f s")
      sec
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ivf index build FAILED: $e"); -1.0 }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      System.err.println(s"[bench] query: $name")
      val sec = try timeIt(fn(spark, sfDir).count())
      catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); -1.0 }
      System.err.println(f"[bench] query: $name done")
      name -> sec
    }
    // ---- phase 3: streaming end-to-end (source → validate → exactly-once
    // 3-way sink) turns/sec. Stateless and stateful (conv_id-keyed
    // dedup state on RocksDB) phases run INTERLEAVED, two
    // samples each (SL,SF,SL,SF) and each reports its best — same noise
    // protocol as scaling, so a single host CPU-steal spike cannot poison
    // one phase end-to-end (round 2 recorded stateless at half its
    // stateful sibling exactly that way).
    def streamRun(withDedup: Boolean, inputDir: String = corpus,
        inputRows: Long = rows): Double = {
      val tag = if (withDedup) "stateful" else "stateless"
      val outDir = java.nio.file.Files.createTempDirectory(s"graft_bench_sink_$tag").toString
      val ckDir = java.nio.file.Files.createTempDirectory(s"graft_bench_ck_$tag").toString
      if (withDedup)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // IDENTICAL trigger sizing for both phases: the round-3 "stateless <
      // stateful" inversion was structural, not noise — stateless ran 32
      // files/trigger vs stateful's 64, i.e. TWICE the micro-batches and
      // twice the per-batch planning/commit overhead billed to the phase
      // that was supposed to be faster.
      val cfg = graft.streaming.StreamValidate.Config(
        inputDir, outDir, ckDir, withDedup = withDedup,
        maxFilesPerTrigger = 64, availableNow = true)
      System.err.println(s"[bench] $tag streaming e2e over $inputRows rows...")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamValidate.start(spark, cfg, TranscriptGen.catalog)
      q.awaitTermination(); q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      import scala.reflect.io.Directory
      new Directory(new java.io.File(outDir)).deleteRecursively()
      new Directory(new java.io.File(ckDir)).deleteRecursively()
      System.err.println(s"[bench] $tag streaming e2e: $sec s (${inputRows / sec} turns/s)")
      inputRows / sec
    }
    // WARMUP on the small fixture corpus: the first streaming query of a
    // session pays source/state/sink class-load + codegen that the sampled
    // runs must not absorb (the first stateless sample was the slowest in
    // every committed round-3 run).
    try {
      val warmTx = TranscriptGen.ensure(spark, sfDir).transcripts
      val warmRows = spark.read.parquet(warmTx).count()
      streamRun(withDedup = false, warmTx, warmRows)
      streamRun(withDedup = true, warmTx, warmRows)
    } catch { case e: Throwable => System.err.println(s"[bench] stream warmup: $e") }
    val streamSamples: Seq[(String, Double)] = (1 to 3).flatMap { _ =>
      Seq("stateless" -> (try streamRun(false) catch { case e: Throwable =>
            System.err.println(s"[bench] stateless streaming FAILED: $e"); -1.0 }),
        "stateful" -> (try streamRun(true) catch { case e: Throwable =>
          System.err.println(s"[bench] stateful streaming FAILED: $e"); -1.0 }))
    }
    val streamTps = streamSamples.collect { case ("stateless", t) => t }.max
    val streamStatefulTps = streamSamples.collect { case ("stateful", t) => t }.max

    // ---- phase 4: ANN at a size where IVF should beat brute (the sf0.1
    // embeddings table is 2k vectors — fixed overhead dominates; 100k x 64
    // dims x 500 queries is where the nprobe/nlist candidate pruning pays)
    val annN = sys.env.getOrElse("SPARK_GRAFT_ANN_N", "100000").toInt
    val (annBruteSec, annIvfSec, annRecall) = try {
      val embDir = s"/root/repo/data/emb_bench_$annN"
      if (!new java.io.File(s"$embDir/_GRAFT_READY").exists()) {
        // deterministic synthetic embeddings with CLUSTER structure
        // (256 centers + 25% noise): real embedding spaces cluster — that
        // is the regime IVF exists for; uniform random vectors are the
        // degenerate no-structure case where every probe set misses.
        // All components are xxhash64-derived codegen columns, no driver loop.
        def u(seed: Column, d: Column): Column =
          (pmod(xxhash64(seed, d), lit(2001)) - 1000).cast("double") / 1000.0
        spark.range(annN).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(63)),
              d => u(concat(lit("c"), pmod(col("id"), lit(256))), d) +
                u(col("id"), d) * 0.25).cast("array<float>").as("embedding"))
          .repartition(32).write.mode("overwrite").parquet(s"$embDir/embeddings.parquet")
        new java.io.File(embDir, "_GRAFT_READY").createNewFile()
      }
      val emb = spark.read.parquet(s"$embDir/embeddings.parquet")
      val bruteOut = graft.ops.Similarity.bruteTopK(emb, k = 10, stride = 200)
      val ivfOut = graft.ops.Similarity.ivfTopK(emb, k = 10, stride = 200,
        nlist = 64, nprobe = 8, kmeansIters = 2)
      val bSec = timeIt(bruteOut.count())
      val iSec = timeIt(ivfOut.count())
      // recall@10 of IVF against the exact brute-force ground truth
      val hits = ivfOut.select("q_id", "vec_id")
        .join(bruteOut.select("q_id", "vec_id"), Seq("q_id", "vec_id")).count()
      val recall = hits.toDouble / (annN.toLong / 200 * 10)
      System.err.println(f"[bench] ann $annN: brute $bSec%.2f s, ivf $iSec%.2f s, recall@10 $recall%.3f")
      (bSec, iSec, recall)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ann bench FAILED: $e"); (-1.0, -1.0, -1.0)
    }

    // ---- phase 5: super-linear-stage stress — the per-query numbers run
    // at sf0.1 only; this measures how the pair-generating stages SCALE.
    // Corpora: deterministic replicas of the sf0.1 documents table (replica
    // 0 = the original; replica k>0 replaces every 3rd word with a
    // replica-k token, so every 3-shingle window crosses a replaced
    // position and cross-replica shingle overlap is ZERO — corpus size
    // scales without planting artificial near-dup cliques, while
    // intra-replica pair structure mirrors the original). The fitted
    // log-log exponent shows whether the maxDf/maxBucket caps hold the
    // candidate stages near-linear (exponent ~1) or quadratic terms leak.
    val stressScales: Seq[Int] = sys.env.getOrElse("SPARK_GRAFT_STRESS_SCALES", "1,3,10")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt)
    def stressCorpus(scale: Int): DataFrame = {
      val dir = s"/root/repo/data/docs_stress_${new java.io.File(sfDir).getName}_${scale}x"
      if (!new java.io.File(s"$dir/_GRAFT_READY").exists()) {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val reps = (0 until scale).map { k =>
          if (k == 0) docs
          else docs.select((col("doc_id") + k * 10000000L).as("doc_id"),
            concat_ws(" ", transform(split(lower(trim(col("text"))), "\\s+"),
              (w, i) => when(i % 3 === 0, lit(s"xr${k}x")).otherwise(w))).as("text"))
        }
        reps.reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite")
          .option("parquet.enable.dictionary", "false").parquet(s"$dir/documents.parquet")
        new java.io.File(dir, "_GRAFT_READY").createNewFile()
      }
      spark.read.parquet(s"$dir/documents.parquet")
    }
    val stressOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ngram_jaccard" -> ((d: DataFrame) =>
        graft.ops.Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.05)),
      "minhash_pairs" -> ((d: DataFrame) =>
        graft.ops.Dedup.minhashLshPairs(d, numHashes = 64, bands = 16, threshold = 0.2)),
      "curation_pipeline" -> ((d: DataFrame) => graft.ops.Curation.curate(d)),
      // round 5: the gram-keyed decontamination join (no df prune by
      // design) — the stress corpus's zero cross-replica overlap means
      // the holdout gram set grows linearly while true leak structure
      // stays per-replica, exactly the shape that exposes a quadratic
      // term if the gram join ever degenerates. n=3 (not the oracle's 8):
      // 8-grams of this corpus are so sparse the phase finishes
      // sub-second at every scale and the exponent fit is pure noise;
      // 3-grams carry the dense-overlap load the fit needs
      "decontam" -> ((d: DataFrame) => graft.ops.Decontam.splitAndOverlap(d, n = 3)))
    // ln-ln least-squares slope over the measured points
    def fitExponent(pts: Seq[(Int, Double)]): Double = {
      val xs = pts.map(p => math.log(p._1.toDouble))
      val ys = pts.map(p => math.log(p._2))
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      val num = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) -1.0 else num / den
    }
    val stress: Seq[(String, Seq[(Int, Double)], Double)] =
      if (stressScales.size < 2) Nil
      else try {
        stressScales.foreach(stressCorpus) // generation not billed to op 1
        stressOps.map { case (name, op) =>
          val pts = stressScales.map { s =>
            val sec = timeIt(op(stressCorpus(s)).count())
            System.err.println(f"[bench] stress $name ${s}x: $sec%.2f s")
            s -> sec
          }
          (name, pts, fitExponent(pts))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stress phase FAILED: $e"); Nil
      }
    stress.foreach { case (n, _, e) =>
      System.err.println(f"[bench] stress exponent $n: $e%.2f") }
    // streaming curation throughput over the LARGEST stress corpus: the
    // end-to-end online pipeline (exact+MinHash dedup state → gate →
    // exactly-once sink) draining a backlog at AvailableNow. Constant
    // event time: throughput is the metric here, not watermark semantics
    // (StreamCurationSpec owns those).
    val curationStreamTps: Double =
      if (stressScales.isEmpty) -1.0
      else try {
        val corpusDf = stressCorpus(stressScales.max)
        val n = corpusDf.count()
        val in = java.nio.file.Files.createTempDirectory("graft_bench_cur_in").toString
        val out = java.nio.file.Files.createTempDirectory("graft_bench_cur_out").toString
        val ck = java.nio.file.Files.createTempDirectory("graft_bench_cur_ck").toString
        // mode("overwrite"): createTempDirectory already CREATED `in`, and
        // a plain parquet write refuses an existing path — this phase
        // silently failed (caught → field omitted) in every run until
        // round 5 spotted the [bench] FAILED line
        corpusDf.select(col("doc_id"), col("text"),
            lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
          .write.mode("overwrite")
          .option("parquet.enable.dictionary", "false").parquet(in)
        val cfg = graft.streaming.StreamCuration.Config(in, out, ck,
          maxFilesPerTrigger = 8, availableNow = true)
        val sec = timeIt {
          val q = graft.streaming.StreamCuration.start(spark, cfg)
          q.awaitTermination(); q.stop()
        }
        import scala.reflect.io.Directory
        Seq(in, out, ck).foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
        System.err.println(f"[bench] streaming curation: $n docs in $sec%.2f s (${n / sec}%.0f docs/s)")
        n / sec
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming curation bench FAILED: $e"); -1.0 }

    // ---- emit: FULL record to files, COMPACT headline as the final line.
    // The driver's tail capture is 2,000 chars — rounds 1+2 both measured a
    // passing gate that never machine-landed (r1: sbt prefix; r2: a
    // 3,818-byte line truncated mid-array). The final line now carries only
    // the headline numbers (query secs rounded to ms) and is length-checked;
    // every per-sample array lives in data/bench_last.json (mirrored to
    // BENCH/bench_r3_record.json for the round's record).
    def r3(x: Double): String = if (x < 0) "-1" else f"$x%.3f"
    def r4(x: Double): String = f"$x%.4f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def pairsJson(ps: Seq[(Double, Double, Double)]) = ps.map { case (lo, hi, e) =>
      s"""{"low_tps":${lo.round},"high_tps":${hi.round},"efficiency":${r4(e)}}"""
    }.mkString("[", ",", "]")
    val local32Json = local32
      .map { case (d, f) => s""","local32_decide_tps":${d.round},"local32_fast_tps":${f.round}""" }
      .getOrElse("")
    val scalingJson =
      s"""{"realization":"${sc.realization}","low":"${sc.lowLabel}","high":"${sc.highLabel}","rows":$rows,"runs":${sc.runsJson},""" +
        s""""pairs":${pairsJson(sc.pairs)},"efficiency":${r4(effMedian)},"efficiency_best":${r4(effBest)},""" +
        s""""fast_pairs":${pairsJson(sc.fastPairs)},"fast_efficiency":${r4(fastEffBest)}$local32Json,""" +
        s""""resampled_children":${sc.retried},"protocol":"interleaved fresh child JVMs low,high,low,high,…; min-of-$decSamples per child; steal-poisoned children (decide min >1.25x level best, OR measured /proc/stat hypervisor steal above the threshold cores — sustained steal slows the wide phase uniformly, invisible to the ratio) get extra samples merged in, worst-first, bounded; gate efficiency = MEDIAN time-adjacent pair (best reported as diagnostic; per-sample arrays + per-child steal/busy cores expose any host-noise-poisoned phase)"}"""
    val streamJson = streamSamples.map { case (t, v) => s"""{"$t":${v.round}}""" }
      .mkString("[", ",", "]")
    val annJson =
      s"""{"n":$annN,"queries":${annN / 200},"brute_sec":${r3(annBruteSec)},"ivf_sec":${r3(annIvfSec)},"recall_at_10":${r3(annRecall)}}"""
    val fastJson = fastBest.map(_.round.toString).getOrElse("null")
    val stressJson = stress.map { case (n, pts, e) =>
      // exponent formatted directly: r3 clamps negatives to -1 (its error
      // sentinel), but a NEGATIVE exponent is a legitimate measurement
      // (fixed overhead shrinking relative to corpus size, e.g. decontam
      // at -0.08) that must not be conflated with a failed phase
      s""""$n":{"sec":${pts.map(p => r3(p._2)).mkString("[", ",", "]")},"exponent":${f"$e%.3f"}}"""
    }.mkString(s"""{"scales":${stressScales.mkString("[", ",", "]")},"ops":{""", ",", "}}")
    val stressHeadline =
      (if (stress.isEmpty) ""
       else s""","stress_max_exponent":${r3(stress.map(_._3).max)}""") +
        (if (curationStreamTps < 0) ""
         else s""","curation_stream_docs_per_sec":${curationStreamTps.round}""")
    val headline =
      s"""{"metric":"validated_turns_per_sec","value":${valueTps.round},"unit":"turns/sec","sf":"$sfDir","headline_cpus":$cpus,""" +
        s""""efficiency":${r4(effMedian)},"efficiency_best":${r4(effBest)},"fast_turns_per_sec":$fastJson,""" +
        s""""streaming_turns_per_sec":${streamTps.round},"streaming_stateful_turns_per_sec":${streamStatefulTps.round},""" +
        s""""ann100k_brute_sec":${r3(annBruteSec)},"ann100k_ivf_sec":${r3(annIvfSec)},"ann100k_recall":${r3(annRecall)},""" +
        s""""ivf_index_build_sec":${r3(ivfBuildSec)}$stressHeadline,""" +
        s""""total_query_sec":${r3(total)},"queries":$qs}"""
    // belt-and-braces: stay comfortably under the driver's 2,000-char tail
    val finalLine = if (headline.length <= 1900) headline
      else headline.replaceAll(""","queries":\{.*\}""", "}")
    val fullJson =
      s"""{"headline":$headline,"scaling":$scalingJson,"streaming_samples":$streamJson,"ann":$annJson,"stress":$stressJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("/root/repo/data/bench_last.json"),
      fullJson.getBytes("UTF-8"))
    // The committed run-of-record under BENCH/ is IMMUTABLE by default:
    // every run writes only data/bench_last.json, and a run is promoted to
    // the record explicitly (SPARK_GRAFT_BENCH_RECORD=<path> or a manual
    // copy + commit) — never silently overwritten by whatever ran last.
    sys.env.get("SPARK_GRAFT_BENCH_RECORD").foreach { recordPath =>
      new java.io.File(recordPath).getParentFile.mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(recordPath),
        fullJson.getBytes("UTF-8"))
    }
    System.err.println(s"[bench] final line: ${finalLine.length} bytes")
    spark.stop()
    // FINAL stdout line, raw compact JSON (outputStrategy=StdoutOutput)
    println(finalLine)
    System.out.flush()
  }
}
