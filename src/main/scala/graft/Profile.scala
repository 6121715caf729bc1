package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Diagnostic main, outside the bench and verify entry points: times named
  * SparkEntry queries (building the frame plus one `count()`, as the bench
  * does) and, given `--plans <outDir>`, writes the formatted plan of that
  * count to `<outDir>/<query>.txt` after its run, so the plan shown is
  * AQE's final plan, the one that ran.
  *
  * usage: runMain graft.Profile <sfDir> [--plans <outDir>] <query...>
  */
object Profile {

  /** The local session of every profiling main: `SPARK_GRAFT_CPUS` cores
    * (default 32) and as many shuffle partitions, AQE on, UTC, no UI.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val (planDir, names) = args.toSeq.drop(1) match {
      case Seq("--plans", dir, rest @ _*) => (Some(dir), rest)
      case rest => (None, rest)
    }
    require(args.nonEmpty && names.nonEmpty,
      "usage: graft.Profile <sfDir> [--plans <outDir>] <query...>")
    val spark = session()
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      try {
        val t0 = System.nanoTime()
        // what count() runs, kept as a frame so its executed plan can be shown
        val counted = SparkEntry.queries(name)(spark, args.head).groupBy().count()
        val n = counted.collect().head.getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE $name%-24s $sec%8.2f s  rows=$n")
        planDir.foreach(d => Files.write(Paths.get(d, s"$name.txt"),
          counted.queryExecution.explainString(FormattedMode).getBytes(UTF_8)))
      } catch { case e: Exception => println(s"PROFILE $name FAILED: $e") }
    }
    spark.stop()
  }
}
