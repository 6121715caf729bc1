package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** AQE skew-join proof (SURVEY §4.2): plant one hot join key, run a
  * q3-shaped shuffle join with adaptive skew handling enabled, and pin
  * `isSkewJoin=true` in the final adaptive plan — the runtime backstop for
  * key skew that salting handles statically elsewhere (Aggregates).
  */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits the hot-key partition: SortMergeJoin(isSkewJoin=true)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // test-scale thresholds: the hot partition is ~30 MB, siblings ~1 MB
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 90% of left rows share key 0 (a hot o_orderkey); the payload pad
      // makes the hot shuffle partition comfortably exceed the threshold
      val left = spark.range(400000).select(
        when(col("id") % 10 < 9, 0L).otherwise(col("id")).as("key"),
        concat(lit("x"), lpad(col("id").cast("string"), 64, "0")).as("pad"))
      val right = spark.range(200).select(
        (col("id") % 50).as("key"), col("id").as("r_payload"))
      val joined = left.join(right, "key")
      // materialize through the frame's OWN QueryExecution — count() builds
      // a separate one, leaving this plan un-executed (AQE never finalizes)
      val n = joined.queryExecution.toRdd.count()
      // hot key 0 matches the 4 right rows with key 0
      assert(n >= 360000L * 4, s"unexpected join size $n")
      val flat = flattenPlan(joined.queryExecution.executedPlan)
      val smjs = flat.collect { case s: SortMergeJoinExec => s }
      def show = flat.map(_.nodeName).mkString(" / ")
      assert(smjs.nonEmpty, s"expected a sort-merge join: $show")
      assert(smjs.exists(_.isSkewJoin),
        s"AQE did not mark the join skew-split: $show")
    }
  }
}
