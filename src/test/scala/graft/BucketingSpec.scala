package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Bucketing = the static co-location path for repeated big joins: both
  * sides pre-hashed into the same number of buckets on the join key, so
  * the join reads co-located buckets and plans with ZERO shuffle
  * exchange. At 100 TB this converts the orders⋈lineitem shuffle (the
  * dominant exchange of q3/q5-shaped queries) into a scan-side property
  * paid once at write time — the batch analogue of the streaming path's
  * keyed state partitioning.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed co-located join plans with no shuffle exchange") {
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bucketed")
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_bucketed")
      val joined = spark.table("orders_bucketed")
        .join(spark.table("lineitem_bucketed"),
          col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_totalprice", "l_extendedprice")
      val n = joined.queryExecution.toRdd.count()
      assert(n > 0)
      val flat = flattenPlan(joined.queryExecution.executedPlan)
      assert(flat.collectFirst { case s: SortMergeJoinExec => s }.nonEmpty,
        "expected a sort-merge join over bucketed scans")
      val shuffles = flat.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"bucketed join should not shuffle, found: ${shuffles.mkString(", ")}")

      // sanity: same join unbucketed DOES shuffle both sides
      val plain = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .join(spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
          col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_totalprice", "l_extendedprice")
      plain.queryExecution.toRdd.count()
      val plainShuffles = flattenPlan(plain.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }
      assert(plainShuffles.size == 2, s"expected 2 exchanges, got $plainShuffles")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS lineitem_bucketed")
    }
  }
}
