package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.Joins

/** Join classes over the TPC-H-shaped tables + the distributed as-of join.
  * Correctness here; the driver's DuckDB oracle independently re-derives
  * all four queries (q3_join / semi_join / anti_join / asof_join).
  */
class JoinsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin matches latest prior-or-equal right row per key (inclusive)") {
    import spark.implicits._
    val left = Seq( // (event_id, user_id, ts, value)
      (1L, 10L, ts("2024-01-01 00:03:00"), 1.0), // → click at 00:01
      (2L, 10L, ts("2024-01-01 00:05:00"), 2.0), // → click at 00:05 (equal ts)
      (3L, 10L, ts("2024-01-01 00:00:30"), 3.0), // no prior click: dropped
      (4L, 20L, ts("2024-01-01 00:09:00"), 4.0), // other user's clicks invisible
      (5L, 30L, ts("2024-01-01 00:09:00"), 5.0)  // → user 30 click 00:02
    ).toDF("event_id", "user_id", "ts", "value")
    val right = Seq(
      (101L, 10L, ts("2024-01-01 00:01:00"), 0.1),
      (102L, 10L, ts("2024-01-01 00:05:00"), 0.2),
      (103L, 30L, ts("2024-01-01 00:02:00"), 0.3)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = Joins.asofJoin(left, right, "user_id", "ts",
      Seq("event_id", "ts", "value")).orderBy("event_id")
      .select("event_id", "r_event_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 101L), (2L, 102L), (5L, 103L)))
  }

  test("asofJoin agrees with a brute-force per-row max over sf0.001 events") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val p = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val c = ev.filter(col("event_type") === "click")
    val got = Joins.asofJoin(p, c, "user_id", "ts", Seq("event_id", "ts"))
      .select("event_id", "r_event_id")
    // brute force: theta join + argmax
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(col("c_ts").desc, col("c_id").desc)
    val brute = p.as("p").join(c.select(col("user_id").as("c_uid"),
          col("ts").as("c_ts"), col("event_id").as("c_id")),
        col("p.user_id") === col("c_uid") && col("c_ts") <= col("p.ts"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("c_id").as("r_event_id"))
    assert(got.count() > 0)
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
  }

  test("asofJoinSalted == asofJoin on events, including a planted hot key") {
    import spark.implicits._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // plant a hot key: every event re-keyed to user 777 as an extra corpus
    val hot = ev.withColumn("user_id", lit(777L))
      .withColumn("event_id", col("event_id") + 1000000L)
    for (corpus <- Seq(ev, hot)) {
      val p = corpus.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val c = corpus.filter(col("event_type") === "click")
      val plain = Joins.asofJoin(p, c, "user_id", "ts",
        Seq("event_id", "ts", "value"), tieBreak = Some("event_id"))
      // bucket small enough that the events span MANY buckets (else the
      // salt degenerates to the unsalted plan and proves nothing)
      val salted = Joins.asofJoinSalted(p, c, "user_id", "ts",
        Seq("event_id", "ts", "value"), tieBreak = Some("event_id"),
        bucketSeconds = 3600L)
      assert(c.select(floor(col("ts").cast("timestamp").cast("long") / 3600L))
          .distinct().count() > 5,
        "fixture spans too few buckets for a meaningful salt test")
      assert(plain.count() == salted.count())
      assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
    }
  }

  test("asofJoinAuto: benign corpus picks plain, planted hot key picks salted; both row-identical") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val hot = ev.withColumn("user_id", lit(777L))
      .withColumn("event_id", col("event_id") + 1000000L)
    def sides(corpus: org.apache.spark.sql.DataFrame) = (
      corpus.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value"),
      corpus.filter(col("event_type") === "click"))
    val (pB, cB) = sides(ev)
    val (pH, cH) = sides(hot)
    // the probe sees the skew: one key carries the whole planted corpus
    val benignMax = Joins.asofMaxKeyRows(pB, cB, "user_id")
    val hotMax = Joins.asofMaxKeyRows(pH, cH, "user_id")
    assert(hotMax > benignMax * 10, s"benign=$benignMax hot=$hotMax")
    val threshold = (benignMax + hotMax) / 2 // benign under, hot over
    // selection: the salted plan exchanges on (key, bucket), plain on key
    def planOf(p: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Joins.asofJoinAuto(p, c, "user_id", "ts", Seq("event_id", "ts", "value"),
        tieBreak = Some("event_id"), hotKeyThreshold = threshold)
    val sBenign = planOf(pB, cB).queryExecution.executedPlan.toString
    assert("hashpartitioning\\(user_id#\\d+L?, _b#\\d+L?".r.findFirstIn(sBenign).isEmpty,
      "benign corpus routed to the salted plan:\n" + sBenign.take(1200))
    val sHot = planOf(pH, cH).queryExecution.executedPlan.toString
    assert("hashpartitioning\\(user_id#\\d+L?, _b#\\d+L?".r.findFirstIn(sHot).nonEmpty,
      "hot corpus did not route to the salted plan:\n" + sHot.take(1200))
    // both routes produce the as-of answer
    for ((p, c) <- Seq((pB, cB), (pH, cH))) {
      val auto = planOf(p, c)
      val plain = Joins.asofJoin(p, c, "user_id", "ts",
        Seq("event_id", "ts", "value"), tieBreak = Some("event_id"))
      assert(auto.exceptAll(plain).isEmpty && plain.exceptAll(auto).isEmpty)
    }
    // sampled probe: same order of magnitude on the hot corpus
    val sampled = Joins.asofMaxKeyRows(pH, cH, "user_id", sampleFraction = 0.5)
    assert(sampled > hotMax / 4 && sampled < hotMax * 4, s"sampled=$sampled exact=$hotMax")
    // empty inputs: the probe reports "no hot key" (0), never crashes —
    // the auto join then behaves like the plain join on empty frames
    val none = pB.filter(lit(false))
    assert(Joins.asofMaxKeyRows(none, cB.filter(lit(false)), "user_id") == 0L)
    assert(Joins.asofJoinAuto(none, cB.filter(lit(false)), "user_id", "ts",
      Seq("event_id", "ts", "value")).count() == 0L)
  }

  test("asofJoinSalted plan: row-grain work partitions by (key, bucket), never key alone") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = Joins.asofJoinSalted(
      ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click"),
      "user_id", "ts", Seq("event_id"), bucketSeconds = 3600L)
    val s = out.queryExecution.executedPlan.toString
    // the row-grain merge window must exchange on (user_id, _b) — that is
    // the salt; the only key-alone exchange is the bucket-grain carry
    // window (tiny by design)
    assert("hashpartitioning\\(user_id#\\d+L?, _b#\\d+L?".r.findFirstIn(s).nonEmpty,
      "no (key, bucket) exchange found:\n" + s.take(2000))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s.take(1500))
  }

  test("asofJoin plan: exactly one hash exchange, keyed on the join key") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = Joins.asofJoin(
      ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click"),
      "user_id", "ts", Seq("event_id"))
    val s = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r.findAllMatchIn(s).toSeq
    assert(exchanges.map(_.group(1)).distinct == Seq("user_id"), s.take(1500))
  }

  test("semi join returns orders with lineitems; anti the complement") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val semi = Joins.ordersWithLineitems(orders, li)
    val withLi = li.select(col("l_orderkey")).distinct().count()
    assert(semi.count() == withLi)
    val s = semi.queryExecution.executedPlan.toString
    assert(s.contains("LeftSemi"), s.take(1200))

    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val anti = Joins.customersWithoutUrgent(cust, orders)
    val urgentCusts = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").distinct().count()
    assert(anti.count() == cust.count() - urgentCusts)
    assert(anti.queryExecution.executedPlan.toString.contains("LeftAnti"))
  }

  test("q14 promo revenue: part broadcasts, ship-date filter reaches the scan") {
    val out = Joins.promoRevenue(
      spark.read.parquet("/root/testdata/sf0.001/part.parquet"),
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
      "1997-01-01", "1997-04-01")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // promo_share is a percentage of total revenue
    rows.foreach { r =>
      val share = r.getAs[Double]("promo_share")
      assert(share >= 0.0 && share <= 100.0, r.toString)
    }
    val s = out.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s.take(1500)) // part is the dim side
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate)"), s.take(2000))
  }

  test("q3 join falls back to sort-merge when broadcast is disabled (SMJ path)") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q3 = Joins.topRevenueOrders(
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet"),
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
        "BUILDING", "1998-01-01", 20)
      q3.collect() // force through AQE so the final plan is real
      val s = q3.queryExecution.executedPlan.toString
      assert(s.contains("SortMergeJoin"), s.take(1500))
      assert(s.contains("TakeOrderedAndProject"), s.take(1500))
    }
  }

  test("q3 revenue descends and respects the cutoff filters") {
    val q3 = Joins.topRevenueOrders(
      spark.read.parquet("/root/testdata/sf0.001/customer.parquet"),
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
      "BUILDING", "1998-01-01", 20)
    val rows = q3.collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    assert(q3.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")).isEmpty)
  }
}
