package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-table relational joins over the TPC-H-shaped tables — the join
  * classes SURVEY.md §2.4 promises beyond the broadcast/interval joins the
  * validation pipeline uses (reference analogue: the per-record existence
  * lookups at TopologyProducer.java:196-208, here as set-granularity joins).
  *
  * Scale notes (100 TB):
  *  - [[topRevenueOrders]]: the orders⋈lineitem leg is the big
  *    shuffle join (both sides huge, keyed on orderkey — sort-merge under
  *    AQE, skew-split if an order is hot); the filtered customer leg is
  *    small-relative and Catalyst broadcasts it when it fits, else it
  *    shuffles on custkey. Filters and 3-column pruning reach the scans.
  *    The final top-k is orderBy+limit → TakeOrderedAndProject (per
  *    partition heap + single driver merge of k rows), never a global sort.
  *  - [[ordersWithLineitems]]: left_semi — the build side dedups to keys
  *    before the probe, no payload carried.
  *  - [[customersWithoutUrgent]]: left_anti with the right side filtered
  *    first (80% pruned before the exchange).
  *  - [[asofJoin]]: ONE shuffle of both inputs co-partitioned on the key,
  *    then a per-partition time-ordered merge (running last-non-null over
  *    the unioned, side-tagged rows) — the canonical distributed as-of
  *    plan. No range cross-join, no per-left-row probe. A pathologically
  *    hot key serializes within its partition; salt by coarse time bucket
  *    if that ever dominates.
  */
object Joins {

  /** TPC-H Q3-flavored: top-k orders by discounted revenue for one market
    * segment, orders placed before / lineitems shipped after `cutoff`.
    */
  def topRevenueOrders(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, segment: String, cutoff: String, k: Int): DataFrame = {
    val c = customer.filter(col("c_mktsegment") === segment).select("c_custkey")
    val o = orders.filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = lineitem.filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderkey"))
      .limit(k)
  }

  /** TPC-H Q5-flavored: revenue by nation for one region + one order-date
    * year — a SIX-table join (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈
    * nation ⋈ region with the local-supplier constraint c_nationkey =
    * s_nationkey). Catalyst join reordering + AQE pick the physical order;
    * nation/region/supplier are broadcast-sized, orders⋈lineitem is the
    * big keyed shuffle, and the date filter prunes orders at the scan.
    */
  def regionRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame,
      regionName: String, yearStart: String, yearEnd: String): DataFrame = {
    val o = orders.filter(col("o_orderdate") >= lit(yearStart).cast("timestamp") &&
      col("o_orderdate") < lit(yearEnd).cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val r = region.filter(col("r_name") === regionName).select("r_regionkey")
    lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey")) // local-supplier rule
      .join(nation.select("n_nationkey", "n_name", "n_regionkey"),
        col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  /** Orders having at least one lineitem (left_semi — existence only). */
  def ordersWithLineitems(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem.select("l_orderkey"),
        orders("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** Customers with NO urgent-priority order (left_anti). */
  def customersWithoutUrgent(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(
        orders.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        customer("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")

  /** TPC-H Q14-flavored: per-brand promo revenue share for lineitems
    * shipped inside [from, to) — the part⋈lineitem join shape (the one
    * shipped table no other query touched). At 100 TB lineitem is the big
    * probe side and part the dimension: the ship-date filter prunes
    * lineitem at the scan, both sides project to 3 columns, and part
    * broadcasts when it fits (it does at every test SF — plan-pinned in
    * JoinsSpec); past the broadcast threshold it's a keyed shuffle join on
    * l_partkey, never the other way around.
    */
  def promoRevenue(part: DataFrame, lineitem: DataFrame,
      from: String, to: String): DataFrame = {
    val l = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val p = part.select("p_partkey", "p_brand", "p_type")
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))).as("promo_revenue"),
        sum(rev).as("total_revenue"),
        count(lit(1)).as("n_items"))
      .withColumn("promo_share",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  /** [[asofJoin]] with coarse-time-bucket salting — the hot-key variant
    * its scale note proposes. The plain plan serializes a key within ONE
    * partition (the running-last window sorts and scans every row of the
    * key serially); here rows partition by (key, time-bucket) so a hot
    * key's work spreads across buckets, at the cost of a bucket-grain
    * carry computation:
    *
    *  1. per (key, bucket): the last right row of the bucket (one hash
    *     aggregate — max of a (ts, tiebreak, payload) struct, map-side
    *     combined, so the exchange carries one row per (key, bucket));
    *  2. per key: carry-in for each bucket = latest carry from any EARLIER
    *     bucket (a running-last window over BUCKET-grain rows — thousands
    *     of times smaller than row grain; this is the only per-key serial
    *     step left);
    *  3. per (key, bucket): the same union + running-last merge as the
    *     unsalted plan, with the carry-in as a synthetic earliest row.
    *
    * Row-for-row identical to [[asofJoin]] (agreement-tested incl. a
    * planted hot key); same tiebreak semantics (max `tieBreak` among
    * same-instant right rows).
    */
  def asofJoinSalted(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightCols: Seq[String], prefix: String = "r_",
      tieBreak: Option[String] = None, bucketSeconds: Long = 3600L): DataFrame = {
    require(bucketSeconds > 0)
    // NTZ timestamps cannot cast straight to long — go through timestamp
    def bucketOf(c: Column): Column =
      floor(c.cast("timestamp").cast("long") / bucketSeconds)
    val r = right.select(
        col(key) +: col(ts) +: struct(rightCols.map(col): _*).as("_r") +: Nil: _*)
      .withColumn("_b", bucketOf(col(ts)))
    val l = left.withColumn("_b", bucketOf(col(ts))).withColumn("_side", lit(1))
    // 1. last right row per (key, bucket): struct max = (max ts, then max
    // tiebreak) — the exact row the unsalted window's `last` would pick.
    // Struct comparison sorts a null field first, matching asc_nulls_first.
    val tieCol = tieBreak.map(c => col("_r").getField(c)).getOrElse(lit(0))
    val carry = r.groupBy(col(key), col("_b"))
      .agg(max(struct(col(ts).as("_cts"), tieCol.as("_ctie"), col("_r").as("_cr"))).as("_c"))
    // 2. carry-in per bucket that has ANY row (either side): running last
    // carry over earlier buckets, at bucket grain.
    val spine = l.select(col(key), col("_b"))
      .union(r.select(col(key), col("_b"))).distinct()
    val wb = Window.partitionBy(key).orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = spine.join(carry, Seq(key, "_b"), "left")
      .withColumn("_cin", last(col("_c"), ignoreNulls = true).over(wb))
      .filter(col("_cin").isNotNull)
      // carry ts is from a strictly earlier bucket, so it orders before
      // every in-bucket row; _side = -1 makes that explicit
      .select(col(key), col("_b"), col("_cin").getField("_cts").as(ts),
        col("_cin").getField("_cr").as("_r"), lit(-1).as("_side"))
    val rTagged = r.withColumn("_side", lit(0))
    val unioned = l
      .unionByName(rTagged, allowMissingColumns = true)
      .unionByName(carryIn, allowMissingColumns = true)
    val tieOrder = tieBreak.toSeq.map(c => col("_r").getField(c).asc_nulls_first)
    val w = Window.partitionBy(col(key), col("_b"))
      .orderBy(col(ts).asc +: col("_side").asc +: tieOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = rightCols.map(c => col(s"_asof.$c").as(s"$prefix$c"))
    unioned
      .withColumn("_asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_asof").isNotNull)
      .select(left.columns.map(col) ++ flat: _*)
  }

  /** The [[asofJoin]]/[[asofJoinSalted]] pick, decided from the DATA: the
    * plain plan serializes each key inside one partition (its running-last
    * window sorts and scans every row of the key on one task), so it wins
    * on benign key distributions (no bucket-carry overhead — 2x faster at
    * the bench corpus) and loses exactly when one key's row count rivals a
    * whole partition's. The probe is one map-side-combined counting
    * aggregate over both sides' key columns (exchange carries one row per
    * distinct key per task; `sampleFraction` < 1 trades exactness for scan
    * cost at 100 TB — counts scale back up before the threshold compare).
    * Returns the max per-key row count across the unioned inputs.
    */
  def asofMaxKeyRows(left: DataFrame, right: DataFrame, key: String,
      sampleFraction: Double = 1.0): Long = {
    val keys = left.select(col(key)).unionAll(right.select(col(key)))
    val sampled = if (sampleFraction < 1.0) keys.sample(sampleFraction, seed = 42) else keys
    // empty (or sampled-to-empty) input: the global max aggregates no
    // groups and yields a null row — that is "no hot key", not a crash
    val row = sampled.groupBy(key).agg(count(lit(1)).as("n"))
      .agg(max("n")).head()
    if (row.isNullAt(0)) return 0L
    val m = row.getLong(0)
    if (sampleFraction < 1.0) (m / sampleFraction).toLong else m
  }

  /** Skew-aware as-of: probes the key distribution ([[asofMaxKeyRows]])
    * and picks [[asofJoinSalted]] only past `hotKeyThreshold` rows on one
    * key — the caller no longer guesses. Row-identical to either branch
    * (they are agreement-tested against each other); both routes share one
    * oracle. Default threshold ~ the row count where one key's serial
    * window scan stops fitting a task's slice of the work (tune per
    * cluster; any value in the right order of magnitude beats guessing).
    */
  def asofJoinAuto(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightCols: Seq[String], prefix: String = "r_",
      tieBreak: Option[String] = None, hotKeyThreshold: Long = 1000000L,
      sampleFraction: Double = 1.0, bucketSeconds: Long = 3600L): DataFrame =
    if (asofMaxKeyRows(left, right, key, sampleFraction) > hotKeyThreshold)
      asofJoinSalted(left, right, key, ts, rightCols, prefix, tieBreak, bucketSeconds)
    else asofJoin(left, right, key, ts, rightCols, prefix, tieBreak)

  /** Distributed as-of join: for each left row, the latest right row with
    * `right.ts <= left.ts` on the same key (DuckDB `ASOF JOIN` semantics,
    * inclusive). Right payload columns come back `prefix`-renamed; rows
    * with no prior right match are dropped (inner as-of).
    *
    * Plan: tag sides, union (right sorts before left at equal ts so a
    * same-instant right row is visible), window
    * `last(payload, ignoreNulls).over(key ORDER BY ts, side ROWS UNBOUNDED
    * PRECEDING)` — a single exchange on `key`, one sort, O(n) merge.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightCols: Seq[String], prefix: String = "r_",
      tieBreak: Option[String] = None): DataFrame = {
    val r = right.select(
      col(key) +: col(ts) +:
        struct(rightCols.map(col): _*).as("_r") +: Nil: _*)
      .withColumn("_side", lit(0))
    val l = left.withColumn("_side", lit(1))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // deterministic tiebreak among right rows sharing (key, ts): order by
    // the caller-named right column so `last` always picks its maximum —
    // without it the pick among same-instant right rows is plan-dependent
    val tieOrder = tieBreak.toSeq.map(c => col("_r").getField(c).asc_nulls_first)
    val w = Window.partitionBy(key)
      .orderBy(col(ts).asc +: col("_side").asc +: tieOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = rightCols.map(c => col(s"_asof.$c").as(s"$prefix$c"))
    unioned
      .withColumn("_asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_asof").isNotNull)
      .select(left.columns.map(col) ++ flat: _*)
  }
}
