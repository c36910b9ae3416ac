package graft.queries

import graft.Tables
import graft.functions.TimeFns
import graft.operators.{Activity, Rankings, Snapshots}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merl-parity relational queries (SURVEY §2) expressed over the test
  * tables, each with a DuckDB oracle in [[Relational.oracles]].
  *
  * Determinism contract with the oracle: every aggregated double goes
  * through an exact DECIMAL sum and is cast to DOUBLE only at output,
  * so results are bit-identical regardless of partition/summation
  * order; every query ends in a total-order sort.
  */
object Relational {

  private val Dec2 = DecimalType(18, 2)
  private val Dec6 = DecimalType(18, 6)
  private def dsum(c: Column): Column = sum(c.cast(Dec2)).cast(DoubleType)

  /** TPC-H Q1-style pricing summary (SURVEY A2/A3 shape). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec6))
          .cast(DoubleType).as("sum_disc_price"),
        (sum(col("l_quantity").cast(Dec2)).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Reference W1: Top-100 holders by balance via RANK, partitioned by
    * group (customer-as-holders: segment=token, acctbal=balance).
    */
  def top100Rank(s: SparkSession, dir: String): DataFrame =
    Rankings.topKPerGroup(
      Tables.customer(s, dir),
      groupCols = Seq(col("c_mktsegment")),
      ordering = Seq(col("c_acctbal").desc, col("c_custkey").asc),
      k = 100)
      .select(col("c_mktsegment"), col("c_custkey"),
        col("c_acctbal").as("balance"), col("rnk").cast(LongType).as("rnk"))
      .orderBy(col("c_mktsegment"), col("rnk"), col("c_custkey"))

  /** Reference J1+A1+P8: newest 6h snapshot bucket of the event stream,
    * summarized per event type.
    */
  def latestBucket(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("bucket", TimeFns.bucket6h(col("ts")).cast(LongType))
    Snapshots.latestBucket(ev, col("bucket"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Shared decimal-domain flows frame for the activity family:
    * events in the last 6 h (as-of max ts, deterministic), restricted
    * to the Top-100 users by lifetime value (broadcast semi-join),
    * per-user in/out/txs in exact decimals.
    *
    * Scale notes: the Top-100 is `orderBy(lifetime.desc, user_id.asc)
    * .limit(100)` — TakeOrderedAndProject, a distributed per-partition
    * heap + driver merge. Because the ordering ends in the unique
    * `user_id` tiebreak it is a total order, so `limit(100)` is
    * row-for-row equivalent to `RANK() <= 100` (the reference's W1
    * semantics) with no single-partition global-sort window. The frame
    * is persisted and memoized per (session, dir) — the reference's M7
    * temp-table reuse — because three queries and the bench all
    * consume it. A long-lived service releases it with the session's
    * other entries through [[graft.SessionCache.evictSession]].
    */
  private val flowsCache = graft.SessionCache.frames[String]

  private def flowsDec(s: SparkSession, dir: String): DataFrame =
    flowsCache.getOrElseUpdate(s, dir)({
      val ev = Tables.events(s, dir)
      val asOf = ev.agg(max(col("ts")).as("__asof"))
      val windowed = ev.join(broadcast(asOf),
        col("ts") >= col("__asof") - expr("INTERVAL 6 HOURS")).drop("__asof")
      val top = ev.groupBy(col("user_id"))
        .agg(sum(col("value").cast(Dec2)).as("lifetime"))
        .orderBy(col("lifetime").desc, col("user_id").asc).limit(100)
        .select(col("user_id"))
      val watched = windowed.join(broadcast(top), Seq("user_id"), "left_semi")
      Activity.flows(watched, col("user_id"),
        col("value").cast(Dec2),
        inflow = col("event_type").isin("purchase", "signup"),
        outflow = col("event_type").isin("click", "error"))
        .persist()
    })

  /** Reference A2: per-wallet conditional in/out sums over the window. */
  def activityFlows(s: SparkSession, dir: String): DataFrame =
    flowsDec(s, dir)
      .select(col("entity"), col("in_amt").cast(DoubleType).as("in_amt"),
        col("out_amt").cast(DoubleType).as("out_amt"), col("txs"))
      .orderBy(col("entity"))

  /** Reference A3: grand totals + net flow. */
  def activityTotals(s: SparkSession, dir: String): DataFrame =
    Activity.totals(flowsDec(s, dir))
      .select(col("wallets"), col("total_txs"),
        col("total_in").cast(DoubleType).as("total_in"),
        col("total_out").cast(DoubleType).as("total_out"),
        col("net_flow").cast(DoubleType).as("net_flow"))

  /** Reference W2: top movers by GREATEST(in, out). */
  def topMovers(s: SparkSession, dir: String): DataFrame =
    Activity.topMovers(flowsDec(s, dir), 10)
      .select(col("entity"), col("in_amt").cast(DoubleType).as("in_amt"),
        col("out_amt").cast(DoubleType).as("out_amt"), col("txs"),
        col("max_flow").cast(DoubleType).as("max_flow"))

  /** Reference A1/A4: holder-count summary of the latest bucket. */
  def holdersSummary(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("bucket", TimeFns.bucket6h(col("ts")).cast(LongType))
    Snapshots.latestBucket(ev, col("bucket"))
      .agg(count(lit(1)).as("rows_latest"),
        countDistinct(col("user_id")).as("users_latest"))
  }

  /** Star-schema join: revenue per region/nation for finished orders.
    * Dim tables broadcast; only the lineitem↔orders join shuffles.
    */
  def starJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec6))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  /** Reference J2: broadcast semi-join (IN-subquery). */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
    Tables.customer(s, dir)
      .join(broadcast(bigOrders), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Reference M2 (insert-ignore dedup shape): anti-join — customers
    * with no large order.
    */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** lag/lead/row_number per user over the event stream. */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_s",
        unix_timestamp(col("ts").cast(TimestampType))
          - unix_timestamp(lag(col("ts"), 1).over(w).cast(TimestampType)))
      .select(col("event_id"), col("user_id"), col("rn"), col("prev_type"), col("gap_s"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Set operations: (big purchasers ∪ big signups) ∩ big viewers ∖
    * big-error users — value thresholds keep each set partial so the
    * result is non-trivial at every scale factor.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def users(t: String, minV: Double) =
      ev.filter(col("event_type") === t && col("value") > minV).select(col("user_id"))
    users("purchase", 250).union(users("signup", 250)).distinct()
      .intersect(users("view", 200))
      .except(users("error", 190))
      .orderBy(col("user_id"))
  }

  /** ROLLUP aggregation (free in both engines, pinned for parity). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Reference JSONB access (P9/§1.2): extract props.k, aggregate. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_cnt"),
        max(col("k")).as("k_max"))
      .orderBy(col("event_type"))

  /** Reference P7/P8/P14: time bucketing + UTC display formatting. */
  def timeFormat(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .agg(min(TimeFns.formatUtcMinute(col("ts"))).as("first_minute"),
        count(lit(1)).as("n"),
        countDistinct(TimeFns.bucket6h(col("ts"))).as("n_buckets"))
      .orderBy(col("day"))

  /** Reference M5: monotonic cursor merge — GREATEST of saved and new
    * per-stream max positions, full-outer.
    */
  def cursorMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val saved = ev.filter(col("event_id") % 2 === 0).groupBy(col("user_id"))
      .agg(max(col("event_id")).as("saved_block"))
    val fresh = ev.filter(col("event_id") % 3 === 0).groupBy(col("user_id"))
      .agg(max(col("event_id")).as("new_block"))
    saved.join(fresh, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        greatest(coalesce(col("saved_block"), lit(-1L)),
          coalesce(col("new_block"), lit(-1L))).as("cursor"))
      .orderBy(col("user_id"))
  }

  /** Reference S4: block-by-time probe — latest event at-or-before a
    * cutoff ('before' semantics), plus first at-or-after ('after').
    */
  def blockByTime(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts").cast(TimestampType)))
    val cut = ev.agg(
      floor((min(col("epoch_s")) + max(col("epoch_s"))) / 2).as("cutoff_s"))
    ev.join(broadcast(cut), lit(true))
      .agg(max(when(col("epoch_s") <= col("cutoff_s"), col("event_id"))).as("before_id"),
        min(when(col("epoch_s") > col("cutoff_s"), col("event_id"))).as("after_id"))
  }

  /** Backward as-of join (brief-named operator Spark lacks): each
    * purchase matched to the SAME user's latest at-or-before click —
    * gated against DuckDB's native ASOF JOIN. Clicks pre-dedup to one
    * per (user, second) keeping max event_id, so the tie row both
    * engines pick is deterministic.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts").cast(TimestampType)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("epoch_s").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("epoch_s").as("cts"))
      .agg(max(col("event_id")).as("click_id"))
    graft.operators.Temporal.asOfJoin(purchases, clicks,
        Seq("user_id"), "pts", "cts", rightPrefix = "m_")
      .select(col("user_id"), col("purchase_id"), col("pts"),
        col("m_click_id").as("click_id"), col("m_cts").as("click_ts"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Same relation as [[asofJoin]] through the ADAPTIVE skew path
    * ([[graft.operators.Temporal.asOfJoinAuto]]): a sampled
    * key-frequency probe decides per input whether the hot-key carry
    * machinery is worth paying — on this unskewed corpus it selects
    * the plain path (probe cost only, round-9 fix for the r8
    * "unskewed premium" finding); a hot key would get the bucketed
    * variant with a span-derived width. The identical DuckDB ASOF
    * oracle makes any divergence between the paths a hash mismatch in
    * the per-round gate, not just a spec failure; the forced-skewed
    * machinery itself stays equivalence-pinned in TemporalSpec.
    */
  def asofJoinSkewed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts").cast(TimestampType)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("epoch_s").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("epoch_s").as("cts"))
      .agg(max(col("event_id")).as("click_id"))
    graft.operators.Temporal.asOfJoinAuto(purchases, clicks,
        Seq("user_id"), "pts", "cts", rightPrefix = "m_")
      .select(col("user_id"), col("purchase_id"), col("pts"),
        col("m_click_id").as("click_id"), col("m_cts").as("click_ts"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Forward as-of: each purchase matched to the SAME user's earliest
    * at-or-after click — gated against DuckDB's ASOF with a `>=`
    * condition. Same pre-dedup as [[asofJoin]].
    */
  def asofJoinFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts").cast(TimestampType)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("epoch_s").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("epoch_s").as("cts"))
      .agg(max(col("event_id")).as("click_id"))
    graft.operators.Temporal.asOfJoin(purchases, clicks,
        Seq("user_id"), "pts", "cts", rightPrefix = "m_", forward = true)
      .select(col("user_id"), col("purchase_id"), col("pts"),
        col("m_click_id").as("click_id"), col("m_cts").as("click_ts"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Interval-overlap (range) join, gated against DuckDB's native
    * non-equi join: 1-day purchase attribution windows × 6-hour click
    * sessions per user. Inputs are DISTINCT interval sets so the
    * operator's bucket-dedup and the oracle's plain θ-join state the
    * same relation.
    */
  def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts").cast(TimestampType)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("epoch_s").as("p_start"),
        (col("epoch_s") + 86400L).as("p_end")).distinct()
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("epoch_s").as("c_start"),
        (col("epoch_s") + 21600L).as("c_end")).distinct()
    graft.operators.Temporal.rangeJoin(purchases, clicks, Seq("user_id"),
        "p_start", "p_end", "c_start", "c_end", bucketWidth = 43200L)
      .select("user_id", "p_start", "p_end", "c_start", "c_end")
  }

  /** Z-order clustering key ([[graft.operators.Layout]] family): the
    * Morton address the layout operator range-partitions files by,
    * hash-gated bit for bit — the oracle restates the interleave as an
    * explicit per-bit sum, so the codegen'd [[graft.plans.ZInterleave]]
    * is checked against independently-stated bit math. Keys are raw
    * (part/supp ids are already dense rank space); the affine
    * normalization wrapper is spec-tested in LayoutSpec.
    */
  def zorderKey(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").cast(LongType).as("l_orderkey"),
        col("l_linenumber").cast(LongType).as("l_linenumber"),
        col("l_partkey").cast(LongType).as("l_partkey"),
        col("l_suppkey").cast(LongType).as("l_suppkey"))
      .withColumn("zkey",
        graft.operators.Layout.zOrderKeyRaw(Seq(col("l_partkey"), col("l_suppkey"))))
      .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
      .limit(200)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "zorder_key" -> (zorderKey _),
    "asof_join" -> (asofJoin _),
    "asof_join_skewed" -> (asofJoinSkewed _),
    "asof_join_fwd" -> (asofJoinFwd _),
    "range_join" -> (rangeJoinQ _),
    "top100_rank" -> (top100Rank _),
    "latest_bucket" -> (latestBucket _),
    "activity_flows" -> (activityFlows _),
    "activity_totals" -> (activityTotals _),
    "top_movers" -> (topMovers _),
    "holders_summary" -> (holdersSummary _),
    "star_join" -> (starJoin _),
    "semi_join" -> (semiJoin _),
    "anti_join" -> (antiJoin _),
    "window_funcs" -> (windowFuncs _),
    "set_ops" -> (setOps _),
    "rollup_agg" -> (rollupAgg _),
    "json_extract" -> (jsonExtract _),
    "time_format" -> (timeFormat _),
    "cursor_merge" -> (cursorMerge _),
    "block_by_time" -> (blockByTime _))

  val oracles: Map[String, String] = Map(
    "asof_join_fwd" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, es AS pts
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, es AS cts, MAX(event_id) AS click_id
        |      FROM e WHERE event_type = 'click' GROUP BY user_id, es)
        |SELECT p.user_id, p.purchase_id, p.pts, c.click_id, c.cts AS click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.cts >= p.pts
        |ORDER BY p.user_id, p.purchase_id""".stripMargin,
    "range_join" ->
      """WITH e AS (SELECT user_id, event_type,
        |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |p AS (SELECT DISTINCT user_id, es AS p_start, es + 86400 AS p_end
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT DISTINCT user_id, es AS c_start, es + 21600 AS c_end
        |      FROM e WHERE event_type = 'click')
        |SELECT p.user_id, p_start, p_end, c_start, c_end
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND p_start <= c_end AND c_start <= p_end""".stripMargin,
    "asof_join_skewed" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, es AS pts
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, es AS cts, MAX(event_id) AS click_id
        |      FROM e WHERE event_type = 'click' GROUP BY user_id, es)
        |SELECT p.user_id, p.purchase_id, p.pts, c.click_id, c.cts AS click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.cts <= p.pts
        |ORDER BY p.user_id, p.purchase_id""".stripMargin,
    "asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, es AS pts
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, es AS cts, MAX(event_id) AS click_id
        |      FROM e WHERE event_type = 'click' GROUP BY user_id, es)
        |SELECT p.user_id, p.purchase_id, p.pts, c.click_id, c.cts AS click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.cts <= p.pts
        |ORDER BY p.user_id, p.purchase_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "top100_rank" ->
      """SELECT c_mktsegment, c_custkey, balance, rnk FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal AS balance,
        |         RANK() OVER (PARTITION BY c_mktsegment
        |                      ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
        |  FROM customer) t
        |WHERE rnk <= 100 ORDER BY c_mktsegment, rnk, c_custkey""".stripMargin,
    "latest_bucket" ->
      """WITH b AS (SELECT *, CAST(FLOOR(epoch(ts)/21600)*21600 AS BIGINT) AS bucket FROM events)
        |SELECT bucket, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM b WHERE bucket = (SELECT MAX(bucket) FROM b)
        |GROUP BY bucket, event_type ORDER BY event_type""".stripMargin,
    "activity_flows" -> activityOracle(
      """SELECT entity, CAST(in_amt AS DOUBLE) AS in_amt,
        |       CAST(out_amt AS DOUBLE) AS out_amt, txs
        |FROM flows ORDER BY entity""".stripMargin),
    "activity_totals" -> activityOracle(
      """SELECT COUNT(*) AS wallets, CAST(COALESCE(SUM(txs),0) AS BIGINT) AS total_txs,
        |       CAST(COALESCE(SUM(in_amt),0) AS DOUBLE) AS total_in,
        |       CAST(COALESCE(SUM(out_amt),0) AS DOUBLE) AS total_out,
        |       CAST(COALESCE(SUM(in_amt),0)-COALESCE(SUM(out_amt),0) AS DOUBLE) AS net_flow
        |FROM flows""".stripMargin),
    "top_movers" -> activityOracle(
      """SELECT entity, CAST(in_amt AS DOUBLE) AS in_amt,
        |       CAST(out_amt AS DOUBLE) AS out_amt, txs,
        |       CAST(GREATEST(in_amt, out_amt) AS DOUBLE) AS max_flow
        |FROM flows
        |ORDER BY GREATEST(in_amt, out_amt) DESC NULLS LAST, txs DESC, entity ASC
        |LIMIT 10""".stripMargin),
    "holders_summary" ->
      """WITH b AS (SELECT *, CAST(FLOOR(epoch(ts)/21600)*21600 AS BIGINT) AS bucket FROM events)
        |SELECT COUNT(*) AS rows_latest, COUNT(DISTINCT user_id) AS users_latest
        |FROM b WHERE bucket = (SELECT MAX(bucket) FROM b)""".stripMargin,
    "zorder_key" ->
      """WITH z AS (SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |                  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |                  CAST(l_partkey AS BIGINT) AS l_partkey,
        |                  CAST(l_suppkey AS BIGINT) AS l_suppkey,
        |                  CAST(list_sum([((CAST(l_partkey AS BIGINT) >> i) & 1) << (2*i) for i in range(0, 31)])
        |                     + list_sum([((CAST(l_suppkey AS BIGINT) >> i) & 1) << (2*i + 1) for i in range(0, 31)])
        |                    AS BIGINT) AS zkey
        |           FROM lineitem)
        |SELECT * FROM z ORDER BY zkey, l_orderkey, l_linenumber LIMIT 200""".stripMargin,
    "star_join" ->
      """SELECT r_name, n_name,
        |       CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "window_funcs" ->
      """SELECT event_id, user_id,
        |       ROW_NUMBER() OVER w AS rn,
        |       LAG(event_type, 1) OVER w AS prev_type,
        |       CAST(FLOOR(epoch(ts)) AS BIGINT)
        |         - CAST(FLOOR(epoch(LAG(ts, 1) OVER w)) AS BIGINT) AS gap_s
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, rn""".stripMargin,
    "set_ops" ->
      """(SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 250
        | UNION
        | SELECT user_id FROM events WHERE event_type = 'signup' AND value > 250)
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'view' AND value > 200
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 190
        |ORDER BY user_id""".stripMargin,
    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "json_extract" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_cnt,
        |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "time_format" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       MIN(strftime(ts, '%Y-%m-%d %H:%M') || 'Z') AS first_minute,
        |       COUNT(*) AS n,
        |       COUNT(DISTINCT CAST(FLOOR(epoch(ts)/21600)*21600 AS BIGINT)) AS n_buckets
        |FROM events GROUP BY day ORDER BY day""".stripMargin,
    "cursor_merge" ->
      """WITH saved AS (SELECT user_id, MAX(event_id) AS saved_block FROM events
        |               WHERE event_id % 2 = 0 GROUP BY user_id),
        |     fresh AS (SELECT user_id, MAX(event_id) AS new_block FROM events
        |               WHERE event_id % 3 = 0 GROUP BY user_id)
        |SELECT COALESCE(s.user_id, f.user_id) AS user_id,
        |       GREATEST(COALESCE(saved_block, -1), COALESCE(new_block, -1)) AS cursor
        |FROM saved s FULL OUTER JOIN fresh f ON s.user_id = f.user_id
        |ORDER BY user_id""".stripMargin,
    "block_by_time" ->
      """WITH e AS (SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s FROM events),
        |cut AS (SELECT CAST(FLOOR((MIN(epoch_s) + MAX(epoch_s)) / 2) AS BIGINT) AS cutoff_s FROM e)
        |SELECT MAX(CASE WHEN epoch_s <= cutoff_s THEN event_id END) AS before_id,
        |       MIN(CASE WHEN epoch_s > cutoff_s THEN event_id END) AS after_id
        |FROM e, cut""".stripMargin)

  /** Shared CTE prefix for the activity family oracle: last-6h window
    * as-of max(ts), Top-100 users by exact-decimal lifetime value,
    * per-user conditional sums in DECIMAL.
    */
  private def activityOracle(select: String): String =
    """WITH cutoff AS (SELECT MAX(ts) AS t FROM events),
      |windowed AS (SELECT e.* FROM events e, cutoff WHERE e.ts >= cutoff.t - INTERVAL 6 HOUR),
      |top AS (SELECT user_id FROM (
      |          SELECT user_id,
      |                 RANK() OVER (ORDER BY SUM(CAST(value AS DECIMAL(18,2))) DESC,
      |                              user_id ASC) AS rnk
      |          FROM events GROUP BY user_id) t WHERE rnk <= 100),
      |flows AS (
      |  SELECT w.user_id AS entity,
      |         SUM(CASE WHEN event_type IN ('purchase','signup')
      |                  THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS in_amt,
      |         SUM(CASE WHEN event_type IN ('click','error')
      |                  THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS out_amt,
      |         COUNT(*) AS txs
      |  FROM windowed w WHERE w.user_id IN (SELECT user_id FROM top)
      |  GROUP BY w.user_id)
      |""".stripMargin + select
}
