package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Exact
import graft.operators.AsOfJoin

/** Joins (SURVEY §2.5), aggregations (§2.6), windows (§2.7) and
  * dedup/sort/limit/set ops (§2.8).
  *
  * Scale notes, applied throughout:
  *  - BOUNDED dims (nation: 25 rows, region: 5 — schema-fixed at any SF)
  *    get unconditional `broadcast()` hints; SCALING dims (customer, part,
  *    supplier grow linearly with SF) are joined bare, and
  *    [[graft.plans.DimBroadcastRule]] broadcasts them only while the
  *    size estimate stays under the configured bound, otherwise letting
  *    the planner shuffle — a forced hint on a terabyte-scale "dim" OOMs
  *    the driver at 100 TB;
  *  - aggregates over money use [[Exact]] scaled-long sums: exact at any
  *    parallelism AND the right representation at scale (no float drift,
  *    no slow Decimal path);
  *  - the as-of join (J5/W2) is one shuffle per side on the key — never a
  *    |L|x|R| expansion (reference: sales_currency.py:77-100).
  */
object JoinsAggs {

  // J1 — left join to per-key aggregate, join-miss filled with 0
  // (add_columns.py:104-108). At scale: pre-aggregating before the join
  // keeps the shuffled build side one-row-per-customer.
  private val j1 = QueryDef("j1_left_join_agg", (s, dir) => {
    val spend = Tables.orders(s, dir).groupBy("o_custkey").agg(
      count(lit(1)).as("n_orders"),
      Exact.exactSum(col("o_totalprice"), 2).as("spend"))
    Tables.customer(s, dir)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .na.fill(Map("n_orders" -> 0L, "spend" -> 0.0))
      .select("c_custkey", "n_orders", "spend")
  }, Some(s"""SELECT c_custkey, coalesce(s.n_orders, 0) AS n_orders,
      coalesce(s.spend, 0.0) AS spend
      FROM customer LEFT JOIN (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
               ${Exact.exactSumSql("o_totalprice", 2)} AS spend
        FROM orders GROUP BY o_custkey) s ON c_custkey = s.o_custkey"""),
    headline = true)

  // J2 — two-key equi join against a derived dim (sales_tax.py:62-67 joins
  // on (country, year); here (order-year, priority)).
  private val j2 = QueryDef("j2_twokey_join", (s, dir) => {
    val orders = Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
    val dim = orders.groupBy("yr", "o_orderpriority")
      .agg(count(lit(1)).as("grp_n"))
      .withColumnRenamed("yr", "d_yr")
      .withColumnRenamed("o_orderpriority", "d_prio")
    orders.join(broadcast(dim),
        col("yr") === col("d_yr") && col("o_orderpriority") === col("d_prio"),
        "left")
      .filter(col("o_orderkey") % 500 === 0)
      .select("o_orderkey", "yr", "o_orderpriority", "grp_n")
  }, Some("""WITH o AS (SELECT *, CAST(year(o_orderdate) AS BIGINT) AS yr
                        FROM orders),
      dim AS (SELECT yr AS d_yr, o_orderpriority AS d_prio,
                     CAST(count(*) AS BIGINT) AS grp_n
              FROM o GROUP BY 1, 2)
      SELECT o_orderkey, yr, o_orderpriority, grp_n
      FROM o LEFT JOIN dim ON yr = d_yr AND o_orderpriority = d_prio
      WHERE o_orderkey % 500 = 0"""))

  // J3 — inner broadcast join fact x dim (sales_currency.py:61-67). part
  // scales with SF, so the broadcast is size-aware (DimBroadcastRule):
  // BroadcastHashJoin while part fits the bound, sort-merge once it
  // outgrows it — never shuffle-vs-OOM.
  private val j3 = QueryDef("j3_broadcast_inner", (s, dir) => {
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").agg(
        count(lit(1)).as("n"),
        Exact.exactSum(Exact.revenue(col("l_extendedprice"),
          col("l_discount")), 4).as("revenue"))
  }, Some(s"""SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      ${Exact.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand"""), headline = true)

  // J4 — left join USING-style, single surviving key column
  // (sales_currency.py:70-74 + drop right key).
  private val j4 = QueryDef("j4_left_using", (s, dir) => {
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_type")),
        Seq("l_partkey"), "left")
      .groupBy("p_type").agg(count(lit(1)).as("n"))
  }, Some("""SELECT p_type, CAST(count(*) AS BIGINT) AS n
      FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      GROUP BY p_type"""))

  // J5 — as-of join: latest signup at-or-before each purchase, per user
  // (general form of the exchange-rate lookup, sales_currency.py:89-100).
  // Event times cross the engines as epoch-MICROseconds via
  // Tables.eventTsUs (UTC session) vs DuckDB's `epoch_us(ts)` — both
  // read the naive parquet timestamp's wall clock as UTC, so the two
  // engines meet at identical integers.
  private val j5 = QueryDef("j5_asof_join", (s, dir) => {
    val ev = Tables.eventsWithTsUs(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val signups = ev.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts_us", "value")
    AsOfJoin.asOf(purchases, signups,
        keyCols = Seq("user_id"), leftTime = "ts_us", rightTime = "ts_us",
        payload = Map("value" -> "signup_value", "ts_us" -> "signup_ts_us"),
        rightTieBreak = Some("event_id"))
      .select("event_id", "user_id", "ts_us", "value", "signup_value",
        "signup_ts_us")
  }, Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                         value FROM events WHERE event_type = 'purchase'),
      su AS (SELECT user_id, epoch_us(ts) AS ts_us, value
             FROM events WHERE event_type = 'signup')
      SELECT ev.event_id, ev.user_id, ev.ts_us, ev.value,
             su.value AS signup_value, su.ts_us AS signup_ts_us
      FROM ev ASOF LEFT JOIN su
        ON ev.user_id = su.user_id AND ev.ts_us >= su.ts_us"""),
    headline = true)

  // J6 — left join to a max-aggregate (last-sold date, map_cols.py:107-114).
  private val j6 = QueryDef("j6_left_max_agg", (s, dir) => {
    val lastShip = Tables.lineitem(s, dir).groupBy("l_partkey")
      .agg(max(col("l_shipdate").cast("date")).as("last_ship"))
    Tables.part(s, dir)
      .join(lastShip, col("p_partkey") === col("l_partkey"), "left")
      .select("p_partkey", "p_brand", "last_ship")
  }, Some("""SELECT p_partkey, p_brand, ls.last_ship
      FROM part LEFT JOIN (
        SELECT l_partkey, max(CAST(l_shipdate AS DATE)) AS last_ship
        FROM lineitem GROUP BY l_partkey) ls ON p_partkey = ls.l_partkey"""))

  // J7 — left-anti join: customers with no URGENT order (anomalies.py:
  // 100-115 implements the anti shape by hand with a left join + null
  // test; left_anti is the shuffle-equivalent explicit form). The URGENT
  // filter keeps the anti set non-empty at every scale factor — an
  // all-rows-match anti join would "pass" vacuously.
  private val j7 = QueryDef("j7_anti_join", (s, dir) => {
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
  }, Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"""))

  // J12 — dim-to-dim left joins (map_cols.py:254-258), snowflaking
  // supplier -> nation -> region with broadcast dims.
  private val j12 = QueryDef("j12_dim_dim_join", (s, dir) => {
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select("s_suppkey", "s_name", "n_name", "r_name")
  }, Some("""SELECT s_suppkey, s_name, n_name, r_name
      FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey"""))

  // J13 — left join + not-null filter => inner-like (map_cols.py:261-265).
  private val j13 = QueryDef("j13_left_filter", (s, dir) => {
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .filter(col("c_acctbal") > 5000)
        .select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"), "left")
      .filter(col("c_mktsegment").isNotNull)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
  }, Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
      FROM orders LEFT JOIN (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000
      ) c ON o_custkey = c_custkey
      WHERE c_mktsegment IS NOT NULL GROUP BY c_mktsegment"""))

  // A1 — groupBy sum: lifetime revenue per customer (add_columns.py:97-99).
  private val a1 = QueryDef("a1_groupby_sum", (s, dir) => {
    Tables.orders(s, dir).groupBy("o_custkey").agg(
      Exact.exactSum(col("o_totalprice"), 2).as("revenue"))
  }, Some(s"""SELECT o_custkey, ${Exact.exactSumSql("o_totalprice", 2)}
      AS revenue FROM orders GROUP BY o_custkey"""), headline = true)

  // A2 — groupBy max: last order date per customer (map_cols.py:103-105).
  private val a2 = QueryDef("a2_groupby_max", (s, dir) => {
    Tables.orders(s, dir).groupBy("o_custkey").agg(
      max(col("o_orderdate").cast("date")).as("last_order"))
  }, Some("""SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order
      FROM orders GROUP BY o_custkey"""))

  // A3/Q1 — per-column null+nan profile in ONE pass (audit_report.py:52-54).
  // nullif/negative-clamp manufacture nulls so counts are non-trivial.
  private val a3 = QueryDef("a3_null_profile", (s, dir) => {
    val dirty = Tables.customer(s, dir)
      .withColumn("seg_n", expr("nullif(c_mktsegment, 'BUILDING')"))
      .withColumn("bal_n",
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
    dirty.select(
      count(when(col("seg_n").isNull, lit(1))).as("null_seg"),
      count(when(col("bal_n").isNull || isnan(col("bal_n")), lit(1)))
        .as("null_bal"),
      count(when(col("c_name").isNull, lit(1))).as("null_name"))
  }, Some("""SELECT
      CAST(count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS BIGINT)
        AS null_seg,
      CAST(count(*) FILTER (WHERE c_acctbal < 0 OR isnan(c_acctbal))
        AS BIGINT) AS null_bal,
      CAST(count(*) FILTER (WHERE c_name IS NULL) AS BIGINT) AS null_name
      FROM customer"""))

  // A4/Q2 — duplicate-row count in one shuffle (audit_report.py:58 runs two
  // full jobs; sum(cnt)-count(groups) needs one).
  private val a4 = QueryDef("a4_dup_count", (s, dir) => {
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
      .agg((sum("cnt") - count(lit(1))).cast("long").as("dup_rows"))
  }, Some("""SELECT CAST(count(*) - (SELECT count(*) FROM (
        SELECT DISTINCT l_returnflag, l_linestatus, l_quantity
        FROM lineitem)) AS BIGINT) AS dup_rows FROM lineitem"""))

  // A5 — store attractiveness: revenue, transactions, ratio per supplier
  // (map_cols.py:167-170, live on the Power BI dashboard).
  private val a5 = QueryDef("a5_attractiveness", (s, dir) => {
    Tables.lineitem(s, dir).groupBy("l_suppkey").agg(
        count(lit(1)).as("n_tx"),
        Exact.exactSum(Exact.revenue(col("l_extendedprice"),
          col("l_discount")), 4).as("revenue"))
      .withColumn("attractiveness", col("revenue") / col("n_tx"))
  }, Some(s"""SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_tx,
      ${Exact.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
      (${Exact.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)})
        / CAST(count(*) AS BIGINT) AS attractiveness
      FROM lineitem GROUP BY l_suppkey"""))

  // A6 — count() actions over every table, one output row.
  private val a6 = QueryDef("a6_counts", (s, dir) => {
    import s.implicits._
    val names = Seq("lineitem", "orders", "customer", "part", "supplier",
      "nation")
    val counts = names.map(n => Tables.t(s, dir, n).count())
    Seq(counts match { case Seq(a, b, c, d, e, f) => (a, b, c, d, e, f) })
      .toDF(names.map(n => s"n_$n"): _*)
  }, Some("""SELECT (SELECT count(*) FROM lineitem) AS n_lineitem,
      (SELECT count(*) FROM orders) AS n_orders,
      (SELECT count(*) FROM customer) AS n_customer,
      (SELECT count(*) FROM part) AS n_part,
      (SELECT count(*) FROM supplier) AS n_supplier,
      (SELECT count(*) FROM nation) AS n_nation"""))

  // A7 — numeric profiling (describe()/summary semantics, computed as a
  // deterministic aggregate instead of the string-typed describe output).
  private val a7 = QueryDef("a7_profile", (s, dir) => {
    Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n"),
      min("l_quantity").as("qty_min"),
      max("l_quantity").as("qty_max"),
      Exact.exactAvg(col("l_quantity"), 2).as("qty_avg"),
      min("l_extendedprice").as("price_min"),
      max("l_extendedprice").as("price_max"),
      Exact.exactAvg(col("l_extendedprice"), 2).as("price_avg"))
  }, Some(s"""SELECT CAST(count(*) AS BIGINT) AS n,
      min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
      ${Exact.exactAvgSql("l_quantity", 2)} AS qty_avg,
      min(l_extendedprice) AS price_min, max(l_extendedprice) AS price_max,
      ${Exact.exactAvgSql("l_extendedprice", 2)} AS price_avg
      FROM lineitem"""))

  // A8 — dashboard aggregate: revenue by region (the PowerBI headline tile;
  // sales_and_client_performance.png). Star chain with broadcast dims; the
  // only big shuffles are the fact join on orderkey and the final 5-group agg.
  private val a8 = QueryDef("a8_dashboard_revenue", (s, dir) => {
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(
        Exact.exactSum(Exact.revenue(col("l_extendedprice"),
          col("l_discount")), 4).as("revenue"),
        countDistinct("o_custkey").as("n_customers"),
        count(lit(1)).as("n_lines"))
  }, Some(s"""SELECT r_name,
      ${Exact.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
      CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name"""), headline = true)

  // W1 — row_number as deterministic ID generator (add_columns.py:170-173).
  // Global ordered window => single partition: correct for dim-sized inputs
  // only (25 rows here); big tables get datediff/zip-based keys (see g4/g5).
  private val w1 = QueryDef("w1_row_number", (s, dir) => {
    Tables.nation(s, dir)
      .withColumn("nation_id",
        row_number().over(Window.orderBy("n_name")).cast("long"))
      .select("nation_id", "n_name", "n_regionkey")
  }, Some("""SELECT CAST(row_number() OVER (ORDER BY n_name) AS BIGINT)
      AS nation_id, n_name, n_regionkey FROM nation"""))

  // W2 — forward fill via last(ignoreNulls) (sales_currency.py:77-82):
  // carry each user's last purchase amount forward over their event stream.
  private val w2 = QueryDef("w2_forward_fill", (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.eventsWithTsUs(s, dir)
      .withColumn("purchase_value",
        when(col("event_type") === "purchase", col("value")))
      .withColumn("last_purchase",
        last(col("purchase_value"), ignoreNulls = true).over(w))
      .filter(col("user_id") < 20)
      .select("event_id", "user_id", "ts_us", "event_type", "last_purchase")
  }, Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
      last_value(CASE WHEN event_type = 'purchase' THEN value END
                 IGNORE NULLS)
        OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS last_purchase
      FROM events WHERE user_id < 20"""), headline = true)

  // D1 — dedup keep-first-by-id (data_cleaning.py:110 dropDuplicates, made
  // deterministic: min id per group instead of arbitrary-survivor).
  private val d1 = QueryDef("d1_dedup_keep_first", (s, dir) => {
    Tables.documents(s, dir).groupBy("lang", "source").agg(
      min("doc_id").as("keep_id"),
      count(lit(1)).as("n_dups"))
  }, Some("""SELECT lang, source, min(doc_id) AS keep_id,
      CAST(count(*) AS BIGINT) AS n_dups
      FROM documents GROUP BY lang, source"""))

  // D3+D4 — global sort + top-k with deterministic tiebreak.
  private val d4 = QueryDef("d4_topk", (s, dir) => {
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)
      .select("o_orderkey", "o_totalprice", "o_orderdate")
  }, Some("""SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 50"""))

  // D5 — union / intersect / except (absent from the reference; §2.13 says
  // free from Spark — here they are, oracle-checked).
  private val d5 = QueryDef("d5_set_ops", (s, dir) => {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val rich = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 5000).select("c_custkey")
    val u = building.union(rich).distinct().agg(count(lit(1)).as("n"))
      .withColumn("op", lit("union"))
    val i = building.intersect(rich).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect"))
    val e = building.except(rich).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except"))
    u.unionByName(i).unionByName(e).select("op", "n")
  }, Some("""WITH b AS (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING'),
      r AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT * FROM b UNION SELECT * FROM r)
      UNION ALL SELECT 'intersect', CAST(count(*) AS BIGINT)
        FROM (SELECT * FROM b INTERSECT SELECT * FROM r)
      UNION ALL SELECT 'except', CAST(count(*) AS BIGINT)
        FROM (SELECT * FROM b EXCEPT SELECT * FROM r)"""))

  val defs: Seq[QueryDef] = Seq(
    j1, j2, j3, j4, j5, j6, j7, j12, j13,
    a1, a2, a3, a4, a5, a6, a7, a8,
    w1, w2,
    d1, d4, d5)
}
