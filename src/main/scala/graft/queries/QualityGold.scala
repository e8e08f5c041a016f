package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Exact, Lookups}
import graft.operators.{Anomalies, Audit, Cleaning, Gold}
import graft.operators.Anomalies.AnomalyRule
import graft.operators.Audit.FormatRule

/** UDF-free custom functions (SURVEY §2.9), data-quality/audit operators
  * (§2.10) and warehouse modeling (§2.11), registered with oracles.
  */
object QualityGold {

  // U1 — numeric-clean expression (data_cleaning.py:50-61 as pure
  // expressions). Dirty values are manufactured deterministically from
  // lineitem so the cleaner has real junk to strip.
  private val u1 = QueryDef("u1_numeric_clean", (s, dir) => {
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 500 === 0)
      .withColumn("dirty_f", concat(lit("$ "),
        col("l_orderkey").cast("string"), lit("."),
        col("l_linenumber").cast("string"), lit("kg")))
      .withColumn("dirty_i", concat(lit("x"),
        col("l_linenumber").cast("string"), lit("pc")))
      .withColumn("dirty_multidot", concat(lit("v1."),
        col("l_linenumber").cast("string"), lit(".9oops")))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Cleaning.cleanPositiveFloat(col("dirty_f")).as("clean_f"),
        Cleaning.cleanPositiveInt(col("dirty_i")).as("clean_i"),
        Cleaning.cleanPositiveFloat(col("dirty_multidot")).as("clean_junk"))
  }, Some("""WITH d AS (SELECT l_orderkey, l_linenumber,
        '$ ' || CAST(l_orderkey AS VARCHAR) || '.'
             || CAST(l_linenumber AS VARCHAR) || 'kg' AS dirty_f,
        'x' || CAST(l_linenumber AS VARCHAR) || 'pc' AS dirty_i,
        'v1.' || CAST(l_linenumber AS VARCHAR) || '.9oops' AS dirty_multidot
      FROM lineitem WHERE l_orderkey % 500 = 0)
      SELECT l_orderkey, l_linenumber,
        CASE WHEN f.p IS NULL OR f.p < 0 THEN 0.0 ELSE f.p END AS clean_f,
        CAST(CASE WHEN i.p IS NULL OR i.p <= 0 THEN 1 ELSE i.p END
             AS BIGINT) AS clean_i,
        CASE WHEN j.p IS NULL OR j.p < 0 THEN 0.0 ELSE j.p END AS clean_junk
      FROM d,
      LATERAL (SELECT TRY_CAST(regexp_replace(dirty_f, '[^0-9.]', '', 'g')
               AS DOUBLE) AS p) f,
      LATERAL (SELECT floor(TRY_CAST(regexp_replace(dirty_i, '[^0-9.]', '',
               'g') AS DOUBLE)) AS p) i,
      LATERAL (SELECT TRY_CAST(regexp_replace(dirty_multidot, '[^0-9.]', '',
               'g') AS DOUBLE) AS p) j"""))

  // U2 — country->ISO broadcast lookup (add_columns.py:42-51, minus the
  // per-row pycountry UDF).
  private val u2 = QueryDef("u2_iso_lookup", (s, dir) => {
    val cust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
    Lookups.withLookup(cust, Lookups.nationCode, col("n_name"), "iso_code")
      .groupBy("iso_code").agg(count(lit(1)).as("n"))
  }, Some(s"""SELECT ${Lookups.caseSql(Lookups.nationCode, "n_name")}
      AS iso_code, CAST(count(*) AS BIGINT) AS n
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1"""))

  // U3 — country->continent broadcast lookup (add_columns.py:53-62).
  private val u3 = QueryDef("u3_continent_lookup", (s, dir) => {
    val supp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
    Lookups.withLookup(supp, Lookups.nationContinent, col("n_name"),
      "continent")
      .groupBy("continent").agg(
        count(lit(1)).as("n"),
        Exact.exactSum(col("s_acctbal"), 2).as("acctbal_sum"))
  }, Some(s"""SELECT ${Lookups.caseSql(Lookups.nationContinent, "n_name")}
      AS continent, CAST(count(*) AS BIGINT) AS n,
      ${Exact.exactSumSql("s_acctbal", 2)} AS acctbal_sum
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1"""))

  // Q3 — duplicate-column detection (audit_report.py:62-84). The dirty
  // frame reproduces the reference's OrderID0/OrderID14 CSV situation.
  private val q3 = QueryDef("q3_dup_columns", (s, dir) => {
    val dirty = Tables.orders(s, dir).select(
      col("o_orderkey").as("OrderID0"),
      col("o_custkey").as("OrderID14"),
      col("o_orderstatus").as("Status"),
      col("o_totalprice").as("Amount2"))
    Audit.duplicateColumnsDf(dirty)
  }, Some("SELECT 'OrderID' AS stem, CAST(2 AS BIGINT) AS n_cols"))

  // Q4 — typed-format violation scan, all rules one pass
  // (audit_report.py:87-138).
  private val q4 = QueryDef("q4_format_violations", (s, dir) => {
    Audit.violationCounts(Tables.events(s, dir), Seq(
      FormatRule("bad_props", !col("props").rlike("^\\{\"k\": \\d+\\}$")),
      FormatRule("extreme_value", col("value") > 190),
      FormatRule("bad_type", !col("event_type").isin(
        "click", "view", "purchase", "signup", "error"))))
  }, Some("""SELECT
      CAST(count(*) FILTER (WHERE NOT regexp_matches(props,
        '^\{"k": \d+\}$')) AS BIGINT) AS bad_props,
      CAST(count(*) FILTER (WHERE value > 190) AS BIGINT) AS extreme_value,
      CAST(count(*) FILTER (WHERE event_type NOT IN
        ('click', 'view', 'purchase', 'signup', 'error')) AS BIGINT)
        AS bad_type
      FROM events"""))

  // Q5 — audit-driven cleaning dispatcher: all five reference rule kinds
  // (data_cleaning.py:139-179) over a deterministically-dirtied frame.
  private val q5 = QueryDef("q5_clean_dispatch", (s, dir) => {
    Tables.customer(s, dir)
      .filter(col("c_custkey") % 20 === 0)
      .select(
        col("c_custkey"),
        Cleaning.cleanPositiveFloat(
          concat(lit("$"), col("c_acctbal").cast("string"))).as("bal_clean"),
        Cleaning.cleanNonEmptyString(
          expr("nullif(c_mktsegment, 'FURNITURE')")).as("seg_clean"),
        Cleaning.cleanAlphaOnly(col("c_name")).as("name_alpha"),
        Cleaning.normalizeDate(lit("7/4/1996")).as("date_ok"),
        Cleaning.normalizeDate(lit("not-a-date")).as("date_bad"))
  }, Some("""SELECT c_custkey,
      CASE WHEN p.v IS NULL OR p.v < 0 THEN 0.0 ELSE p.v END AS bal_clean,
      CASE WHEN nullif(c_mktsegment, 'FURNITURE') IS NULL
             OR trim(nullif(c_mktsegment, 'FURNITURE')) = ''
           THEN 'Unknown' ELSE nullif(c_mktsegment, 'FURNITURE')
      END AS seg_clean,
      CASE WHEN c_name IS NULL OR NOT regexp_matches(c_name,
             '^[a-zA-Z ]+$')
           THEN 'Unknown' ELSE c_name END AS name_alpha,
      DATE '1996-07-04' AS date_ok,
      CAST(NULL AS DATE) AS date_bad
      FROM customer,
      LATERAL (SELECT TRY_CAST(regexp_replace(
        '$' || CAST(c_acctbal AS VARCHAR), '[^0-9.]', '', 'g')
        AS DOUBLE) AS v) p
      WHERE c_custkey % 20 = 0"""))

  // Q6 — date normalization round trip (data_cleaning.py:180-191) on
  // M/d/yyyy-shaped strings built from real order dates.
  private val q6 = QueryDef("q6_date_normalize", (s, dir) => {
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 500 === 0)
      .withColumn("raw", date_format(col("o_orderdate"), "M/d/yyyy"))
      .select(
        col("o_orderkey"), col("raw"),
        Cleaning.normalizeDate(col("raw")).as("norm"))
  }, Some("""SELECT o_orderkey, strftime(o_orderdate, '%-m/%-d/%Y') AS raw,
      CAST(o_orderdate AS DATE) AS norm
      FROM orders WHERE o_orderkey % 500 = 0"""))

  // Q7 — anomaly rules, first-match-wins priority (anomalies.py:44-68).
  private val eventRules = Seq(
    AnomalyRule("extreme_value", col("value") > 195),
    AnomalyRule("error_event", col("event_type") === "error"),
    AnomalyRule("tiny_value", col("value") < 1))

  private val q7 = QueryDef("q7_anomaly_rules", (s, dir) => {
    Anomalies.accounting(Tables.events(s, dir), eventRules)
  }, Some("""SELECT CASE WHEN value > 195 THEN 'extreme_value'
      WHEN event_type = 'error' THEN 'error_event'
      WHEN value < 1 THEN 'tiny_value' ELSE 'ok' END AS anomaly_type,
      CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1"""))

  // Q8 — anomaly accounting: totals + rate (anomalies.py:137-155).
  private val q8 = QueryDef("q8_anomaly_accounting", (s, dir) => {
    Anomalies.flag(Tables.events(s, dir), eventRules)
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("anomaly_type") =!= "ok", lit(1))).as("n_anomalies"))
      .withColumn("rate", col("n_anomalies") / col("n_total"))
  }, Some("""WITH f AS (SELECT CASE WHEN value > 195 THEN 'extreme_value'
        WHEN event_type = 'error' THEN 'error_event'
        WHEN value < 1 THEN 'tiny_value' ELSE 'ok' END AS anomaly_type
      FROM events)
      SELECT CAST(count(*) AS BIGINT) AS n_total,
        CAST(count(*) FILTER (WHERE anomaly_type <> 'ok') AS BIGINT)
          AS n_anomalies,
        CAST(count(*) FILTER (WHERE anomaly_type <> 'ok') AS BIGINT)
          / CAST(count(*) AS BIGINT) AS rate
      FROM f"""))

  // G1 — deterministic surrogate keys (map_cols.py:44 etc.; see Gold for
  // why row_number-over-natural-key replaces monotonically_increasing_id).
  private val g1 = QueryDef("g1_surrogate_key", (s, dir) => {
    Gold.withSurrogateKey(Tables.supplier(s, dir), "s_suppkey", "StoreKey")
      .select("StoreKey", "s_suppkey", "s_name")
  }, Some("""SELECT CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT)
      AS StoreKey, s_suppkey, s_name FROM supplier"""))

  // G2 — SCD2 scaffold columns (map_cols.py:89-91).
  private val g2 = QueryDef("g2_scd2_scaffold", (s, dir) => {
    Gold.dimCustomer(s, dir)
      .select("CustomerKey", "c_custkey", "c_name", "IsCurrent",
        "EffectiveStartDate", "EffectiveEndDate")
  }, Some("""SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT)
      AS CustomerKey, c_custkey, c_name, true AS IsCurrent,
      DATE '2024-01-01' AS EffectiveStartDate,
      CAST(NULL AS DATE) AS EffectiveEndDate FROM customer"""))

  // G3 — value banding / tiering (add_columns.py:113-118, 134-140).
  private val g3 = QueryDef("g3_banding", (s, dir) => {
    Tables.part(s, dir)
      .withColumn("stock_band",
        when(col("p_size") < 10, "Low Stock")
          .when(col("p_size") < 30, "Active")
          .otherwise("Overstocked"))
      .groupBy("stock_band").agg(
        count(lit(1)).as("n"),
        Exact.exactAvg(col("p_retailprice"), 2).as("avg_price"))
  }, Some(s"""SELECT CASE WHEN p_size < 10 THEN 'Low Stock'
      WHEN p_size < 30 THEN 'Active' ELSE 'Overstocked' END AS stock_band,
      CAST(count(*) AS BIGINT) AS n,
      ${Exact.exactAvgSql("p_retailprice", 2)} AS avg_price
      FROM part GROUP BY 1"""))

  // G4 — date dimension (map_cols.py:199-224).
  private val g4 = QueryDef("g4_date_dim", (s, _) => {
    Gold.calendarDim(s, "2022-01-01", "2025-01-01")
  }, Some("""SELECT
      CAST(datediff('day', DATE '2022-01-01', d) + 1 AS BIGINT)
        AS CalendarKey,
      d AS CalendarDate,
      CAST(year(d) AS BIGINT) AS Year,
      CAST(quarter(d) AS BIGINT) AS Quarter,
      CAST(month(d) AS BIGINT) AS Month,
      CAST(dayofweek(d) + 1 AS BIGINT) AS DayOfWeek
      FROM (SELECT CAST(r.range AS DATE) AS d
            FROM range(DATE '2022-01-01', DATE '2025-01-02',
                       INTERVAL 1 DAY) r)"""))

  // G5 — star-schema fact build (map_cols.py:226-284), headline: the
  // full dim chain with broadcast joins at fact scale.
  private val g5 = QueryDef("g5_fact_build", (s, dir) => {
    Gold.factSales(s, dir)
  }, Some(s"""WITH dimc AS (SELECT c_custkey,
        CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT)
          AS CustomerKey FROM customer),
      dimp AS (SELECT p_partkey,
        CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT)
          AS ProductKey FROM part),
      dims AS (SELECT s_suppkey,
        CAST(row_number() OVER (ORDER BY s_suppkey) AS BIGINT)
          AS StoreKey FROM supplier)
      SELECT CAST(l_orderkey * 100 + row_number() OVER (
          PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey,
          l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax,
          l_shipdate) AS BIGINT) AS SalesID,
        CustomerKey, ProductKey, StoreKey,
        CAST(datediff('day', DATE '${Gold.calendarAnchor}',
          CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS CalendarKey,
        l_orderkey AS OrderID,
        CAST(o_orderdate AS DATE) AS OrderDate,
        l_quantity AS Quantity,
        l_discount AS Discount,
        l_extendedprice * (1.0 - l_discount) AS Revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN dimc ON o_custkey = c_custkey
      JOIN dimp ON l_partkey = p_partkey
      JOIN dims ON l_suppkey = s_suppkey"""), headline = true)

  val defs: Seq[QueryDef] = Seq(
    u1, u2, u3, q3, q4, q5, q6, q7, q8, g1, g2, g3, g4, g5)
}
