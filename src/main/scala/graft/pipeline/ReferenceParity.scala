package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CountryCodes
import graft.operators.{Anomalies, Audit, Cleaning, Gold}
import graft.operators.Anomalies.AnomalyRule
import graft.sources.Csv

/** The reference's end-to-end pipeline (BBT-ETL-DW scripts dir), re-expressed
  * as one Spark-first flow: CSV -> audit -> audit-driven clean -> enrich ->
  * tax + currency conformance -> anomalies -> star schema. Golden-tested
  * against the reference's committed artifacts (ReferenceParitySpec):
  * audit counts, anomaly counts (0 sales / 1 product), fact row count
  * (2151 = the dashboard's Clients tile), product status 59/10/8.
  *
  * Deliberate fixes vs the reference, each flagged in SURVEY.md §8:
  *  - one session, no parquet hand-offs between stages (the reference's
  *    per-script sessions caused its with_currency/with_currency_id path
  *    bug);
  *  - exchange dates parse tolerantly (ISO-instant THEN plain date — the
  *    reference's hard-coded instant format nulls every real date,
  *    add_columns.py:193);
  *  - TotalAmount stays available for the anomaly stage (the reference
  *    drops it and reads a stale directory instead, anomalies.py:15);
  *  - surrogate keys are deterministic row_numbers over natural keys, not
  *    monotonically_increasing_id (parity data is dim-scale; the testdata
  *    fact path in [[Gold]] shows the arithmetic-key variant for scale);
  *  - run date is injected (`runDate`) instead of wall-clock now().
  *
  * Each step has one implementation, shared by [[run]] and
  * [[runResilient]]: the audit [[Audit.reportAll]], the cleaning
  * dispatcher [[cleanFromReport]] and the shuffle_hash-hinted dimension
  * joins of [[dimSide]], meant to run inside [[smallDataTuned]].
  */
object ReferenceParity {

  import Audit.RefRules._

  final case class Outputs(
      audits: Map[String, Audit.AuditReport],
      salesClean: DataFrame, customersEnriched: DataFrame,
      productsEnriched: DataFrame, suppliersClean: DataFrame,
      salesConformed: DataFrame,
      salesFlagged: DataFrame, productsFlagged: DataFrame,
      dimCustomers: DataFrame, dimProducts: DataFrame, dimStore: DataFrame,
      dimCalendar: DataFrame, dimTaxRate: DataFrame, dimExchange: DataFrame,
      factSales: DataFrame)

  /** rule kind -> cleaning expression, the Q5 dispatcher's arms
    * (data_cleaning.py:139-179). Returns None for "date" — all *Date*
    * columns are normalized together, below.
    */
  private def kindExpr(column: String, kind: String): Option[Column] =
    kind match {
      case "posFloat" => Some(Cleaning.cleanPositiveFloat(col(column)))
      case "posInt" => Some(Cleaning.cleanPositiveInt(col(column)))
      case "phone" => Some(
        when(col(column).rlike("^[0-9.\\-() ]+$"), col(column))
          .otherwise("Unknown"))
      case "nonEmpty" => Some(Cleaning.cleanNonEmptyString(col(column)))
      case "alpha" => Some(Cleaning.cleanAlphaOnly(col(column)))
      case "date" => None
    }

  /** The reference's expected-type strings per rule kind — what its
    * cleaner dispatches on (audit_report.py:103-138 descriptions,
    * consumed at data_cleaning.py:139-179).
    */
  private val expectedTypeOf = Map(
    "date" -> "date in YYYY-MM-DD format",
    "posFloat" -> "positive float",
    "posInt" -> "positive integer",
    "phone" -> "numeric with . ( ) - symbols",
    "nonEmpty" -> "must be a non-empty string",
    "alpha" -> "must contain only alphabetic characters and spaces")

  /** Q5 — the audit-driven cleaning dispatcher, given a computed report
    * (the reference's feedback loop: only columns the audit flagged get
    * cleaned, data_cleaning.py:196-206). Rule order matches the
    * reference: fills first, then dedup, then type fixes, dates last.
    */
  private def cleanFromReport(df: DataFrame, report: Audit.AuditReport,
                              rules: Seq[(String, String, Column)],
                              fillStrings: Map[String, String],
                              fillNumerics: Map[String, Double])
      : DataFrame = {
    // 1. fills, only for columns the audit saw missing (E9 policy map)
    val missing = report.missingValues.filter(_._2 > 0).keySet
    var out = df.na.fill(fillStrings.filter(f => missing(f._1)))
      .na.fill(fillNumerics.filter(f => missing(f._1)))
    // 2. duplicate rows
    if (report.duplicateRows > 0) out = out.dropDuplicates()
    // 3. duplicate columns (OrderID0/OrderID14 -> OrderID)
    out = Cleaning.dropDuplicateColumns(out, report)
    // 4. type fixes for flagged columns only. Each rule touches its own
    // column, so they batch into ONE withColumns — every withColumn call
    // is a full eager analyzer pass over the growing plan, and the
    // pipeline's driver latency at reference scale is analysis-bound,
    // not data-bound.
    val flagged = report.formatViolations.filter(_._2 > 0).keySet
    val typeFixes = rules.flatMap { case (column, kind, _) =>
      if (flagged(column) && out.columns.contains(column))
        kindExpr(column, kind).map(column -> _)
      else None
    }.toMap
    if (typeFixes.nonEmpty) out = out.withColumns(typeFixes)
    // 5. dates last (data_cleaning.py:180-191), stored as yyyy-MM-dd
    // STRINGS like the reference does. The reference parses M/dd/yy under
    // the LEGACY (lenient SimpleDateFormat) policy; the modern parser's
    // M/d/yy is equivalent on every date in this data (2-digit years
    // 22-24; the policies only diverge for years 69-99) and doesn't
    // depend on a session conf that lazy evaluation could outlive.
    // Same batching: one analyzer pass for all date columns.
    val dateFixes = out.columns.filter(_.contains("Date")).map(c =>
      c -> date_format(
        Cleaning.normalizeDate(col(c).cast("string"), "M/d/yy"),
        "yyyy-MM-dd")).toMap
    if (dateFixes.nonEmpty) out = out.withColumns(dateFixes)
    out
  }

  private val eurozone = Seq("France", "Italy", "Germany", "Austria",
    "Spain", "Portugal", "Netherlands", "Finland", "Belgium", "Greece",
    "Ireland", "Slovakia", "Slovenia", "Estonia", "Lithuania", "Latvia",
    "Luxembourg", "Malta")

  /** Audit + clean recipe of one raw source (rules, fill policies, the
    * id column feeding error_ids parity).
    */
  private final case class SourceSpec(
      rules: Seq[(String, String, Column)],
      fillStrings: Map[String, String],
      fillNumerics: Map[String, Double],
      idColumn: String)

  private val unknownFill = "Unknown"

  /** The audit recipe of audited source `name` over `df`: its rule
    * triples as [[Audit.FormatRule]]s carrying the reference's
    * expected-type strings, and its id column feeding error_ids parity.
    */
  private def sourceAudit(name: String, df: DataFrame): Audit.SourceAudit = {
    val spec = sourceSpecs(name)
    Audit.SourceAudit(name, df,
      spec.rules.map { case (c, kind, bad) =>
        Audit.FormatRule(c, bad, expectedTypeOf(kind)) },
      idColumn = Some(spec.idColumn))
  }

  /** Per-source audit/clean specs (audit_report.py:103-138 rule sets,
    * data_cleaning.py:196-226 fill policies).
    */
  private val sourceSpecs: Map[String, SourceSpec] = Map(
    "sales" -> SourceSpec(
      rules = Seq(
        ("OrderDate", "date", notIsoDate("OrderDate")),
        ("RequiredDate", "date", notIsoDate("RequiredDate")),
        ("ShippedDate", "date", notIsoDate("ShippedDate")),
        ("Freight", "posFloat", posFloat("Freight")),
        ("UnitPrice", "posFloat", posFloat("UnitPrice")),
        ("Discount", "posFloat", posFloat("Discount")),
        ("Quantity", "posInt", posInt("Quantity"))),
      fillStrings = Seq("ShipName", "ShipAddress", "ShipCity", "ShipRegion",
        "ShipPostalCode", "ShipCountry").map(_ -> unknownFill).toMap,
      fillNumerics = Map("Freight" -> 0.0, "Discount" -> 0.0),
      idColumn = "OrderID0"),
    "customers" -> SourceSpec(
      rules = Seq(
        ("Phone", "phone", badPhone("Phone")),
        ("Fax", "phone", badPhone("Fax")),
        ("Country", "alpha", nonAlpha("Country")),
        ("Address", "nonEmpty",
          col("Address").isNull || col("Address") === "")),
      fillStrings = Seq("CompanyName", "City", "Region", "PostalCode",
        "Fax", "Phone").map(_ -> unknownFill).toMap,
      fillNumerics = Map.empty,
      idColumn = "CustomerID"),
    "products" -> SourceSpec(
      rules = Seq(
        ("UnitsInStock", "posInt", posIntStrict("UnitsInStock")),
        ("UnitsOnOrder", "posInt", posIntStrict("UnitsOnOrder")),
        ("ReorderLevel", "posInt", posIntStrict("ReorderLevel")),
        ("UnitPrice", "posFloat", posFloatStrict("UnitPrice"))),
      fillStrings = Map("ProductName" -> unknownFill),
      fillNumerics = Map.empty,
      idColumn = "ProductID"),
    "suppliers" -> SourceSpec(
      rules = Seq(
        ("Phone", "phone", badPhone("Phone")),
        ("Fax", "phone", badPhone("Fax"))),
      fillStrings = Seq("CompanyName", "Region", "Fax", "HomePage")
        .map(_ -> unknownFill).toMap,
      fillNumerics = Map.empty,
      idColumn = "SupplierID"))

  /** All six raw sources, in pipeline order. */
  val sourceNames: Seq[String] = Seq("sales", "customers", "products",
    "suppliers", "taxrate", "exchange_data")

  /** PER-SOURCE LOG-AND-CONTINUE extract (the reference wraps every
    * source read in try/except and keeps going, etl_extract.py:39-61;
    * audit_report.py:155-179 and data_cleaning.py:228-245 loop the same
    * way): each source's read/infer failure becomes a Left, never an
    * exception, so one broken file cannot take down the ingest of the
    * other five. Every source is cached — the in-session equivalent of
    * the reference's bronze parquet (etl_extract.py:54): each CSV is
    * parsed once at first use and every later stage reads memory. The
    * schema-inference pass (which reads the whole file) runs here, so a
    * missing or unreadable source surfaces at extract where
    * log-and-continue can report it.
    */
  def extractAll(s: SparkSession, rawDir: String)
      : Seq[(String, Either[String, DataFrame])] = {
    // the six reads are independent and each pays an eager
    // schema-inference job — run them concurrently (Spark schedules
    // jobs from separate threads side by side)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sourceNames.length)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = sourceNames.map { name =>
        name -> Future(scala.util.Try {
          Csv.readInferredCached(s, s"$rawDir/$name.csv").cache()
        }.toEither.left.map(e =>
          s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      fs.map { case (n, f) =>
        n -> Await.result(f, Duration(10, "min"))
      }
    } finally pool.shutdown()
  }

  /** One source's fate in a [[runResilient]] report: the extracted frame
    * (if the read succeeded), its audit (audited sources only), and the
    * extract/audit error if any.
    */
  final case class SourceOutcome(
      frame: Option[DataFrame],
      audit: Option[Audit.AuditReport],
      error: Option[String])

  /** The run report of [[runResilient]]: per-source outcomes, plus the
    * full pipeline outputs when (and only when) every source arrived.
    */
  final case class ResilientRun(
      sources: Map[String, SourceOutcome],
      outputs: Option[Outputs]) {
    def failures: Map[String, String] =
      sources.collect { case (n, o) if o.error.isDefined => n -> o.error.get }
  }

  /** Run `body` under this pipeline's SMALL-DATA tuning and restore the
    * session confs after: adaptive query execution off (AQE's
    * stage-by-stage driver re-planning exists to fix BIG shuffles at
    * runtime; on a bounded fixed-shape workload it only serializes every
    * tiny stage behind a driver round-trip) and one shuffle partition
    * (2,155 rows do not need 32 reducers; fewer tasks = less scheduling
    * latency per stage). Results are identical either way
    * (ReferenceParityFixtureSpec checks it) — every conf set here is
    * physical-planning only. They are read at ACTION
    * time, so the scope must cover the actions, not just run(): wrap the
    * whole run-plus-consume block. Callers on a shared session should
    * not run unrelated large queries concurrently inside the scope.
    */
  def smallDataTuned[T](s: SparkSession)(body: => T): T = {
    val aqe = s.conf.get("spark.sql.adaptive.enabled", "true")
    val parts = s.conf.get("spark.sql.shuffle.partitions", "200")
    val wscg = s.conf.get("spark.sql.codegen.wholeStage", "true")
    val autoB = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "1")
    // whole-stage codegen trades ~100-300ms of Janino compilation per
    // plan shape for faster per-row execution — the right trade on
    // millions of rows, the wrong one on thousands (the audit queries'
    // compile time exceeds their entire interpreted runtime). Measured
    // (OPTIMIZATION_r17.md §8): ON was 2-4x slower even warm, but under
    // Spark's default 100-entry codegen cache, which the pass's working
    // set thrashed; the cache is now sized in Sessions.build and the
    // A/B has not been re-run under it.
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    // ...and broadcast joins trade a shuffle for an ASYNC job per
    // exchange (~100-300ms of scheduling each, ~18 of them across the
    // fact build) — also the wrong trade on thousands of rows, where a
    // single-partition shuffle join chains its stages inside the
    // action's one job with no reducer fan-out to schedule. The
    // threshold is read at physical-planning (action) time, inside this
    // scope for the bounded pipeline's callers; it keeps the rate
    // spine's cross join off broadcast, and dimSide's hint makes every
    // equi-join hash.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      s.conf.set("spark.sql.shuffle.partitions", parts)
      s.conf.set("spark.sql.codegen.wholeStage", wscg)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", autoB)
    }
  }

  /** Dim-side wrapper for the bounded pipeline's joins: a shuffle_hash
    * hint. Under [[smallDataTuned]] (AQE off, one shuffle partition) the
    * hinted joins' stages chain inside each action's single job, with
    * none of the per-exchange async jobs a broadcast costs — those
    * dominate e2e wall time at reference scale. The hint, not a bare
    * frame: with auto-broadcast at -1 the planner's own size-based SHJ
    * path (canBuildLocalHashMap) is disabled too, and a bare frame would
    * sort-merge — two serial sort operators per join in the stage chain
    * for thousands of rows. Every equi-join in [[runFrom]] takes it on
    * its build side (ReferenceParityFixtureSpec checks that no output
    * plans a SortMergeJoin).
    */
  private def dimSide(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** FAIL-FAST orchestration: any extract failure aborts the run with an
    * exception (a driver main exits non-zero). For the reference's
    * log-and-continue behavior use [[runResilient]].
    */
  def run(s: SparkSession, rawDir: String, runDate: String): Outputs = {
    val extracted = extractAll(s, rawDir)
    val failed = extracted.collect { case (n, Left(e)) => s"$n ($e)" }
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"extract failed for: ${failed.mkString("; ")}")
    runFrom(s, extracted.collect { case (n, Right(df)) => n -> df }.toMap,
      runDate)
  }

  /** LOG-AND-CONTINUE orchestration (reference parity for
    * etl_extract.py:39-61): every source extracts independently, each
    * audited survivor is still audited on its own (so a run with one
    * broken file still produces five usable source results and four —
    * or fewer — audit reports), and all failures are surfaced in the
    * returned report instead of thrown. Full pipeline outputs are built
    * only when all six sources arrived (the enrichment joins need them).
    */
  def runResilient(s: SparkSession, rawDir: String,
                   runDate: String): ResilientRun = {
    val extracted = extractAll(s, rawDir).toMap
    val frames = extracted.collect { case (n, Right(df)) => n -> df }
    if (extracted.valuesIterator.forall(_.isRight)) {
      val out = runFrom(s, frames, runDate)
      ResilientRun(
        sourceNames.map(n => n -> SourceOutcome(Some(frames(n)),
          out.audits.get(n), None)).toMap,
        Some(out))
    } else {
      val outcomes = sourceNames.map { n =>
        n -> (extracted(n) match {
          case Left(err) => SourceOutcome(None, None, Some(err))
          case Right(df) =>
            if (!sourceSpecs.contains(n)) SourceOutcome(Some(df), None, None)
            else scala.util.Try(
                Audit.reportAll(Seq(sourceAudit(n, df)))(n)) match {
              case scala.util.Success(audit) =>
                SourceOutcome(Some(df), Some(audit), None)
              case scala.util.Failure(e) =>
                SourceOutcome(Some(df), None, Some(s"audit: ${e.getMessage}"))
            }
        })
      }
      ResilientRun(outcomes.toMap, None)
    }
  }

  private def runFrom(s: SparkSession, raw: Map[String, DataFrame],
                      runDate: String): Outputs = {
    val salesRaw = raw("sales")
    val customersRaw = raw("customers")
    val productsRaw = raw("products")
    val suppliersRaw = raw("suppliers")
    val taxrateRaw = raw("taxrate")
    val exchangeRaw = raw("exchange_data")

    // ---- audit + clean (Q1-Q6, audit_report.py + data_cleaning.py) ----
    // The four sources are independent until enrichment, so their audits
    // run as ONE fused action (Audit.reportAll) — the reference
    // serializes them only because it is one driver script looping
    // (audit_report.py:155), not because of a data dependency. (Running
    // them as four concurrent single-source audits does not actually
    // parallelize: tiny jobs serialize behind driver scheduling.)
    val auditNames = Seq("sales", "customers", "products", "suppliers")
    // the audit ACTION runs on a side thread while the driver builds the
    // audit-INDEPENDENT plans below (taxrate/exchange enrichment — the
    // only downstream frames that don't consume audit results); plan
    // analysis is driver-CPU-only, so it overlaps the audit's executor
    // time for free
    val auditPool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val auditEc =
      scala.concurrent.ExecutionContext.fromExecutor(auditPool)
    val fAudits = scala.concurrent.Future(
      Audit.reportAll(auditNames.map(n => sourceAudit(n, raw(n)))))(auditEc)
    // taxrate: ISO + deterministic TaxRateID (W1, add_columns.py:170-173)
    // — built (and analyzed) while the audit executes
    val taxEnriched = Gold.orderedIdBounded(
      CountryCodes.withIsoCode(taxrateRaw, "Country", "ISO")
        .drop("Country").withColumnRenamed("ISO", "Country"),
      Seq("Country", "Year"), "TaxRateID").cache()

    // exchange: dedup, ISO, tolerant date parse, deterministic ExchangeID
    val exchangeEnriched = Gold.orderedIdBounded(
      CountryCodes.withIsoCode(
          exchangeRaw.dropDuplicates(), "country", "ISO")
        .drop("country").withColumnRenamed("ISO", "country")
        .withColumn("date", date_format(coalesce(
          try_to_date(col("date"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
          try_to_date(col("date"))), "yyyy-MM-dd")),
      Seq("date", "country"), "ExchangeID").cache()

    // shutdown in finally: the pool's thread is non-daemon, so an audit
    // failure (or timeout) rethrowing past a bare shutdown() would leave
    // an idle thread pinning the JVM after the driver main returns
    val audits =
      try scala.concurrent.Await.result(fAudits,
        scala.concurrent.duration.Duration(15, "min"))
      finally auditPool.shutdown()
    def cleaned(n: String): DataFrame = {
      val spec = sourceSpecs(n)
      cleanFromReport(raw(n), audits(n), spec.rules, spec.fillStrings,
        spec.fillNumerics)
    }
    val (salesAudit, salesClean0) = (audits("sales"), cleaned("sales"))
    val (customersAudit, customersClean) =
      (audits("customers"), cleaned("customers"))
    val (productsAudit, productsClean) =
      (audits("products"), cleaned("products"))
    val (suppliersAudit, suppliersClean) =
      (audits("suppliers"), cleaned("suppliers"))
    // The cleaned/conformed frames are stage HAND-OFFS consumed by many
    // downstream actions (enrichment, anomalies, every dim, the fact).
    // The reference materializes each to silver parquet between its nine
    // processes; cache() is the one-session equivalent — without it every
    // downstream job re-runs the CSV scan + cleaning chain.
    val salesClean = salesClean0.cache()

    // ---- enrich (add_columns.py) ----
    // customers: continent + client tier from lifetime purchases (A1+G3)
    val customersGeo = CountryCodes.withContinent(customersClean,
      "Country", "code_region")
    val salesGeo = CountryCodes.withContinent(salesClean,
      "ShipCountry", "region_code")
      .withColumn("TotalAmount",
        col("UnitPrice") * col("Quantity") * (lit(1.0) - col("Discount")))
    val purchases = salesGeo.groupBy("CustomerID")
      .agg(sum("TotalAmount").as("total_purchase_amount"))
    val customersEnriched = customersGeo
      .join(dimSide(purchases), Seq("CustomerID"), "left")
      .na.fill(Map("total_purchase_amount" -> 0.0))
      .withColumn("status_client",
        when(col("total_purchase_amount") > 10000, "VIP")
          .when(col("total_purchase_amount") >= 1000, "Regular")
          .otherwise("Inactive"))

    // products: stock-based status (G3, add_columns.py:134-140)
    val productsEnriched = productsClean.withColumn("product_status",
      when(col("Discontinued") === 1, "Discontinued")
        .when(col("UnitsInStock") < 10, "Low Stock")
        .when(col("UnitsInStock") > 0 || col("UnitsOnOrder") > 0, "Active")
        .otherwise("Inactive"))

    // BOUNDEDNESS INVARIANT for this pipeline: every frame below is
    // Northwind-bounded by construction (the largest source is sales at
    // 11,371 raw rows — fixed parity data, NOT SF-scaling), which is why
    // (a) id assignment uses Gold.orderedIdBounded (lazy single-partition
    // row_number; zero construction jobs) and (b) unguarded dimSide
    // shuffle_hash hints are safe here: the build side of every hinted
    // join fits one task's hash map. Do NOT copy either pattern into an
    // SF-scaling path — those use Gold's parallel orderedId and
    // DimBroadcastRule's size guard.

    // ---- tax conformance (J2, sales_tax.py:62-67) ----
    val salesIso = CountryCodes.withIsoCode(salesGeo, "ShipCountry",
        "ISO_ShipCountry")
      .withColumn("OrderYear", year(col("OrderDate").cast("date")))
    val salesWithTax = salesIso.join(
        dimSide(taxEnriched.select(col("Country").as("ISO_Country"),
          col("Year").as("TaxYear"), col("TaxRateID"))),
        col("ISO_ShipCountry") === col("ISO_Country") &&
          col("OrderYear") === col("TaxYear"), "left")
      .drop("ISO_ShipCountry", "ISO_Country", "TaxYear", "OrderYear")

    // ---- currency conformance (J3-J5, W2, sales_currency.py) ----
    val productCountry = productsClean
      .join(dimSide(suppliersClean.select(col("SupplierID"),
        col("Country").as("ProductCountry"))), Seq("SupplierID"))
      .select("ProductID", "ProductCountry")
    val salesWithCountry = salesWithTax
      .join(dimSide(productCountry), Seq("ProductID"), "left")
    val salesProdIso = CountryCodes.withIsoCode(salesWithCountry,
      "ProductCountry", "ISO_ProdCountry")
    // exact-date join carries the ExchangeID (reference J5 semantics)...
    val exRates = exchangeEnriched.select(
      col("country").as("ex_country"), col("date").as("ex_date"),
      col("ExchangeID"), col("exchange_rate_to_euro"))
    val salesWithEx = salesProdIso.join(dimSide(exRates),
        col("ISO_ProdCountry") === col("ex_country") &&
          col("OrderDate") === col("ex_date"), "left")
    // ...and the rate falls back as-of style: last known rate at-or-before
    // the order date per country (the reference's window-forward-fill
    // intent, sales_currency.py:77-100). Implemented as a DENSE rate
    // spine — every (country, calendar day) of the pipeline's date range
    // forward-filled from the exchange dim — rather than an as-of probe
    // of the sales dates: the spine is bounded by the DATA's span —
    // countries x (min..max of exchange + order dates) — so exchange
    // points before the window (e.g. a 2021 seed rate) and orders after
    // the last exchange point both forward-fill instead of silently
    // losing rates. The order-date bound reads the already-cached
    // salesClean, so only a column-pruned cache scan joins the spine's
    // critical path. Ties on (country, date) resolve to the highest
    // ExchangeID, matching the as-of operator's rightTieBreak.
    val rateDays = exchangeEnriched.select(to_date(col("date")).as("d"))
      .union(salesClean.select(try_to_date(col("OrderDate")).as("d")))
      .agg(min("d").as("lo"), max("d").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("t"))
    val ratePoints = exchangeEnriched
      .groupBy(col("country").as("k"), col("date").as("t"))
      .agg(expr("max_by(exchange_rate_to_euro, ExchangeID)").as("r"))
    val fillW = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("t")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val lastRate = ratePoints.select("k").distinct()
      .crossJoin(rateDays) // bounded: |countries| x data-span days
      .join(dimSide(ratePoints), Seq("k", "t"), "left")
      .withColumn("last_rate", last("r", ignoreNulls = true).over(fillW))
      .filter(col("last_rate").isNotNull)
      .select("k", "t", "last_rate")
    val salesConformed = salesWithEx
      .join(dimSide(lastRate),
        col("ISO_ProdCountry") === col("k") && col("OrderDate") === col("t"),
        "left")
      .withColumn("exchange_rate_to_euro",
        coalesce(col("exchange_rate_to_euro"), col("last_rate")))
      .withColumn("ExchangeID",
        when(col("ProductCountry").isin(eurozone: _*), lit(1L))
          .otherwise(col("ExchangeID")))
      .drop("ex_country", "ex_date", "k", "t", "last_rate",
        "ISO_ProdCountry")
      .cache()

    // ---- anomalies (Q7-Q8, anomalies.py) ----
    val runDateCol = lit(runDate).cast("date")
    val salesFlagged = Anomalies.flag(salesConformed, Seq(
      AnomalyRule("Future Date", col("OrderDate").cast("date") > runDateCol),
      AnomalyRule("Unrealistic Quantity", col("Quantity") > 10000),
      AnomalyRule("Low or Negative Amount", col("TotalAmount") <= 0)))
    val recentProducts = salesConformed
      .filter(col("OrderDate").cast("date") >= date_sub(runDateCol, 365))
      .select("ProductID").distinct()
      .withColumnRenamed("ProductID", "SalesProductID")
    val productsFlagged = productsEnriched
      .join(dimSide(recentProducts),
        col("ProductID") === col("SalesProductID"), "left")
      .withColumn("anomaly_type",
        when(col("product_status") === "Active" &&
          col("SalesProductID").isNull, "Active No Sales"))
      .drop("SalesProductID")

    // ---- gold (G1-G5, map_cols.py) ----
    def key(df: DataFrame, orderCol: String, name: String): DataFrame =
      Gold.orderedIdBounded(df, Seq(orderCol), name)

    val dimTaxRate = key(taxEnriched, "TaxRateID", "TaxRateKey")
      .select("TaxRateKey", "TaxRateID", "Country", "Year", "TaxRate")
    val dimExchange = key(exchangeEnriched, "ExchangeID", "ExchangeKey")
      .select("ExchangeKey", "ExchangeID", "date", "country", "currency",
        "exchange_rate_to_euro")
    val dimCustomers = key(customersEnriched, "CustomerID", "CustomerKey")
      .withColumns(Map( // one analyzer pass, not four
        "ClientValue" ->
          when(col("status_client") === "VIP", "High")
            .when(col("status_client") === "Regular", "Medium")
            .otherwise("Low"),
        "IsCurrent" -> lit(true),
        "EffectiveStartDate" -> runDateCol,
        "EffectiveEndDate" -> lit(null).cast("date")))
      .select("CustomerKey", "CustomerID", "CompanyName", "ContactName",
        "ContactTitle", "Address", "City", "Region", "PostalCode",
        "Country", "Phone", "Fax", "code_region", "ClientValue",
        "IsCurrent", "EffectiveStartDate", "EffectiveEndDate")

    val lastSold = salesConformed.groupBy("ProductID")
      .agg(max("OrderDate").as("LastSoldDate"))
    val dimProducts = key(
      productsEnriched.join(dimSide(lastSold), Seq("ProductID"), "left")
        .withColumn("ProductStatus",
          when(col("product_status") === "Discontinued", "Obsolete")
            .when(col("UnitsInStock") === 0 && col("UnitsOnOrder") === 0 &&
              datediff(lit("2024-01-01").cast("date"),
                col("LastSoldDate").cast("date")) > 365, "Obsolete")
            .when(col("product_status") === "Low Stock" ||
              datediff(lit("2024-01-01").cast("date"),
                col("LastSoldDate").cast("date")) > 180, "End of Lifecycle")
            .otherwise("Active")),
      "ProductID", "ProductKey")
      .withColumns(Map(
        "IsCurrent" -> lit(true),
        "EffectiveStartDate" -> lit("2024-01-01"), // string, as the ref does
        "EffectiveEndDate" -> lit(null).cast("date")))
      .select("ProductKey", "ProductID", "ProductName", "SupplierID",
        "CategoryID", "QuantityPerUnit", "UnitPrice", "UnitsInStock",
        "UnitsOnOrder", "ReorderLevel", "Discontinued", "ProductStatus",
        "IsCurrent", "EffectiveStartDate", "EffectiveEndDate")

    val dimStore = key(
      productsClean.join(dimSide(suppliersClean), Seq("SupplierID"))
        .select(col("SupplierID").as("StoreID"),
          col("CompanyName").as("StoreName"), col("Address"), col("City"),
          col("PostalCode"), col("Country"))
        .distinct(),
      "StoreID", "StoreKey")

    val dimCalendar = key(
      s.sql("""SELECT explode(sequence(to_date('2022-01-01'),
              to_date('2025-01-01'), interval 1 day)) AS d""")
        .select(
          date_format(col("d"), "yyyy-MM-dd").as("CalendarDate"),
          dayofweek(col("d")).as("DayOfWeek"),
          month(col("d")).as("Month"),
          year(col("d")).as("Year"),
          quarter(col("d")).as("Quarter")),
      "CalendarDate", "CalendarKey")

    val productsWithStore = dimProducts
      .join(dimSide(dimStore.select(col("StoreID"), col("StoreKey"))),
        col("SupplierID") === col("StoreID"), "left")
      .select("ProductID", "ProductKey", "StoreKey")

    val fact = salesConformed
      .join(dimSide(dimCustomers.select("CustomerID", "CustomerKey")),
        Seq("CustomerID"), "inner")
      .join(dimSide(dimCalendar.select("CalendarDate", "CalendarKey")),
        col("OrderDate") === col("CalendarDate"), "inner")
      .join(dimSide(dimTaxRate.select(col("TaxRateKey"),
        col("TaxRateID").as("t_id"))), col("TaxRateID") === col("t_id"),
        "inner")
      .join(dimSide(dimExchange.select(col("ExchangeKey"),
        col("ExchangeID").as("e_id"))), col("ExchangeID") === col("e_id"),
        "inner")
      .join(dimSide(productsWithStore), Seq("ProductID"), "left")
      .filter(col("StoreKey").isNotNull)
    val factSales = Gold.orderedIdBounded(fact,
        Seq("OrderID", "ProductID", "Quantity", "Discount", "OrderDate"),
        "SalesID")
      .select("SalesID", "CustomerKey", "ProductKey", "StoreKey",
        "CalendarKey", "OrderID", "OrderDate", "ShippedDate",
        "region_code", "Quantity", "Discount", "TaxRateKey", "ExchangeKey")
      .withColumnRenamed("region_code", "Region")

    Outputs(
      audits = Map("sales" -> salesAudit, "customers" -> customersAudit,
        "products" -> productsAudit, "suppliers" -> suppliersAudit),
      salesClean = salesClean, customersEnriched = customersEnriched,
      productsEnriched = productsEnriched, suppliersClean = suppliersClean,
      salesConformed = salesConformed,
      salesFlagged = salesFlagged, productsFlagged = productsFlagged,
      dimCustomers = dimCustomers, dimProducts = dimProducts,
      dimStore = dimStore, dimCalendar = dimCalendar,
      dimTaxRate = dimTaxRate, dimExchange = dimExchange,
      factSales = factSales)
  }

  /** The dashboard's revenue measure (A8): Quantity x catalog UnitPrice x
    * (1 - Discount), revenue derived through DimProduct (the fact carries
    * no price by design — SURVEY §8.5).
    */
  def revenue(out: Outputs): DataFrame =
    out.factSales
      .join(broadcast(out.dimProducts.select(col("ProductKey"),
        col("UnitPrice").as("CatalogPrice"))), Seq("ProductKey"))
      .withColumn("rev",
        col("Quantity") * col("CatalogPrice") * (lit(1.0) - col("Discount")))
}
