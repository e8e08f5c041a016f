package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.WarehouseLoader
import graft.sources.WarehouseLoader.ParquetSink

class GoldWarehouseSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("calendar dim: 1097 contiguous keys over 2022-01-01..2025-01-01 " +
    "(the reference's spine, map_cols.py:200-206)") {
    val cal = Gold.calendarDim(s, "2022-01-01", "2025-01-01")
    assert(cal.count() == 1097)
    val keys = cal.agg(min("CalendarKey"), max("CalendarKey"),
      countDistinct("CalendarKey")).collect()(0)
    assert((keys.getLong(0), keys.getLong(1), keys.getLong(2)) ==
      (1L, 1097L, 1097L))
  }

  test("orderedId assigns exactly the global-window row_number ids " +
    "without a single-partition window") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.core.Tables.orders(s, sf)
    val viaWindow = orders.withColumn("id",
      row_number().over(Window.orderBy("o_orderkey")).cast("long"))
      .select("o_orderkey", "id")
    val viaOrdered = Gold.orderedId(orders, Seq("o_orderkey"), "id")
      .select("o_orderkey", "id")
    assert(viaOrdered.except(viaWindow).count() == 0)
    assert(viaWindow.except(viaOrdered).count() == 0)
    // the assigner's plan must not contain a global (unpartitioned) window
    assert(viaOrdered.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
  }

  test("orderedId properties on generated key sets: ids are exactly " +
    "1..n in sort order, for empty / single / skewed inputs") {
    import s.implicits._
    import org.scalacheck.{Gen, rng}
    val gen: Gen[List[Long]] = Gen.chooseNum(0, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100000L, 100000L))).map(_.distinct)
    val cases = Iterator.iterate(rng.Seed(7L))(_.next).take(12)
      .map(sd => gen.apply(Gen.Parameters.default, sd).getOrElse(Nil))
      .toSeq ++ Seq(Nil, List(42L), (1L to 64L).toList)
    cases.foreach { keys =>
      val df = keys.toDF("k")
      val out = Gold.orderedId(df, Seq("k"), "id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.length == keys.length)
      // ids form exactly 1..n, and sorting by key equals sorting by id
      assert(out.map(_._2).sorted.toSeq == (1L to keys.length).toSeq,
        s"ids not contiguous for ${keys.take(5)}...")
      assert(out.sortBy(_._1).map(_._2).toSeq ==
        out.map(_._2).sorted.toSeq, "id order must equal key order")
    }
  }

  test("fact build: every FK resolves (referential integrity by " +
    "construction) and SalesID is unique at line grain") {
    val fact = Gold.factSales(s, sf)
    // the RDD-backed dims carry no size estimate, so the compile-time
    // plan sort-merges the dim joins; AQE must convert them to broadcast
    // at runtime from the ACTUAL shuffle sizes (the scale-correct
    // mechanism: estimates can't OOM it, real sizes drive it)
    val rows = fact.collect()
    val finalPlan = fact.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"))
    assert("BroadcastHashJoin".r.findAllIn(finalPlan).size >= 3,
      s"AQE should runtime-convert the small dim joins:\n${finalPlan.take(1200)}")
    val n = rows.length.toLong
    assert(n == 6000)
    fact.cache()
    val nulls = fact.select(
      count(when(col("CustomerKey").isNull, 1)).as("c"),
      count(when(col("ProductKey").isNull, 1)).as("p"),
      count(when(col("StoreKey").isNull, 1)).as("st"),
      count(when(col("CalendarKey").isNull, 1)).as("cal")).collect()(0)
    assert((0 until 4).forall(nulls.getLong(_) == 0L))
    assert(fact.select(countDistinct("SalesID")).collect()(0).getLong(0) == n)
    fact.unpersist()
  }

  test("warehouse load: dims land strictly before the fact (G6, " +
    "etl_load.py:38-61) through the pluggable sink") {
    import s.implicits._
    val root = Files.createTempDirectory("graft_wh").toString
    val dimA = Seq((1L, "x")).toDF("k", "v")
    val fact = Seq((1L, 10.0)).toDF("k", "m")
    val order = WarehouseLoader.load(new ParquetSink(root),
      dims = Seq("dim_a" -> dimA, "dim_b" -> dimA),
      fact = "fact_sales" -> fact)
    assert(order == Seq("dim_a", "dim_b", "fact_sales"))
    assert(s.read.parquet(s"$root/fact_sales").count() == 1)
    // append semantics: loading again doubles the fact
    WarehouseLoader.load(new ParquetSink(root),
      dims = Seq("dim_a" -> dimA), fact = "fact_sales" -> fact)
    assert(s.read.parquet(s"$root/fact_sales").count() == 2)
  }

  test("warehouse load through REAL JDBC: star lands in embedded Derby, " +
    "reads back with matching counts, append appends (S4, etl_load.py)") {
    import s.implicits._
    // keep Derby's derby.log out of the repo
    System.setProperty("derby.system.home",
      Files.createTempDirectory("graft_derby").toString)
    val url = "jdbc:derby:memory:graftdw;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val props = new java.util.Properties()
    props.setProperty("driver", driver)
    // Derby resolves unqualified tables against the schema named after
    // the connecting user — read with the same credentials the sink used
    props.setProperty("user", "graft")
    props.setProperty("password", "graft")

    val dimCustomer = Gold.dimCustomer(s, sf)
      .select("CustomerKey", "c_custkey", "c_name", "c_acctbal")
    val dimProduct = Gold.dimProduct(s, sf)
      .select("ProductKey", "p_partkey", "p_brand")
    val fact = Gold.factSales(s, sf)
      .select("SalesID", "CustomerKey", "ProductKey", "OrderDate",
        "Quantity", "Revenue")

    val order = WarehouseLoader.load(
      new WarehouseLoader.JdbcSink(url, user = "graft", password = "graft",
        driver = driver),
      dims = Seq("dim_customers" -> dimCustomer, "dim_products" -> dimProduct),
      fact = "fact_sales" -> fact)
    assert(order == Seq("dim_customers", "dim_products", "fact_sales"))

    // counts round-trip through the database
    def readTable(t: String) = s.read.jdbc(url, t, props)
    assert(readTable("dim_customers").count() == dimCustomer.count())
    assert(readTable("dim_products").count() == dimProduct.count())
    val factRows = fact.count()
    assert(readTable("fact_sales").count() == factRows)
    // and values survive: revenue total matches to the cent
    val dbRevenue = readTable("fact_sales")
      .agg(round(sum("Revenue"), 2)).collect()(0).getDouble(0)
    val dfRevenue = fact.agg(round(sum("Revenue"), 2)).collect()(0)
      .getDouble(0)
    assert(dbRevenue == dfRevenue)

    // append semantics (the reference's mode, etl_load.py:30-32)
    new WarehouseLoader.JdbcSink(url, "graft", "graft", driver)
      .append(fact, "fact_sales")
    assert(readTable("fact_sales").count() == 2 * factRows)
  }

  test("SQL Server dialect: the dw_bbt star's emitted DDL column types " +
    "are pinned through Spark's MsSqlServerDialect (etl_load.py:12-15 " +
    "URL; no server needed — the dialect maps types at plan time)") {
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    // the reference's exact URL shape selects the dialect
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(
      "jdbc:sqlserver://localhost:1433;databaseName=dw_bbt")
    def ddl(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.schema.fields.map(f => f.name ->
        dialect.getJDBCType(f.dataType)
          .orElse(JdbcUtils.getCommonJDBCType(f.dataType))
          .getOrElse(fail(s"no SQL Server type for ${f.name}: " +
            s"${f.dataType}")).databaseTypeDefinition).toMap
    // schema-only: building the plans never runs the pipeline
    val out = graft.pipeline.ReferenceParity.run(s,
      graft.core.ReferenceSnapshot.raw, "2024-11-24")
    val fact = ddl(out.factSales)
    assert(fact == Map(
      "SalesID" -> "BIGINT", "CustomerKey" -> "BIGINT",
      "ProductKey" -> "BIGINT", "StoreKey" -> "BIGINT",
      "CalendarKey" -> "BIGINT", "OrderID" -> "INTEGER",
      "OrderDate" -> "NVARCHAR(MAX)", "ShippedDate" -> "NVARCHAR(MAX)",
      "Region" -> "NVARCHAR(MAX)", "Quantity" -> "BIGINT",
      "Discount" -> "DOUBLE PRECISION", "TaxRateKey" -> "BIGINT",
      "ExchangeKey" -> "BIGINT"), s"factSales drifted: $fact")
    // SCD2 columns: BIT flag, DATE bounds — except dimProducts'
    // EffectiveStartDate, which the reference populates as a STRING
    // literal (map_cols.py keeps '2024-01-01' unparsed; faithfully
    // NVARCHAR here, a real user's first surprise on SQL Server)
    val cust = ddl(out.dimCustomers)
    assert(cust("IsCurrent") == "BIT" &&
      cust("EffectiveStartDate") == "DATE" &&
      cust("EffectiveEndDate") == "DATE", s"dimCustomers drifted: $cust")
    val prod = ddl(out.dimProducts)
    assert(prod("IsCurrent") == "BIT" &&
      prod("EffectiveStartDate") == "NVARCHAR(MAX)" &&
      prod("EffectiveEndDate") == "DATE" &&
      prod("UnitPrice") == "DOUBLE PRECISION" &&
      prod("ProductID") == "INTEGER", s"dimProducts drifted: $prod")
    // every column of every dim resolves to a SQL Server type — the
    // load cannot throw on type mapping
    Seq(out.dimStore, out.dimCalendar, out.dimTaxRate, out.dimExchange)
      .foreach(d => ddl(d))
    // and the dialect is genuinely SQL Server's, not the generic
    // fallback: its NVARCHAR/BIT/VARBINARY signatures
    assert(dialect.getJDBCType(org.apache.spark.sql.types.StringType)
      .map(_.databaseTypeDefinition).contains("NVARCHAR(MAX)"))
    assert(dialect.getJDBCType(org.apache.spark.sql.types.BooleanType)
      .map(_.databaseTypeDefinition).contains("BIT"))
    assert(dialect.getJDBCType(org.apache.spark.sql.types.BinaryType)
      .map(_.databaseTypeDefinition).contains("VARBINARY(MAX)"))
  }

  test("anomaly rules: first-match-wins priority order " +
    "(anomalies.py:62-68)") {
    import s.implicits._
    import graft.operators.Anomalies.AnomalyRule
    val rules = Seq(
      AnomalyRule("first", col("v") > 10),
      AnomalyRule("second", col("v") > 5))
    // v=20 matches both -> labeled by the HIGHER-priority rule
    val out = Seq(20, 7, 1).toDF("v")
      .withColumn("label", Anomalies.label(rules))
      .collect().map(_.getString(1)).toSeq
    assert(out == Seq("first", "second", "ok"))
  }
}
