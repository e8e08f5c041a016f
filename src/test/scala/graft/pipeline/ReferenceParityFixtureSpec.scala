package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The parity pipeline over a tiny Northwind-shaped fixture this spec
  * writes itself, with the source headers of perfbench/northwind.py
  * (the duplicated `OrderID` sales header included). Every expectation
  * follows from the cells planted below, so the spec runs on any machine,
  * unlike the golden ReferenceParitySpec, which needs the reference's
  * committed snapshot.
  */
class ReferenceParityFixtureSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private val files: Map[String, Seq[String]] = Map(
    "sales" -> Seq(
      "OrderID,CustomerID,EmployeeID,OrderDate,RequiredDate,ShippedDate," +
        "ShipVia,Freight,ShipName,ShipAddress,ShipCity,ShipRegion," +
        "ShipPostalCode,ShipCountry,OrderID,ProductID,UnitPrice,Quantity," +
        "Discount",
      "10248,ALFKI,5,7/4/23,8/1/23,7/16/23,3,32.38,Alfreds,Obere Str. 57," +
        "Berlin,,12209,Germany,10248,1,14.0,12,0",
      // Freight unparseable
      "10248,ALFKI,5,7/4/23,8/1/23,7/16/23,3,22vv.98,Alfreds,Obere Str. 57," +
        "Berlin,,12209,Germany,10248,2,9.8,10,0",
      // ShippedDate missing; UnitPrice, Quantity, Discount unparseable
      "10249,ANATR,6,7/5/23,8/16/23,,1,11.61,Ana Trujillo,Avda. 2222," +
        "Mexico City,,5021,Mexico,10249,3,2df6.2,&7,t",
      // Freight and Quantity negative
      "10250,BADPH,4,7/8/23,8/5/23,7/12/23,2,-65.83,Bad Phone Ltd," +
        "1 High St.,London,,4455,UK,10250,1,18.0,-6,0.05"),
    "customers" -> Seq(
      "CustomerID,CompanyName,ContactName,ContactTitle,Address,City," +
        "Region,PostalCode,Country,Phone,Fax",
      "ALFKI,Alfreds,Maria Anders,Sales Representative,Obere Str. 57," +
        "Berlin,BE,12209,Germany,030-0074321,030-0076545",
      "ANATR,Ana Trujillo,Ana Trujillo,Owner,Avda. 2222,Mexico City,DF," +
        "5021,Mexico,(5) 555-4729,",
      // Phone, Fax and Country violate their rules
      "BADPH,Bad Phone Ltd,Tom Hardy,Owner,1 High St.,London,LN,4455," +
        "Germani#,02C1-039123,(5) 5VC>5-3745",
      // Address missing
      "NOADR,No Address Co,Ann Devon,Owner,,Oslo,OS,1001,Norway," +
        "(0) 555-0101,"),
    "products" -> Seq(
      "ProductID,ProductName,SupplierID,CategoryID,QuantityPerUnit," +
        "UnitPrice,UnitsInStock,UnitsOnOrder,ReorderLevel,Discontinued",
      "1,Chai,1,1,10 boxes x 20 bags,18.0,39,10,10,0",
      // UnitPrice unparseable
      "2,Chang,2,1,24 - 12 oz bottles,1k,17,40,25,0",
      // ProductName missing; UnitsInStock unparseable; UnitsOnOrder and
      // ReorderLevel zero (the strict rules count zero)
      "3,,3,2,12 - 550 ml bottles,10.0,1a13,0,0,0"),
    "suppliers" -> Seq(
      "SupplierID,CompanyName,ContactName,ContactTitle,Address,City," +
        "Region,PostalCode,Country,Phone,Fax,HomePage",
      "1,Exotic Liquids,Charlotte Cooper,Purchasing Manager," +
        "49 Gilbert St.,London,,4411,UK,(171) 555-2222,,",
      // Phone and Fax violate the phone rule
      "2,Cajun Delights,Shelley Burke,Order Administrator,P.O. Box 78934," +
        "New Orleans,LA,70117,USA,(03) 4S4-22S5,(1) 03.83.0x.12," +
        "http://cajun.example",
      "3,Heli Waren,Petra Winkler,Sales Manager,Tiergartenstr. 5,Berlin,," +
        "10785,Germany,(010) 998-4310,,"),
    "taxrate" -> Seq("Country,Year,TaxRate",
      "Germany,2023,0.19", "Mexico,2023,0.16", "UK,2023,0.2",
      "USA,2023,0.07"),
    "exchange_data" -> Seq("date,exchange_rate_to_euro,country,currency",
      "2023-07-03,1.0,EU,EUR", "2023-07-04,0.86,UK,GBP",
      "2023-07-04,1.08,USA,USD", "2023-07-08,0.87,UK,GBP",
      "2023-07-04,0.86,UK,GBP"))

  private def fixture(omit: Set[String] = Set.empty): Path = {
    val dir = Files.createTempDirectory("graft-parity-fixture")
    files.foreach { case (name, lines) =>
      if (!omit(name))
        Files.write(dir.resolve(s"$name.csv"),
          lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    dir
  }

  private val runDate = "2024-11-24"

  test("log-and-continue over the fixture without sales.csv: only sales " +
    "fails, each surviving audited source carries its planted violations " +
    "and typed error ids; fail-fast mode throws") {
    val dir = fixture(omit = Set("sales"))
    val report = ReferenceParity.runResilient(s, dir.toString, runDate)
    assert(report.outputs.isEmpty)
    assert(report.failures.keySet == Set("sales"))
    Seq("customers", "products", "suppliers", "taxrate", "exchange_data")
      .foreach(n => assert(report.sources(n).frame.isDefined, n))
    assert(report.sources("taxrate").audit.isEmpty)
    assert(report.sources("exchange_data").audit.isEmpty)

    def issues(n: String): Map[String, (Long, Seq[Any])] =
      report.sources(n).audit.get.inconsistencies
        .map(i => i.column -> (i.errorCount, i.errorIds)).toMap

    val customers = report.sources("customers").audit.get
    assert(customers.formatViolations == Map("Phone" -> 1L, "Fax" -> 1L,
      "Country" -> 1L, "Address" -> 1L))
    assert(customers.missingValues("Fax") == 2L)
    assert(customers.missingValues("Address") == 1L)
    assert(issues("customers") == Map(
      "Phone" -> (1L, Seq("BADPH")), "Fax" -> (1L, Seq("BADPH")),
      "Country" -> (1L, Seq("BADPH")), "Address" -> (1L, Seq("NOADR"))))

    val products = report.sources("products").audit.get
    assert(products.formatViolations == Map("UnitsInStock" -> 1L,
      "UnitsOnOrder" -> 1L, "ReorderLevel" -> 1L, "UnitPrice" -> 1L))
    assert(products.missingValues("ProductName") == 1L)
    assert(issues("products") == Map(
      "UnitsInStock" -> (1L, Seq(3)), "UnitsOnOrder" -> (1L, Seq(3)),
      "ReorderLevel" -> (1L, Seq(3)), "UnitPrice" -> (1L, Seq(2))))

    val suppliers = report.sources("suppliers").audit.get
    assert(suppliers.formatViolations == Map("Phone" -> 1L, "Fax" -> 1L))
    assert(issues("suppliers") == Map(
      "Phone" -> (1L, Seq(2)), "Fax" -> (1L, Seq(2))))

    // ids keep their source type: int ids serialize unquoted, string
    // ids quoted
    val ids = Seq("customers", "products", "suppliers").map(n =>
      n -> report.sources(n).audit.get.inconsistencies.flatMap(_.errorIds))
      .toMap
    assert(ids("customers").forall(_.isInstanceOf[String]))
    assert(ids("products").forall(_.isInstanceOf[Int]))
    assert(ids("suppliers").forall(_.isInstanceOf[Int]))

    intercept[IllegalStateException] {
      ReferenceParity.run(s, dir.toString, runDate)
    }
  }

  test("factSales and dimProducts collect to the same rows inside and " +
    "outside smallDataTuned") {
    // one fixture copy per run: the pipeline caches its hand-offs, and a
    // second run over the same files would read the first run's cache
    def collected(out: ReferenceParity.Outputs): (Seq[String], Seq[String]) =
      (out.factSales.collect().map(_.toString).toSeq.sorted,
        out.dimProducts.collect().map(_.toString).toSeq.sorted)
    val (tunedFact, tunedProducts) = ReferenceParity.smallDataTuned(s) {
      collected(ReferenceParity.run(s, fixture().toString, runDate))
    }
    val plain = ReferenceParity.run(s, fixture().toString, runDate)
    val (plainFact, plainProducts) = collected(plain)

    // every order line has a customer, a tax rate for its ship country
    // and year, an exchange row on its order date or a eurozone
    // supplier, and a store: all four reach the fact
    assert(tunedFact.size == 4)
    assert(tunedProducts.size == 3)
    assert(plainFact == tunedFact)
    assert(plainProducts == tunedProducts)
    assert(plain.audits("sales").duplicateColumnGroups ==
      Map("OrderID" -> Seq("OrderID0", "OrderID14")))
  }

  test("under smallDataTuned no output frame plans a SortMergeJoin, " +
    "cached hand-offs included") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p.collectWithSubqueries { case n => n }.flatMap {
        case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
        case n => Seq(n)
      }
    // AQE is off inside the scope, so after the action executedPlan is
    // the plan that ran
    val sortMerge = ReferenceParity.smallDataTuned(s) {
      val out = ReferenceParity.run(s, fixture().toString, runDate)
      out.productElementNames.zip(out.productIterator).collect {
        case (name, df: DataFrame) =>
          df.collect()
          name -> nodes(df.queryExecution.executedPlan)
            .count(_.nodeName == "SortMergeJoin")
      }.filter(_._2 > 0).toMap
    }
    assert(sortMerge.isEmpty, s"SortMergeJoin count by output: $sortMerge")
  }
}
