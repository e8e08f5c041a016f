package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Audit.FormatRule
import graft.sources.Csv

/** Golden test: our audit operators over the reference's own raw CSVs must
  * reproduce the counts the reference committed in
  * logs/data_processing/2024-12-02/audit_report.json. Rules encoded per
  * scripts/etl_transform/audit_report.py:103-138 (with try_cast where the
  * reference's lenient Spark-3 casts would throw under ANSI).
  */
class AuditGoldenSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private def raw = graft.core.ReferenceSnapshot.raw

  import Audit.RefRules._

  private def vioMap(df: DataFrame, rules: Seq[FormatRule]) = {
    val row = Audit.violationCounts(df, rules).collect()(0)
    rules.zipWithIndex.map { case (r, i) => r.name -> row.getLong(i) }.toMap
  }

  test("sales.csv: missing values, duplicate columns, format violations " +
    "match the committed 2024-12-02 report") {
    val sales = Csv.readInferred(s, s"$raw/sales.csv")

    // duplicate OrderID header -> OrderID0/OrderID14 (positions 0 and 14)
    assert(Audit.duplicateColumnGroups(sales.columns.toSeq) ==
      Map("OrderID" -> Seq("OrderID0", "OrderID14")))

    val nulls = Audit.nullProfile(sales).collect()(0)
    val missing = sales.columns.zipWithIndex
      .map { case (c, i) => c -> nulls.getLong(i) }.toMap
    assert(missing("ShippedDate") == 73)
    assert(missing("ShipRegion") == 1298)
    assert(missing("ShipAddress") == 3)
    assert(missing("ShipCity") == 1)
    assert(missing("ShipPostalCode") == 55)
    assert(missing("ShipCountry") == 3)
    assert(missing("Discount") == 1)
    assert(missing("OrderID0") == 0)

    assert(Audit.duplicateRowCount(sales).collect()(0).getLong(0) == 0)

    val vio = vioMap(sales, Seq(
      FormatRule("OrderDate", !col("OrderDate").rlike("^\\d{4}-\\d{2}-\\d{2}$")),
      FormatRule("ShippedDate", !col("ShippedDate").rlike("^\\d{4}-\\d{2}-\\d{2}$")),
      FormatRule("Freight", posFloat("Freight")),
      FormatRule("UnitPrice", posFloat("UnitPrice")),
      FormatRule("Discount", posFloat("Discount")),
      FormatRule("Quantity", posInt("Quantity"))))
    assert(vio == Map("OrderDate" -> 2155, "ShippedDate" -> 2082,
      "Freight" -> 5, "UnitPrice" -> 7, "Discount" -> 2, "Quantity" -> 6))
  }

  test("customers.csv: phone/fax/country violations match") {
    val customers = Csv.readInferred(s, s"$raw/customers.csv")
    val vio = vioMap(customers, Seq(
      FormatRule("Phone", !col("Phone").rlike(phonePattern)),
      FormatRule("Fax", !col("Fax").rlike(phonePattern)),
      FormatRule("Country", !col("Country").rlike("^[a-zA-Z ]+$"))))
    assert(vio == Map("Phone" -> 3, "Fax" -> 1, "Country" -> 2))
    // the three bad phones are the documented ones
    val badPhones = Audit.violations(customers,
        FormatRule("Phone", !col("Phone").rlike(phonePattern)))
      .select("CustomerID").collect().map(_.getString(0)).toSet
    assert(badPhones == Set("DRACD", "DUMON", "WELLI"))
  }

  test("products.csv: stock/price violations match") {
    val products = Csv.readInferred(s, s"$raw/products.csv")
    val vio = vioMap(products, Seq(
      FormatRule("UnitsInStock", posIntStrict("UnitsInStock")),
      FormatRule("UnitsOnOrder", posIntStrict("UnitsOnOrder")),
      FormatRule("ReorderLevel", posIntStrict("ReorderLevel")),
      FormatRule("UnitPrice", posFloatStrict("UnitPrice"))))
    assert(vio == Map("UnitsInStock" -> 10, "UnitsOnOrder" -> 63,
      "ReorderLevel" -> 24, "UnitPrice" -> 3))
    val badPrices = Audit.violations(products,
        FormatRule("UnitPrice", posFloatStrict("UnitPrice")))
      .select("ProductID").collect().map(_.getInt(0)).toSet
    assert(badPrices == Set(4, 23, 25))
  }

  test("the reference notebook's 5-row micro fixture profiles as expected " +
    "(notebooks/etl_audit.ipynb cell 1: one null date, one null amount)") {
    import s.implicits._
    val df = Seq(
      (Option("2024-01-01"), 1001, "ProductA", Option(500)),
      (Option("2024-01-01"), 1002, "ProductB", None),
      (Option("2024-01-02"), 1003, "ProductA", Option(300)),
      (None, 1004, "ProductC", Option(200)),
      (Option("2024-01-03"), 1005, "ProductB", Option(1500)))
      .toDF("date", "transaction_id", "product", "amount")
    val nulls = Audit.nullProfile(df).collect()(0)
    val missing = df.columns.zipWithIndex
      .map { case (c, i) => c -> nulls.getLong(i) }.toMap
    assert(missing == Map("date" -> 1L, "transaction_id" -> 0L,
      "product" -> 0L, "amount" -> 1L))
    assert(Audit.duplicateRowCount(df).collect()(0).getLong(0) == 0)
  }

  test("suppliers.csv: phone/fax violations match") {
    val suppliers = Csv.readInferred(s, s"$raw/suppliers.csv")
    val vio = vioMap(suppliers, Seq(
      FormatRule("Phone", !col("Phone").rlike(phonePattern)),
      FormatRule("Fax", !col("Fax").rlike(phonePattern))))
    assert(vio == Map("Phone" -> 2, "Fax" -> 1))
  }
}
