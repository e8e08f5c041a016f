package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Audit.{AuditReport, FormatIssue}

class ReportsSpec extends AnyFunSuite {

  private val report = AuditReport(
    missingValues = Map("ShippedDate" -> 73L, "ShipRegion" -> 1298L,
      "OrderID0" -> 0L),
    duplicateRows = 0L,
    duplicateColumnGroups = Map("OrderID" -> Seq("OrderID0", "OrderID14")),
    formatViolations = Map("OrderDate" -> 2155L, "Freight" -> 5L))

  test("audit JSON is valid and carries the reference report's shape") {
    val tmp = Files.createTempDirectory("graft_reports")
    val path = s"$tmp/audit_report.json"
    val oddName = "a\"b\\c\nd\u0001e"
    Reports.writeAuditJson(path, Map("sales" -> report.copy(
      formatViolations = report.formatViolations + (oddName -> 1L))))
    val body = Files.readString(Paths.get(path))
    // shape: array of per-source documents with the reference's keys
    assert(body.startsWith("[") && body.endsWith("]"))
    assert(body.contains(""""source": "sales""""))
    assert(body.contains(""""ShippedDate": 73"""))
    assert(body.contains(""""duplicate_rows": 0"""))
    assert(body.contains(" - OrderID: OrderID0, OrderID14"))
    assert(body.contains(""""column": "OrderDate", "error_count": 2155"""))
    // must parse as JSON (the cleaner consumes it) — spark.read.json is
    // the parser we have on the classpath
    val parsed = graft.TestSpark.spark.read.option("multiLine", "true")
      .json(path)
    assert(parsed.select("source").collect().map(_.getString(0)).toSeq ==
      Seq("sales"))
    // a column name with a quote, a backslash and control characters
    // round-trips through a strict JSON parser
    val entries = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(body).get(0).get("data_type_and_format_inconsistencies")
    assert((0 until entries.size).map(entries.get(_).get("column").asText)
      .contains(oddName))
  }

  test("inconsistency entries serialize expected_type + error_ids with " +
    "source-typed ids (ints bare, strings quoted) like the reference") {
    val withIssues = report.copy(hasIdSamples = true, inconsistencies = Seq(
      FormatIssue("OrderDate", 2155L, "date in YYYY-MM-DD format",
        Seq(10248, 10248, 10249)),
      FormatIssue("Phone", 3L, "numeric with . ( ) - symbols",
        Seq("DRACD", "DUMON"))))
    val tmp = Files.createTempDirectory("graft_reports")
    val path = s"$tmp/audit_report.json"
    Reports.writeAuditJson(path, Map("sales" -> withIssues))
    val body = Files.readString(Paths.get(path))
    assert(body.contains(""""expected_type": "date in YYYY-MM-DD format""""))
    assert(body.contains(""""error_ids": [10248, 10248, 10249]"""))
    assert(body.contains(""""error_ids": ["DRACD", "DUMON"]"""))
    // entries appear in rule order, not sorted
    assert(body.indexOf(""""column": "OrderDate"""") <
      body.indexOf(""""column": "Phone""""))
    // and the document still parses with the same top-level shape as the
    // reference's committed audit_report.json
    val parsed = graft.TestSpark.spark.read.option("multiLine", "true")
      .json(path)
    val refCols = graft.TestSpark.spark.read.option("multiLine", "true")
      .json(graft.core.ReferenceSnapshot.path(
        graft.core.ReferenceSnapshot.auditReport))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col(
          "data_type_and_format_inconsistencies")).as("i"))
      .select("i.*").columns.toSet
    val ourCols = parsed
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col(
          "data_type_and_format_inconsistencies")).as("i"))
      .select("i.*").columns.toSet
    assert(ourCols == refCols)
  }

  test("a clean source audited WITH an id column serializes an empty " +
    "inconsistencies array (reference appends if-nonzero), while a " +
    "report without id samples keeps count-only entries") {
    val clean = report.copy(hasIdSamples = true, inconsistencies = Nil)
    val parity = Reports.auditJson("customers", clean)
    assert(parity.contains(""""data_type_and_format_inconsistencies": []"""))
    // legacy (no id column): counts stay, zeros included
    val legacy = Reports.auditJson("customers", report)
    assert(legacy.contains(""""column": "OrderDate", "error_count": 2155"""))
  }

  test("text report lists nonzero findings only") {
    val txt = Reports.auditText("sales", report)
    assert(txt.contains("ShippedDate: 73"))
    assert(!txt.contains("OrderID0: 0"))
    assert(txt.contains("Duplicate Rows: 0"))
    assert(txt.contains("Freight: 5 records"))
  }

  test("anomaly summary matches the reference's committed format") {
    val txt = Reports.anomalySummary("2024-11-24",
      Map("sales" -> 0L, "products" -> 1L))
    assert(txt.contains("Anomalies Detection Summary"))
    assert(txt.contains("Date: 2024-11-24"))
    assert(txt.contains("Sales Anomalies: 0"))
    assert(txt.contains("Products Anomalies: 1"))
  }
}
