package graft.sources

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.io.JsonStringEncoder

import graft.operators.Audit.AuditReport

/** Driver-side report sinks (SURVEY §2.1 S7/S8; reference:
  * audit_report.py:152-181 writes audit_report.json + .txt,
  * anomalies.py:147-155 writes the anomaly summary). The reports are
  * kilobyte-sized driver values — filesystem writes, not Spark jobs.
  */
object Reports {

  /** `s` as a quoted JSON string literal: the one JSON string escaper
    * of every hand-laid JSON record. Jackson escapes the quote, the
    * backslash and every control character.
    */
  def jsonString(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  /** A scalar id value: numbers/booleans bare, anything else a JSON
    * string — so an int id column serializes as `10248` and a string id
    * column as `"ALFKI"`, matching the reference's committed reports.
    */
  private def jsonScalar(v: Any): String = v match {
    case null => "null"
    case b: java.lang.Boolean => b.toString
    case n: java.lang.Number => n.toString
    case other => jsonString(other.toString)
  }

  /** S7 — the audit report as JSON (schema mirrors the reference's
    * audit_report.json document, audit_report.py:43-100: entries in the
    * inconsistency array appear only for rules that fired and carry
    * `expected_type` + `error_ids` so the reference's cleaner
    * (data_cleaning.py:196-206) could consume our report unchanged).
    * Reports built without an id column fall back to count-only entries.
    */
  def auditJson(source: String, r: AuditReport): String = {
    val missing = r.missingValues.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonString(k)}: $v" }.mkString(", ")
    val dupCols = r.duplicateColumnGroups.toSeq.sortBy(_._1)
      .map { case (stem, cols) =>
        s""" - ${stem}: ${cols.mkString(", ")}"""
      }.map(jsonString).mkString(", ")
    val vio =
      if (r.hasIdSamples)
        // parity mode: only fired rules appear (the reference appends
        // if-nonzero), so a clean source serializes an empty array
        r.inconsistencies.map { i =>
          s"""{"column": ${jsonString(i.column)}, """ +
            s""""error_count": ${i.errorCount}, """ +
            s""""expected_type": ${jsonString(i.expectedType)}, """ +
            s""""error_ids": [${i.errorIds.map(jsonScalar).mkString(", ")}]}"""
        }.mkString(", ")
      else r.formatViolations.toSeq.sortBy(_._1)
        .map { case (c, n) =>
          s"""{"column": ${jsonString(c)}, "error_count": $n}"""
        }.mkString(", ")
    s"""{"source": ${jsonString(source)}, "missing_values": {$missing}, """ +
      s""""duplicate_rows": ${r.duplicateRows}, """ +
      s""""duplicate_columns": [$dupCols], """ +
      s""""data_type_and_format_inconsistencies": [$vio]}"""
  }

  def writeAuditJson(path: String, reports: Map[String, AuditReport]): Unit = {
    val body = reports.toSeq.sortBy(_._1)
      .map { case (src, r) => auditJson(src, r) }.mkString("[", ", ", "]")
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), body)
  }

  /** S8 — human-readable audit summary (the reference's .txt report). */
  def auditText(source: String, r: AuditReport): String = {
    val sb = new StringBuilder
    sb ++= s"Audit Report: $source\n"
    sb ++= "=" * 40 + "\n"
    sb ++= s"Missing Values:\n"
    r.missingValues.toSeq.sortBy(_._1).filter(_._2 > 0).foreach {
      case (c, n) => sb ++= s" - $c: $n\n"
    }
    sb ++= s"Duplicate Rows: ${r.duplicateRows}\n"
    if (r.duplicateColumnGroups.nonEmpty) {
      sb ++= "Duplicate Columns (Based on Similar Names):\n"
      r.duplicateColumnGroups.toSeq.sortBy(_._1).foreach {
        case (stem, cols) => sb ++= s" - $stem: ${cols.mkString(", ")}\n"
      }
    }
    sb ++= "Format Violations:\n"
    r.formatViolations.toSeq.sortBy(_._1).filter(_._2 > 0).foreach {
      case (c, n) => sb ++= s" - $c: $n records\n"
    }
    sb.toString
  }

  def writeAuditText(path: String, reports: Map[String, AuditReport]): Unit = {
    val body = reports.toSeq.sortBy(_._1)
      .map { case (src, r) => auditText(src, r) }.mkString("\n")
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), body)
  }

  /** S8 — the anomaly summary (anomalies.py:147-155's format). */
  def anomalySummary(runDate: String, counts: Map[String, Long]): String = {
    val sb = new StringBuilder
    sb ++= "Anomalies Detection Summary\n"
    sb ++= "===========================\n"
    sb ++= s"Date: $runDate\n\n"
    counts.toSeq.sortBy(_._1).foreach { case (src, n) =>
      sb ++= s"${src.capitalize} Anomalies: $n\n"
    }
    sb.toString
  }

  def writeAnomalySummary(path: String, runDate: String,
                          counts: Map[String, Long]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), anomalySummary(runDate, counts))
  }
}
