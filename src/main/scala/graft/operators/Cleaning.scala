package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Audit.AuditReport

/** Cleaning rules (SURVEY §2.10 Q6, §2.9 U1; reference: BBT-ETL-DW
  * scripts/etl_transform/data_cleaning.py). The audit-driven dispatcher
  * that applies them (Q5) is ReferenceParity.cleanFromReport.
  *
  * The reference implements numeric cleaning as a per-row Python UDF
  * (data_cleaning.py:50-61: strip non-[0-9.], parse, default). Every rule
  * here is a pure Catalyst expression — whole-stage-codegen'd, pushdown
  * transparent, and streaming-safe (no collect in any rule body).
  */
object Cleaning {

  /** Strip everything but digits and dots (the U1 UDF's first step). */
  def stripNonNumeric(c: Column): Column =
    regexp_replace(c, "[^0-9.]", "")

  /** U1, float flavor (data_cleaning.py:153-157): strip junk, parse, null
    * or negative -> 0.0. Multi-dot garbage ("1.2.3") fails the cast to
    * null and lands on the default, matching the reference's
    * except-branch. Pinned against reference semantics in CleaningSpec.
    */
  def cleanPositiveFloat(c: Column, default: Double = 0.0): Column = {
    // try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    // THROWS on multi-dot garbage; the reference's try/except maps it to
    // the default instead.
    val parsed = stripNonNumeric(c).try_cast("double")
    when(parsed.isNull || parsed < 0, lit(default)).otherwise(parsed)
  }

  /** U1, int flavor (data_cleaning.py:158-160): like float but truncated
    * toward zero; non-positive -> 1 (Quantity policy). floor (not cast) so
    * the DuckDB oracle (which rounds on double->int casts) can mirror it.
    */
  def cleanPositiveInt(c: Column, default: Long = 1L): Column = {
    val parsed = floor(stripNonNumeric(c).try_cast("double"))
    when(parsed.isNull || parsed <= 0, lit(default)).otherwise(parsed)
      .cast("long")
  }

  /** "must be a non-empty string" rule (data_cleaning.py:171-173). */
  def cleanNonEmptyString(c: Column, fallback: String = "Unknown"): Column =
    when(c.isNull || trim(c) === "", lit(fallback)).otherwise(c)

  /** "alphabetic only" rule via regexp_extract-else-fallback
    * (data_cleaning.py:175-177).
    */
  def cleanAlphaOnly(c: Column, fallback: String = "Unknown"): Column = {
    val extracted = regexp_extract(c, "^[a-zA-Z ]+$", 0)
    when(c.isNull || extracted === "", lit(fallback)).otherwise(extracted)
  }

  /** Date normalization (data_cleaning.py:180-191): M/d/y-shaped strings
    * -> DateType; anything else null. `fmt` defaults to the 4-digit-year
    * form; the reference's 2-digit M/dd/yy under the LEGACY parser is
    * pinned separately in CleaningSpec (DuckDB's %y century rule differs,
    * so oracle queries use 4-digit years).
    */
  def normalizeDate(c: Column, fmt: String = "M/d/yyyy"): Column = {
    val shape =
      if (fmt.endsWith("yyyy")) "^[0-9]{1,2}/[0-9]{1,2}/[0-9]{4}$"
      else "^[0-9]{1,2}/[0-9]{1,2}/[0-9]{2}$" // the reference's yy guard
    // try_to_date: a shape-matching string can still be an invalid date
    // (13/45/1996) — cleaning maps it to null, never a runtime error.
    when(c.rlike(shape), try_to_date(c, fmt))
  }

  /** Drop duplicate-suffixed columns and strip the suffix from the survivor
    * (data_cleaning.py:114-134: OrderID0/OrderID14 -> OrderID).
    */
  def dropDuplicateColumns(df: DataFrame, report: AuditReport): DataFrame =
    report.duplicateColumnGroups.foldLeft(df) {
      case (d, (stem, cols)) =>
        d.drop(cols.tail: _*).withColumnRenamed(cols.head, stem)
    }
}
