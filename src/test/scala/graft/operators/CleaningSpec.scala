package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the UDF-free cleaning expressions to the reference's semantics
  * (BBT-ETL-DW scripts/etl_transform/data_cleaning.py:50-61, 180-191),
  * including the multi-dot garbage edge (FIXTURES.md §6): the reference's
  * Python float() would RAISE on "1.2.3"; our contract maps it to the
  * default — pinned here as the documented divergence.
  */
class CleaningSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import s.implicits._

  /** Reference model of clean_numeric_column(value, "float") + the
    * caller's null->0.0 and negative->0.0 wrappers, with unparseable
    * (multi-dot) -> default instead of raising.
    */
  private def modelFloat(v: String): Double = {
    if (v == null) return 0.0
    val cleaned = v.replaceAll("[^0-9.]", "")
    val parsed =
      try { if (cleaned.isEmpty) 0.0 else cleaned.toDouble }
      catch { case _: NumberFormatException => 0.0 }
    if (parsed < 0) 0.0 else parsed
  }

  private def modelInt(v: String): Long = {
    if (v == null) return 1L
    val cleaned = v.replaceAll("[^0-9.]", "")
    val parsed =
      try { if (cleaned.isEmpty) None else Some(math.floor(cleaned.toDouble)) }
      catch { case _: NumberFormatException => None }
    parsed match {
      case Some(p) if p > 0 => p.toLong
      case _ => 1L
    }
  }

  // 300 seeded pseudo-random dirty strings + the known nasty cases,
  // evaluated in ONE Spark job and compared cell-by-cell to the model.
  private val nasty = Seq(
    null, "", ".", "..", "1.2.3", "v1.2.9oops", "$ 123.45kg", "-5",
    "1^&T*&#4/1/20212.5", "abc", "0", "007", "14.", ".5", "1..2",
    "9999999999.99", " 42 ", "4 2", "-.", "$-3.5")
  private val gen: Gen[String] = Gen.listOfN(12,
    Gen.frequency(
      5 -> Gen.numChar,
      2 -> Gen.const('.'),
      2 -> Gen.alphaChar,
      1 -> Gen.oneOf('$', '-', '/', '#', ' ', '^'))).map(_.mkString)
  private val seeded: Seq[String] =
    Iterator.iterate(rng.Seed(42L))(_.next).take(300)
      .map(sd => gen.apply(Gen.Parameters.default, sd).getOrElse(""))
      .toSeq

  test("cleanPositiveFloat / cleanPositiveInt match the reference model " +
    "on nasty + 300 generated dirty strings") {
    val inputs = (nasty ++ seeded).zipWithIndex.map(_.swap)
    val out = inputs.toDF("i", "raw")
      .select(col("i"),
        Cleaning.cleanPositiveFloat(col("raw")).as("f"),
        Cleaning.cleanPositiveInt(col("raw")).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    inputs.foreach { case (i, raw) =>
      assert(out(i) == (modelFloat(raw), modelInt(raw)),
        s"input ${Option(raw).map("\"" + _ + "\"").getOrElse("null")}")
    }
  }

  test("date normalization: M/d/yyyy shape parses, junk nulls") {
    val out = Seq("7/4/1996", "12/31/2001", "2022-01-01", "13/45/1996", "x")
      .toDF("raw")
      .select(Cleaning.normalizeDate(col("raw")).cast("string").as("d"))
      .collect().map(_.getAs[String]("d")).toSeq
    assert(out == Seq("1996-07-04", "2001-12-31", null, null, null))
  }

  test("LEGACY parser pin: the reference's M/dd/yy form (2-digit years, " +
    "data_cleaning.py:14,184-190) maps 7/4/22 -> 2022-07-04") {
    s.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    try {
      val out = Seq("7/4/22", "12/31/99").toDF("raw")
        .select(Cleaning.normalizeDate(col("raw"), "M/dd/yy")
          .cast("string").as("d"))
        .collect().map(_.getString(0)).toSeq
      // LEGACY (SimpleDateFormat) century rule: 2-digit years land within
      // 80 years before / 20 after now -> 22 -> 2022, 99 -> 1999.
      assert(out == Seq("2022-07-04", "1999-12-31"))
    } finally s.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
  }

  test("normalizeDate guards the 2-digit form with the same rlike the " +
    "reference uses (yy strings don't slip into the 4-digit parser)") {
    val out = Seq("7/4/22").toDF("raw")
      .select(Cleaning.normalizeDate(col("raw")).as("d"))
      .collect().head
    assert(out.isNullAt(0))
  }

  test("cleanNonEmptyString / cleanAlphaOnly reference policies") {
    val out = Seq(("", "USA 123"), (" ", "Germany"), ("ok", "a#b"))
      .toDF("a", "b")
      .select(
        Cleaning.cleanNonEmptyString(col("a")).as("a2"),
        Cleaning.cleanAlphaOnly(col("b")).as("b2"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("Unknown", "Unknown"), ("Unknown", "Germany"),
      ("ok", "Unknown")))
  }

  test("dropDuplicateColumns repairs the OrderID0/OrderID14 situation") {
    val df = Seq((1, 1, "x")).toDF("OrderID0", "OrderID14", "Status")
    val report = Audit.reportAll(Seq(Audit.SourceAudit("t", df, Nil)))("t")
    assert(report.duplicateColumnGroups ==
      Map("OrderID" -> Seq("OrderID0", "OrderID14")))
    val repaired = Cleaning.dropDuplicateColumns(df, report)
    assert(repaired.columns.toSeq == Seq("OrderID", "Status"))
  }
}
