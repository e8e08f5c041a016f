package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType,
  DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType,
  TimestampType}

/** Data-quality audit operators (SURVEY §2.10 Q1-Q4; reference:
  * BBT-ETL-DW scripts/audit_report.py).
  *
  * Differences from the reference, by design:
  *  - the reference runs one Spark job per rule and collect()s violating-id
  *    lists to the driver (audit_report.py:87-100) — O(rules) jobs and
  *    driver memory proportional to violations. Here the whole profile is
  *    ONE aggregate job, and violation scans return DataFrames (callers cap
  *    the sample themselves), so the audit stays distributed at 100 TB.
  *  - duplicate-row counting is one shuffle (group-count) instead of the
  *    reference's two full jobs (count vs dropDuplicates().count(),
  *    audit_report.py:58).
  */
object Audit {

  /** One entry of the reference's `data_type_and_format_inconsistencies`
    * array (audit_report.py:87-100): the violated column, its count, the
    * human-readable expected-type string the cleaner dispatches on
    * (data_cleaning.py:139-179), and a (capped) sample of violating row
    * ids. `errorIds` keeps the source id type — ints serialize unquoted,
    * strings quoted — matching the committed reference reports.
    */
  final case class FormatIssue(
      column: String,
      errorCount: Long,
      expectedType: String,
      errorIds: Seq[Any])

  /** Typed audit result consumed by the cleaning step — the reference's
    * audit_report.json document (audit_report.py:152-181) as a case class.
    * `formatViolations` keeps every rule's count (including zeros);
    * `inconsistencies` carries the reference-parity entries (only rules
    * with errors, with expected_type + error_ids) when the report was
    * built with an id column.
    */
  final case class AuditReport(
      missingValues: Map[String, Long],
      duplicateRows: Long,
      duplicateColumnGroups: Map[String, Seq[String]],
      formatViolations: Map[String, Long],
      inconsistencies: Seq[FormatIssue] = Nil,
      /** Whether error-id samples were collected: distinguishes "id
        * column given, zero violations" (serialize an EMPTY parity
        * array, like the reference) from "built without an id column"
        * (serialize count-only entries).
        */
      hasIdSamples: Boolean = false)

  private def isNullOrNan(df: DataFrame, c: String): Column = {
    val base = col(c).isNull
    df.schema(c).dataType match {
      case DoubleType | FloatType => base || isnan(col(c))
      case _ => base
    }
  }

  /** Per-column null/NaN counts in one pass (audit_report.py:52-54). */
  def nullProfile(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c =>
      count(when(isNullOrNan(df, c), lit(1))).as(c)): _*)

  /** Full-row duplicate count in one shuffle (audit_report.py:57-60). */
  def duplicateRowCount(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val keys = if (cols.nonEmpty) cols else df.columns.toSeq
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
      .agg((sum("cnt") - count(lit(1))).cast("long").as("dup_rows"))
  }

  private val DupCol = "^([A-Za-z]+)(\\d+)$".r

  /** Duplicate-source-column detection: names matching stem+digits grouped
    * by stem, groups of >1 flagged (audit_report.py:62-84 — Spark's CSV
    * reader renames a twice-occurring header `OrderID` to
    * `OrderID0`/`OrderID14`). Metadata-only: touches no data.
    */
  def duplicateColumnGroups(columns: Seq[String]): Map[String, Seq[String]] =
    columns.collect { case c @ DupCol(stem, _) => stem -> c }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      .filter(_._2.size > 1)

  /** [[duplicateColumnGroups]] as a one-row-per-group DataFrame. */
  def duplicateColumnsDf(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val groups = duplicateColumnGroups(df.columns.toSeq).toSeq
      .map { case (stem, cols) => (stem, cols.size.toLong) }
      .sortBy(_._1)
    groups.toDF("stem", "n_cols")
  }

  /** One named violation rule: rows where `bad` holds violate it.
    * `expectedType` is the reference's dispatch string (e.g. "positive
    * float", "date in YYYY-MM-DD format" — audit_report.py:103-138);
    * empty when the caller doesn't need report parity.
    */
  final case class FormatRule(name: String, bad: Column,
                              expectedType: String = "")

  /** The reference's audit predicates (audit_report.py:113-138), with
    * Spark-3 comparison semantics reproduced under Spark 4 ANSI mode:
    * its `stringCol < 0` coerced the string to INT with decimal
    * truncation ("-12.5" -> -12 counted, "-0.15" -> 0 not counted) —
    * pinned against the committed golden report in AuditGoldenSpec.
    */
  object RefRules {
    val phonePattern = "^[0-9.()\\- ]*$"
    def intCoerced(c: String): Column =
      col(c).try_cast("double").cast("int")
    def posFloat(c: String): Column =
      col(c).try_cast("float").isNull || intCoerced(c) < 0
    def posFloatStrict(c: String): Column =
      col(c).try_cast("float").isNull || intCoerced(c) <= 0
    def posInt(c: String): Column =
      col(c).try_cast("int").isNull || intCoerced(c) < 0
    def posIntStrict(c: String): Column =
      col(c).try_cast("int").isNull || intCoerced(c) <= 0
    def badPhone(c: String): Column = !col(c).rlike(phonePattern)
    def nonAlpha(c: String): Column = !col(c).rlike("^[a-zA-Z ]+$")
    def notIsoDate(c: String): Column =
      !col(c).rlike("^\\d{4}-\\d{2}-\\d{2}$")
  }

  /** All rules counted in ONE pass (vs audit_report.py:89's
    * job-per-rule + collect): a single aggregate emitting one column per
    * rule.
    */
  def violationCounts(df: DataFrame, rules: Seq[FormatRule]): DataFrame =
    df.select(rules.map(r => count(when(r.bad, lit(1))).as(r.name)): _*)

  /** Violating rows for one rule, as a DataFrame (caller limits/collects). */
  def violations(df: DataFrame, rule: FormatRule): DataFrame =
    df.filter(rule.bad)

  /** One source's audit recipe for [[reportAll]]. */
  final case class SourceAudit(name: String, df: DataFrame,
                               rules: Seq[FormatRule],
                               idColumn: Option[String] = None)

  /** Restore an error-id sampled as a string back to the id column's
    * native type, so reports serialize ids exactly as the pre-sampler
    * limit-scan did (numbers unquoted, dates via java.sql toString).
    */
  private def idRestore(
      dt: org.apache.spark.sql.types.DataType): String => Any = dt match {
    case IntegerType => _.toInt
    case LongType => _.toLong
    case ShortType => _.toShort
    case ByteType => _.toByte
    case DoubleType => _.toDouble
    case FloatType => _.toFloat
    case _: DecimalType => new java.math.BigDecimal(_)
    case BooleanType => _.toBoolean
    case DateType => java.sql.Date.valueOf(_)
    case TimestampType => java.sql.Timestamp.valueOf(_)
    case _ => identity
  }

  /** Cap on each fired rule's `error_ids` sample (the reference,
    * audit_report.py:96-100, collects ALL ids — unbounded driver memory).
    */
  private val MaxErrorIds = 10000

  /** Audit one or more sources in TWO Spark actions total, however many
    * sources there are: every source's fused profile scan (null counts +
    * violation counts + bounded id samples, uniformly shaped as maps)
    * unions into one job whose per-source subtrees execute in parallel
    * executor-side, and the per-source duplicate-row counts union into a
    * second, concurrently-scheduled job. Auditing k sources as k separate
    * actions from k threads does NOT parallelize in practice — tiny
    * jobs serialize behind the driver's single-threaded scheduling, so
    * k sources cost k × one-source latency; this shape costs ~one.
    * (Fusing the dup counts into the SAME collect — they union cleanly —
    * was tried and is SLOWER: one 8-branch job serializes all stage
    * submissions through the DAGScheduler event loop, while two
    * concurrent actions overlap their scheduling rounds.)
    *
    * When a source has an `idColumn`, every fired rule's violating-id
    * sample (the reference-parity `error_ids` field) rides THE SAME scan
    * as the counts, one [[BoundedIds]] collector per rule capped at
    * [[MaxErrorIds]] in both aggregation state and driver result. (One
    * early-terminating `limit` scan per rule wins only when violations
    * are dense enough to hit the cap early; with rare violations each of
    * the k scans reads the entire table.) Only rules that fired emit an
    * entry, mirroring the reference's append-if-nonzero behavior.
    * The pool is dedicated (callers run this on a future themselves)
    * and the wait finite, so a wedged job fails instead of hanging.
    */
  def reportAll(sources: Seq[SourceAudit]): Map[String, AuditReport] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(sources.nonEmpty)
    val sampler = udaf(new BoundedIds(MaxErrorIds), Encoders.STRING)
    val emptySamples = map_from_arrays(
      array().cast("array<string>"),
      array().cast("array<array<string>>"))

    def profileRow(sa: SourceAudit): DataFrame = {
      val countPairs: Seq[Column] =
        sa.df.columns.toSeq.flatMap(c => Seq(lit(s"null:$c"),
          count(when(isNullOrNan(sa.df, c), lit(1))))) ++
          sa.rules.flatMap(r => Seq(lit(s"vio:${r.name}"),
            count(when(r.bad, lit(1)))))
      val samples: Column = sa.idColumn match {
        case Some(id) if sa.rules.nonEmpty =>
          map(sa.rules.flatMap(r => Seq(lit(r.name),
            sampler(when(r.bad, col(id).cast("string"))))): _*)
        case _ => emptySamples
      }
      sa.df.select(lit(sa.name).as("src"),
        map(countPairs: _*).as("counts"), samples.as("samples"))
    }

    def dupRow(sa: SourceAudit): DataFrame =
      duplicateRowCount(sa.df)
        .select(lit(sa.name).as("src"), col("dup_rows"))

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fDups = Future {
        sources.map(dupRow).reduce(_ unionByName _).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val profiles = sources.map(profileRow).reduce(_ unionByName _)
        .collect()
        .map(r => r.getString(0) ->
          (r.getMap[String, Long](1),
            r.getMap[String, scala.collection.Seq[String]](2)))
        .toMap
      val dups = Await.result(fDups, Duration(15, "min"))

      sources.map { sa =>
        val (counts, samples) = profiles(sa.name)
        val missing = sa.df.columns.toSeq
          .map(c => c -> counts(s"null:$c")).toMap
        val vioMap = sa.rules.map(r => r.name -> counts(s"vio:${r.name}"))
          .toMap
        val issues = sa.idColumn.toSeq.flatMap { id =>
          val restore = idRestore(sa.df.schema(id).dataType)
          sa.rules.filter(r => vioMap(r.name) > 0).map(r =>
            FormatIssue(r.name, vioMap(r.name), r.expectedType,
              samples(r.name).map(restore).toSeq))
        }
        sa.name -> AuditReport(missing, dups(sa.name),
          duplicateColumnGroups(sa.df.columns.toSeq), vioMap, issues,
          hasIdSamples = sa.idColumn.isDefined)
      }.toMap
    } finally pool.shutdown()
  }

  /** Bounded violating-id collector: keeps the first `cap` ids seen per
    * partition-merge order, so a rule with a billion violations holds
    * `cap` strings of aggregation state, not a billion (a plain
    * collect_list + slice would buffer them ALL first). One instance per
    * rule rides the fused profile scan in [[reportAll]].
    */
  private final class BoundedIds(cap: Int)
      extends Aggregator[String, Seq[String], Seq[String]] {
    override def zero: Seq[String] = Vector.empty
    override def reduce(b: Seq[String], x: String): Seq[String] =
      if (x == null || b.lengthCompare(cap) >= 0) b else b :+ x
    override def merge(a: Seq[String], b: Seq[String]): Seq[String] =
      (a ++ b).take(cap)
    override def finish(b: Seq[String]): Seq[String] = b
    override def bufferEncoder: Encoder[Seq[String]] = BoundedIds.enc
    override def outputEncoder: Encoder[Seq[String]] = BoundedIds.enc
  }

  private object BoundedIds {
    // derived ONCE per JVM (encoder derivation goes through Scala's
    // globally-locked runtime reflection — deriving per audit call
    // serialized every concurrent audit behind the lock), and
    // catalyst-native rather than Encoders.kryo: a kryo-encoded buffer
    // makes every TASK pay a fresh Kryo instantiation per aggregator,
    // which dwarfed the actual 2,155-row scan in the parity audit
    val enc: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }
}
