package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)`; these helpers
  * centralize the path convention `sfDir/<table>.parquet`. At cluster scale the
  * same API would point at a lake root — paths stay a single-point-of-change.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `events.ts` as epoch-MICROseconds. The generated parquet carries
    * `ts` as TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads
    * as TIMESTAMP_NTZ; casting NTZ -> TIMESTAMP interprets the wall
    * clock in the session time zone ([[Sessions.build]] pins UTC), so
    * `unix_micros` lands on the same integers as DuckDB's `epoch_us(ts)`
    * (which also treats a naive timestamp's wall clock as UTC). Keeping
    * event time as an integer keeps the as-of join / sessionization math
    * zone-free and engine-portable.
    *
    * Dispatches on the actual `ts` dtype so a driver-side testdata
    * regeneration can't silently change semantics: if `ts` ever arrives
    * as a raw integer (e.g. TIMESTAMP(NANOS) read under
    * `nanosAsLong=true`), the NTZ cast path would reinterpret the long
    * as epoch SECONDS and return garbage — so that shape converts
    * explicitly (nanos -> micros), and any other dtype fails fast.
    */
  def eventTsUs(events: DataFrame): Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    events.schema("ts").dataType match {
      case TimestampNTZType => expr("unix_micros(CAST(ts AS TIMESTAMP))")
      case TimestampType    => expr("unix_micros(ts)")
      case LongType         => expr("ts DIV 1000") // TIMESTAMP(NANOS) via nanosAsLong
      case other => throw new IllegalStateException(
        s"events.ts has unexpected dtype $other; extend Tables.eventTsUs")
    }
  }

  /** [[events]] with `ts_us` (epoch micros, see [[eventTsUs]]) appended —
    * the shape every event-time query starts from.
    */
  def eventsWithTsUs(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    ev.withColumn("ts_us", eventTsUs(ev))
  }
}
