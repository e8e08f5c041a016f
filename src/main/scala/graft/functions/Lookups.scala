package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Broadcast reference-table lookups replacing the reference's per-row
  * Python UDF country lookups (BBT-ETL-DW scripts/etl_transform/
  * add_columns.py:42-62, sales_tax.py:34-41): a UDF forces row-at-a-time
  * JVM<->interpreter hops and blocks predicate pushdown; a broadcast join
  * against a bundled table is codegen'd, pushdown-transparent, and the
  * 100 TB-correct shape (the lookup side never grows).
  *
  * The testdata's nations are synthetic (NATION_0..NATION_24, regionkey
  * i%5), so the bundled codes are synthetic too; the mechanism — bundled
  * map -> broadcast join -> miss policy "UNK" — is what the reference's
  * pycountry lookups compute.
  */
object Lookups {

  private val continents = Vector("AF", "AM", "AS", "EU", "ME")

  /** nation name -> ISO-alpha-3-style code */
  val nationCode: Map[String, String] =
    (0 until 25).map(i => s"NATION_$i" -> f"N$i%02dX").toMap

  /** nation name -> continent code (consistent with n_regionkey = i % 5) */
  val nationContinent: Map[String, String] =
    (0 until 25).map(i => s"NATION_$i" -> continents(i % 5)).toMap

  /** The lookup as a broadcastable DataFrame. */
  private def lookupTable(s: SparkSession, m: Map[String, String],
                          keyName: String, valName: String): DataFrame = {
    import s.implicits._
    m.toSeq.sortBy(_._1).toDF(keyName, valName)
  }

  /** Attach `outCol` by broadcast-joining `m` on the `key` expression
    * over `df`; misses -> "UNK" (the reference's failure policy,
    * add_columns.py:50-51).
    */
  def withLookup(df: DataFrame, m: Map[String, String], key: Column,
                 outCol: String): DataFrame = {
    val lk = lookupTable(df.sparkSession, m, "__lk_key", "__lk_val")
    df.join(broadcast(lk), key === col("__lk_key"), "left")
      .withColumn(outCol, coalesce(col("__lk_val"), lit("UNK")))
      .drop("__lk_key", "__lk_val")
  }

  /** DuckDB CASE expression computing exactly [[withLookup]]'s mapping —
    * generated from the same Map so the two sides cannot drift.
    */
  def caseSql(m: Map[String, String], keyExpr: String): String =
    m.toSeq.sorted.map { case (k, v) => s"WHEN '$k' THEN '$v'" }
      .mkString(s"CASE $keyExpr ", " ", " ELSE 'UNK' END")
}
