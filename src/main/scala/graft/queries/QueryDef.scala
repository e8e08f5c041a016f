package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark implementation plus (when the
  * semantics are SQL-expressible) a DuckDB oracle the driver hash-compares
  * against on the same parquet tables.
  *
  * Contract notes (driver gate):
  *  - result column names must match the oracle's aliases exactly;
  *  - rows are compared order-insensitively, values exactly — so every
  *    floating-point output must be bit-deterministic (see
  *    [[graft.functions.Exact]] for the scaled-integer aggregation trick);
  *  - computed integer columns are cast to long on both sides (DuckDB
  *    promotes int sums to HUGEINT otherwise).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** included in Bench's headline timing set */
    headline: Boolean = false)

object Registry {
  /** All registered queries, every SURVEY.md §2 family. */
  def all: Seq[QueryDef] =
    Relational.defs ++ JoinsAggs.defs ++ QualityGold.defs ++ LlmOps.defs ++
      Extras.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  def headlines: Seq[QueryDef] = all.filter(_.headline)

  /** The registered query called `name`; throws naming it when none is. */
  def named(name: String): QueryDef = all.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"unknown query $name"))
}
