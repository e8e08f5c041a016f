package graft.tools

import scala.collection.immutable.SeqMap

import org.apache.spark.sql.DataFrame

import graft.core.Sessions
import graft.plans.DimBroadcastRule
import graft.queries.Registry

/** Scale-stress run: execute the headline queries against an INFLATED
  * testdata directory (see [[ScaleGen]]) and report per-query seconds
  * plus plan-shape evidence, as one JSON line.
  *
  * Beyond timing, this is the empirical check of the two 100x claims the
  * plans make at sf0.1:
  *  - a8 (scan-backed dims sized by DimBroadcastRule): run once with the
  *    default bound and once with a bound the scaled dims EXCEED — the
  *    same query code must degrade from broadcast to a shuffle join and
  *    still complete (no hint-forced OOM path);
  *  - g5 (RDD-backed keyed dims, no compile-time stats): report the join
  *    strategies AQE actually picked at runtime from true sizes.
  *
  * Usage: runMain graft.tools.ScaleStress <sfDir> <label> [reps]
  */
object ScaleStress {

  /** Join-node census of the FINAL adaptive plan (collect() first so the
    * inspected QueryExecution is the one that ran — foreach/count clone).
    */
  private def joinCensus(df: DataFrame): (SeqMap[String, Int], Long) = {
    val n = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan.toString
    val kinds = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin")
    (SeqMap.from(kinds.map(k => k -> k.r.findAllIn(plan).length)
      .filter(_._2 > 0)), n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val label = if (args.length > 1) args(1) else sfDir
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.build("graft-scale-stress", Sessions.cpusFromEnv(32))

    val headliners = Registry.headlines
    QueryRuns.warmUp(spark, headliners)

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    headliners.foreach { q =>
      try timings(q.name) = QueryRuns.minSeconds(spark, reps)(
        q.run(spark, sfDir))
      catch { case e: Throwable => errors(q.name) = QueryRuns.firstLine(e) }
    }

    // ---- a8 degrade evidence: same query, bound above vs below the
    // scaled dim size. DimBroadcastRule reads the conf when the plan is
    // optimized, so set it before building and running each plan.
    // Models "dim exceeds what an executor can hold": in production BOTH
    // broadcast layers see the same physical constraint, so the tight run
    // lowers the graft bound AND Spark's own autoBroadcastJoinThreshold
    // (else AQE re-promotes the join from the dim's runtime size and the
    // compile-time degrade is invisible at this absolute scale).
    // Both bounds are restored even if a run throws — a leaked tight
    // maxBytesConf would skew the later g5 join census.
    def a8With(maxBytes: Long): SeqMap[String, Any] = QueryRuns.withConfs(
      spark, DimBroadcastRule.maxBytesConf -> maxBytes.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> maxBytes.toString) {
      val q = Registry.named("a8_dashboard_revenue")
      val secs = QueryRuns.noopSeconds(spark)(q.run(spark, sfDir))
      val (joins, rows) = joinCensus(q.run(spark, sfDir))
      SeqMap("bound" -> maxBytes, "joins" -> joins, "rows" -> rows,
        "secs" -> secs)
    }
    val customerBytes = spark.read
      .parquet(s"$sfDir/customer.parquet")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val a8Default = a8With(DimBroadcastRule.defaultMaxBytes)
    // a bound the scaled customer dim EXCEEDS: half its estimated size
    val a8Tight = a8With((customerBytes / 2).toLong.max(1L))

    // ---- g5: report what AQE picked at runtime for the RDD-backed dims
    spark.catalog.clearCache()
    val g5 = Registry.named("g5_fact_build")
    val (g5Joins, g5Rows) = joinCensus(g5.run(spark, sfDir))

    println(QueryRuns.json(SeqMap("scale_stress" -> label, "sf_dir" -> sfDir,
      "reps" -> reps, "queries" -> timings, "errors" -> errors,
      "customer_est_bytes" -> customerBytes.bigInteger,
      "a8_default" -> a8Default, "a8_tight" -> a8Tight,
      "g5_runtime" -> SeqMap("joins" -> g5Joins, "rows" -> g5Rows))))
    spark.stop()
  }
}
