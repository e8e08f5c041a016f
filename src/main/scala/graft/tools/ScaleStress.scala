package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Sessions
import graft.plans.DimBroadcast
import graft.queries.Registry
import graft.sources.Reports.jsonString

/** Scale-stress run: execute the headline queries against an INFLATED
  * testdata directory (see [[ScaleGen]]) and report per-query seconds
  * plus plan-shape evidence, as one JSON line.
  *
  * Beyond timing, this is the empirical check of the two 100x claims the
  * plans make at sf0.1:
  *  - a8 (scan-backed dims through DimBroadcast.hint): run once with the
  *    default bound and once with a bound the scaled dims EXCEED — the
  *    same query code must degrade from broadcast to a shuffle join and
  *    still complete (no hint-forced OOM path);
  *  - g5 (RDD-backed keyed dims, no compile-time stats): report the join
  *    strategies AQE actually picked at runtime from true sizes.
  *
  * Usage: runMain graft.tools.ScaleStress <sfDir> <label> [reps]
  */
object ScaleStress {

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode(SaveMode.Overwrite).save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Join-node census of the FINAL adaptive plan (collect() first so the
    * inspected QueryExecution is the one that ran — foreach/count clone).
    */
  private def joinCensus(df: DataFrame): (Map[String, Int], Long) = {
    val n = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan.toString
    val kinds = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin")
    (kinds.map(k => k -> k.r.findAllIn(plan).length).filter(_._2 > 0).toMap,
      n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val label = if (args.length > 1) args(1) else sfDir
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.build("graft-scale-stress", Sessions.cpusFromEnv(32))

    // codegen warm-up at the smallest SF (same rationale as Bench)
    val warmDir = "/root/testdata/sf0.001"
    val headliners = Registry.headlines
    if (new java.io.File(warmDir).isDirectory)
      headliners.foreach { q =>
        try q.run(spark, warmDir).write.format("noop")
          .mode(SaveMode.Overwrite).save()
        catch { case _: Throwable => () }
      }

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    headliners.foreach { q =>
      try {
        val secs = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          timeNoop(q.run(spark, sfDir))
        }.min
        timings(q.name) = secs
      } catch {
        case e: Throwable =>
          errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
      }
    }

    // ---- a8 degrade evidence: same query, bound above vs below the
    // scaled dim size. hint() reads the conf at plan-construction time,
    // so set it before building each plan.
    // Models "dim exceeds what an executor can hold": in production BOTH
    // broadcast layers see the same physical constraint, so the tight run
    // lowers the graft bound AND Spark's own autoBroadcastJoinThreshold
    // (else AQE re-promotes the join from the dim's runtime size and the
    // compile-time degrade is invisible at this absolute scale).
    def a8With(maxBytes: Long): (Map[String, Int], Long, Double) = {
      spark.catalog.clearCache()
      val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set(DimBroadcast.maxBytesConf, maxBytes.toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        maxBytes.toString)
      try {
        val q = Registry.all.find(_.name == "a8_dashboard_revenue").get
        val secs = timeNoop(q.run(spark, sfDir))
        val (joins, rows) = joinCensus(q.run(spark, sfDir))
        (joins, rows, secs)
      } finally {
        // restore BOTH bounds even if a run throws — a leaked tight
        // maxBytesConf would skew the later g5 join census
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
        spark.conf.unset(DimBroadcast.maxBytesConf)
      }
    }
    val customerBytes = spark.read
      .parquet(s"$sfDir/customer.parquet")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val (a8DefJoins, a8DefRows, a8DefSecs) =
      a8With(DimBroadcast.defaultMaxBytes)
    // a bound the scaled customer dim EXCEEDS: half its estimated size
    val tightBound = (customerBytes / 2).toLong.max(1L)
    val (a8TightJoins, a8TightRows, a8TightSecs) = a8With(tightBound)

    // ---- g5: report what AQE picked at runtime for the RDD-backed dims
    spark.catalog.clearCache()
    val g5 = Registry.all.find(_.name == "g5_fact_build").get
    val (g5Joins, g5Rows) = joinCensus(g5.run(spark, sfDir))

    def jmap(m: scala.collection.Map[String, Any]): String =
      m.map { kv =>
        val v = kv._2 match {
          case s: String => jsonString(s)
          case x => x.toString
        }
        s"${jsonString(kv._1)}:$v"
      }.mkString("{", ",", "}")
    println(s"""{"scale_stress":${jsonString(label)},""" +
      s""""sf_dir":${jsonString(sfDir)},"reps":$reps,""" +
      s""""queries":${jmap(timings)},"errors":${jmap(errors)},""" +
      s""""customer_est_bytes":$customerBytes,""" +
      s""""a8_default":{"bound":${DimBroadcast.defaultMaxBytes},"joins":${jmap(a8DefJoins)},"rows":$a8DefRows,"secs":$a8DefSecs},""" +
      s""""a8_tight":{"bound":$tightBound,"joins":${jmap(a8TightJoins)},"rows":$a8TightRows,"secs":$a8TightSecs},""" +
      s""""g5_runtime":{"joins":${jmap(g5Joins)},"rows":$g5Rows}}""")
    spark.stop()
  }
}
