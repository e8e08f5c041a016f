package graft.tools

import scala.collection.immutable.SeqMap

import org.apache.spark.sql.DataFrame

import graft.core.Sessions
import graft.queries.Registry

/** Skewed-key scale stress (the classic 100 TB killer a uniform TPC-H
  * inflation never exercises): run the skew-sensitive headline queries
  * against a ZIPF-skewed directory (see [[ScaleGen]]'s `zipf` mode) and
  * its uniform twin, in two separately-reported sections:
  *
  *  1. TIMING, under production confs (exactly what `Sessions.build`
  *     gives every entry point — no threshold manipulation): per
  *     (query, dir) min-of-reps seconds, rows, spill, and the max
  *     single-task wall time (the straggler). This answers "does the
  *     same code survive the skewed twin of its data".
  *
  *  2. MECHANISM, for the one class of skew AQE can act on — a hot key
  *     in a SHUFFLE JOIN partition: g5/a8's lineitem⋈orders with the
  *     skewed l_orderkey, run skew-split on vs off. TWO trigger
  *     conditions separate bench scale from 100 TB and are compensated
  *     here, explicitly:
  *      - at bench scale AQE sees the pruned orders side at a few MB and
  *        broadcasts it at runtime — a broadcast join is skew-IMMUNE (no
  *        shuffle by the hot key), which is itself the first line of the
  *        scale story and exactly what section 1 observes. At 100 TB
  *        that side is far beyond any executor's memory, so this section
  *        sets autoBroadcastJoinThreshold=-1 to model the
  *        too-big-to-broadcast reality and force the shuffle join the
  *        splitter exists for (DimBroadcastRule's dims stay broadcast,
  *        as their bounded size survives 100 TB);
  *      - AQE only splits a partition exceeding
  *        `skewedPartitionThresholdInBytes` (256 MB default) AND 5x the
  *        median; the 100 TB hot partition clears both naturally, the
  *        ~50 MB bench one only the 5x-median test, so the BYTE
  *        threshold is shrunk proportionally.
  *     The mechanism under test (detect the outlier partition, split
  *     it, replicate the matching build rows, keep the join exact) is
  *     scale-invariant; only the trigger conditions move. Evidence
  *     reported: the skew=true join marker in the final adaptive plan,
  *     the straggler time with the split on vs off, and identical row
  *     counts.
  *
  * Skew the splitter can NOT act on — hot keys in aggregations (l1's
  * duplicate texts) and window partitions (x1's hot users) — is covered
  * by section 1's straggler numbers and `operators/Skew`'s salting,
  * which ScaleShapeSpec pins; AQE splits join partitions only.
  *
  * Row counts come from `queryExecution.toRdd.count()`: it executes the
  * SAME QueryExecution (so the inspected plan is the final adaptive
  * one) without collecting the result — a full collect() of g5's
  * multi-million-row fact at stress scale would be driver-heap russian
  * roulette.
  *
  * Usage: runMain graft.tools.SkewStress <uniformDir> <skewDir> [reps]
  */
object SkewStress {

  private val timedQueries =
    Seq("a8_dashboard_revenue", "g5_fact_build", "l1_exact_dedup",
      "x1_sessionize")
  private val mechanismQueries = Seq("g5_fact_build", "a8_dashboard_revenue")

  final case class Cell(secs: Double, rows: Long, spillMb: Long,
                        maxTaskSec: Double, skewJoin: Boolean) {
    def record: SeqMap[String, Any] = SeqMap("secs" -> QueryRuns.r3(secs),
      "rows" -> rows, "spill_mb" -> spillMb,
      "max_task_sec" -> QueryRuns.r3(maxTaskSec), "skew_split" -> skewJoin)
  }

  def main(args: Array[String]): Unit = {
    val uniformDir = args(0)
    val skewDir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.build("graft-skew-stress", Sessions.cpusFromEnv(32))
    val metrics = TaskMetricsListener.installed(spark)
    QueryRuns.warmUp(spark, timedQueries.map(Registry.named))

    def skewMarked(df: DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("skew=true") || p.contains("isSkewJoin=true")
    }

    /** Execute df's OWN QueryExecution (final adaptive plan) and count
      * rows without shipping them to the driver.
      */
    def rowsOf(df: DataFrame): Long = df.queryExecution.toRdd.count()

    /** Timed cell: one untimed warm run (parquet footers + OS cache for
      * this dir, so cell order doesn't bias the comparison), then
      * min-of-reps, then one inspected run for rows/plan/task metrics.
      */
    def run(name: String, dir: String): Cell = {
      val q = Registry.named(name)
      spark.catalog.clearCache()
      QueryRuns.sink(q.run(spark, dir))
      val secs = QueryRuns.minSeconds(spark, reps)(q.run(spark, dir))
      spark.catalog.clearCache()
      metrics.reset()
      val df = q.run(spark, dir)
      val rows = rowsOf(df)
      metrics.drain()
      Cell(secs, rows, metrics.spillMb, metrics.maxTaskSec, skewMarked(df))
    }

    // ---- section 1: production-conf timings, uniform vs skewed twin
    val timingParts = timedQueries.map { n =>
      val uni = run(n, uniformDir)
      val skw = run(n, skewDir)
      n -> SeqMap("uniform" -> uni.record, "skewed" -> skw.record)
    }

    // ---- section 2: skew-join split mechanism at shrunk trigger bytes
    val mechParts = mechanismQueries.map { n =>
      val q = Registry.named(n)
      def cell(splitOn: Boolean): (Cell, String) = QueryRuns.withConfs(spark,
        "spark.sql.adaptive.skewJoin.enabled" -> splitOn.toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m") {
        var rows = 0L
        val secs = QueryRuns.seconds(spark) {
          rows = rowsOf(q.run(spark, skewDir))
        }
        spark.catalog.clearCache()
        metrics.reset()
        val df2 = q.run(spark, skewDir)
        val rows2 = rowsOf(df2)
        require(rows2 == rows)
        metrics.drain()
        val joinLines = df2.queryExecution.executedPlan.toString
          .linesIterator.filter(_.contains("Join")).map(_.trim.take(120))
          .mkString(" | ")
        (Cell(secs, rows, metrics.spillMb, metrics.maxTaskSec,
          skewMarked(df2)), joinLines)
      }
      val (on, onJoins) = cell(splitOn = true)
      val (off, _) = cell(splitOn = false)
      n -> SeqMap("split_on" -> on.record, "split_off" -> off.record,
        "join_nodes_on" -> onJoins)
    }

    println(QueryRuns.json(SeqMap("skew_stress" -> SeqMap(
      "uniform_dir" -> uniformDir, "skew_dir" -> skewDir, "reps" -> reps,
      "timings_production_confs" -> SeqMap.from(timingParts),
      "skew_join_mechanism_8m_threshold" -> SeqMap.from(mechParts)))))
    spark.stop()
  }
}
