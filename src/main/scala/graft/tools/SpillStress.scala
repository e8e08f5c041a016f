package graft.tools

import scala.collection.immutable.SeqMap

import graft.core.Sessions
import graft.queries.Registry

/** Memory-inflection probe for the heaviest registry entries: run them
  * at a large inflation (sf5 = 50x bench scale) and record the metrics
  * that foreshadow where a real cluster first feels memory pressure —
  * spill bytes (memory + disk), peak execution memory of any single
  * task, the straggler (max single-task wall time), and shuffle volume.
  *
  * The point is to find the next inflection BEFORE a 1000-executor run
  * does: a query that completes at 50x with zero spill has headroom; one
  * that starts spilling shows exactly which stage's per-task state
  * outgrows its memory share, and that stage is what needs a larger
  * shuffle partition count (or a cap/band redesign) at the next decade.
  *
  * Usage: runMain graft.tools.SpillStress <sfDir> [reps] [q1,q2,...]
  * Default queries: the three heaviest by BENCH_r05 (l12, l2b, g5).
  */
object SpillStress {

  private val defaultQueries =
    Seq("l12_cosine_near_dup", "l2b_ngram_jaccard_capped", "g5_fact_build")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val names =
      if (args.length > 2) args(2).split(",").toSeq else defaultQueries
    val spark = Sessions.build("graft-spill-stress", Sessions.cpusFromEnv(32))
    val metrics = TaskMetricsListener.installed(spark)
    val queries = names.map(Registry.named)
    QueryRuns.warmUp(spark, queries)

    val parts = queries.map { q =>
      val record = try {
        val secs = QueryRuns.minSeconds(spark, reps)(q.run(spark, sfDir))
        // one inspected run for task metrics (noop write = full
        // materialization; a count() would let Catalyst prune the
        // computed columns and understate the memory story)
        spark.catalog.clearCache()
        metrics.reset()
        QueryRuns.sink(q.run(spark, sfDir))
        metrics.drain()
        val (sp, pk, mx, sw) = (metrics.spillMb, metrics.peakExecMemMb,
          metrics.maxTaskSec, metrics.shuffleWriteMb)
        spark.catalog.clearCache()
        val rows = q.run(spark, sfDir).count()
        SeqMap("secs" -> QueryRuns.r3(secs), "rows" -> rows,
          "spill_mb" -> sp, "peak_task_exec_mem_mb" -> pk,
          "max_task_sec" -> mx, "shuffle_write_mb" -> sw)
      } catch {
        case e: Throwable => SeqMap("error" -> QueryRuns.firstLine(e))
      }
      q.name -> record
    }
    println(QueryRuns.json(SeqMap("spill_stress" -> SeqMap(
      "sf_dir" -> sfDir, "reps" -> reps, "queries" -> SeqMap.from(parts)))))
    spark.stop()
  }
}
