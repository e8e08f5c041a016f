package graft.tools

import scala.collection.immutable.SeqMap

import graft.core.Sessions
import graft.operators.Similarity
import graft.queries.LlmOps

/** Dev-only: the LSH-sizing evidence run behind SCALE_r06.md §3.
  *
  * cosineNearDupPairs' cell structure has 2^nPlanes cells per table; a
  * corpus far above ~a-few x 2^nPlanes SATURATES it (sf5's 500k vectors
  * on the sf0.1 design point of 12 planes = avg 122 members/cell), and
  * then NO within-cell strategy wins: the uncapped form spills on the
  * quadratic cell joins, a capped form floods its candidate stage. The
  * 100 TB rule is to size nPlanes with the corpus (avg cell O(1)) and
  * let the cap absorb the genuine mega-cluster TAIL. This probe times
  * uncapped vs capped at a chosen nPlanes on an inflated dir, with
  * spill/straggler from task metrics and a per-stage straggler
  * breakdown (the diagnostic that exposed the composed-bucketing
  * interpreted-fallback cliff — see plans/LshBuckets).
  *
  * Usage: runMain graft.tools.ProbeL12C <sfDir> <nPlanes> [cap] [mode]
  *   mode: both (default) | capped | uncapped.
  */
object ProbeL12C {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nPlanes = args(1).toInt
    val cap = if (args.length > 2) args(2).toInt else 64
    val mode = if (args.length > 3) args(3) else "both"
    val spark = Sessions.build("graft-probe-l12c", Sessions.cpusFromEnv(32))
    val metrics = TaskMetricsListener.installed(spark)

    def corpus = LlmOps.twinnedEmbeddings(spark, sfDir)

    def run(name: String, df: org.apache.spark.sql.DataFrame)
        : (String, SeqMap[String, Any]) = {
      metrics.reset()
      val secs = QueryRuns.noopSeconds(spark)(df)
      metrics.drain()
      val (sp, mx) = (metrics.spillMb, metrics.maxTaskSec)
      // per-stage straggler attribution, beyond the shared task totals
      metrics.stages.toSeq.sortBy(-_._2.maxTaskMs).take(6).foreach {
        case (sid, st) =>
          println(f"[stage] $name s$sid%-5d ${st.maxTaskMs / 1e3}%7.1fs " +
            f"max (${st.tasks}%4d tasks) ${st.name}")
      }
      spark.catalog.clearCache()
      val rows = df.count()
      name -> SeqMap("secs" -> QueryRuns.r3(secs), "rows" -> rows,
        "spill_mb" -> sp, "max_task_sec" -> mx)
    }

    val parts = Seq(
      "uncapped" -> (() => run("uncapped", Similarity.cosineNearDupPairs(
        corpus, "vec_id", "embedding", threshold = 0.9, dim = 64,
        nPlanes = nPlanes, nTables = 8))),
      "capped" -> (() => run("capped", Similarity.cosineNearDupPairsCapped(
        corpus, "vec_id", "embedding", threshold = 0.9, dim = 64,
        nPlanes = nPlanes, nTables = 8, maxBucket = cap)))
    ).collect { case (n, f) if mode == "both" || mode == n => f() }
    println(QueryRuns.json(SeqMap("probe_l12c" -> (SeqMap(
      "sf_dir" -> sfDir, "n_planes" -> nPlanes, "cap" -> cap) ++ parts))))
    spark.stop()
  }
}
