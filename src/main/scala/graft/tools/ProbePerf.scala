package graft.tools

import graft.core.Sessions
import graft.queries.Registry

/** Dev-only: time one registered query repeatedly and print its plan.
  * args: <queryName> [sfDir] [reps]
  */
object ProbePerf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Sessions.build("probe-perf", Sessions.cpusFromEnv(32))
    val q = Registry.named(name)
    graft.core.Tables.all.foreach { t =>
      try graft.core.Tables.t(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    for (i <- 1 to reps) {
      val secs = QueryRuns.noopSeconds(spark)(q.run(spark, sfDir))
      println(f"PROBE $name rep$i $secs%.2f s")
    }
    println(q.run(spark, sfDir).queryExecution.executedPlan.toString.take(6000))
    spark.stop()
  }
}
