package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables
import graft.queries.Registry

class DimBroadcastRuleSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def withAutoBroadcastOff[T](f: => T): T = {
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def withMaxBytes[T](bytes: Long)(f: => T): T = {
    s.conf.set(DimBroadcastRule.maxBytesConf, bytes.toString)
    try f finally s.conf.unset(DimBroadcastRule.maxBytesConf)
  }

  test("a dim-table build side broadcasts even with auto-broadcast off " +
    "and no explicit hint") {
    withAutoBroadcastOff {
      val joined = Tables.lineitem(s, sf)
        .join(Tables.part(s, sf), col("l_partkey") === col("p_partkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(800))
      // and the join still answers correctly
      assert(joined.count() == 6000)
    }
  }

  test("fact-to-fact joins are left alone (no false broadcasts)") {
    withAutoBroadcastOff {
      val plan = Tables.lineitem(s, sf)
        .join(Tables.orders(s, sf), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
      assert(plan.contains("SortMergeJoin"), plan.take(800))
    }
  }

  /** Whether the static physical plan of `df` broadcasts a build side
    * that scans `dim`'s parquet file. */
  private def broadcastsDim(df: DataFrame, dim: String): Boolean =
    df.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec =>
        val build = if (j.buildSide == BuildRight) j.right else j.left
        build.collectLeaves().exists {
          case scan: FileSourceScanExec =>
            scan.relation.location.rootPaths
              .exists(_.toString.endsWith(s"/$dim.parquet"))
          case _ => false
        }
    }.contains(true)

  // The registered joins against a SCALING dim: the rule alone decides
  // whether each broadcasts.
  private val scalingDimJoins = Seq(
    "j3_broadcast_inner" -> "part",
    "j4_left_using" -> "part",
    "a8_dashboard_revenue" -> "customer")

  test("registered scaling-dim joins (j3, j4, a8) broadcast their dim " +
    "under the default bound") {
    withAutoBroadcastOff {
      scalingDimJoins.foreach { case (name, dim) =>
        val df = Registry.named(name).run(s, sf)
        assert(broadcastsDim(df, dim),
          s"$name: $dim not broadcast\n${df.queryExecution.sparkPlan}")
      }
    }
  }

  test("registered scaling-dim joins (j3, j4, a8) do not broadcast their " +
    "dim at maxBytes = 1") {
    withAutoBroadcastOff {
      withMaxBytes(1L) {
        scalingDimJoins.foreach { case (name, dim) =>
          val df = Registry.named(name).run(s, sf)
          assert(!broadcastsDim(df, dim),
            s"$name: $dim broadcast\n${df.queryExecution.sparkPlan}")
        }
      }
    }
  }

  test("a scaling dim over the bound degrades to a shuffle join and still " +
    "answers correctly") {
    withAutoBroadcastOff {
      withMaxBytes(1L) {
        // j3's shape: fact x scaling dim. With the bound at 1 byte the
        // rule must not hint — the plan has to shuffle, not broadcast.
        val joined = Tables.lineitem(s, sf)
          .join(Tables.part(s, sf), col("l_partkey") === col("p_partkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
        assert(plan.contains("SortMergeJoin") ||
          plan.contains("ShuffledHashJoin"), plan.take(800))
        assert(joined.count() == 6000)
      }
    }
  }

  test("bounded dims (nation/region) still broadcast when the scaling " +
    "bound is exhausted") {
    withAutoBroadcastOff {
      withMaxBytes(1L) {
        val plan = Tables.supplier(s, sf)
          .join(Tables.nation(s, sf),
            col("s_nationkey") === col("n_nationkey"))
          .queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"), plan.take(800))
      }
    }
  }

  test("an explicit user hint still wins (rule only fills empty hints)") {
    withAutoBroadcastOff {
      // user explicitly broadcasts the LEFT side; rule must not fight it
      val plan = broadcast(Tables.nation(s, sf))
        .join(Tables.supplier(s, sf),
          col("n_nationkey") === col("s_nationkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"))
    }
  }
}
