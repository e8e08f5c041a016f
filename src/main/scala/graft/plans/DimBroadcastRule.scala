package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.catalyst.plans.logical.BROADCAST

/** Optimizer rule (SURVEY §7.5's custom-`Rule` tier): force a broadcast
  * hint onto join build sides that scan known DIMENSION tables.
  *
  * Why a rule and not just size stats: Catalyst's auto-broadcast trusts
  * `sizeInBytes`, which lies for wide-but-short dims behind filters or
  * column-pruned scans, and disappears entirely when operators without
  * stats propagation sit in between. Warehouse dims are broadcastable by
  * DESIGN — encoding that domain fact as a rule survives stat estimation
  * misses.
  *
  * Two tiers of "dim", because they scale differently:
  *  - BOUNDED dims (nation: 25 rows, region: 5) have schema-fixed
  *    cardinality at any SF — always hinted.
  *  - SCALING dims (customer/part/supplier grow linearly with SF) are
  *    hinted only while their size estimate stays under
  *    [[DimBroadcastRule.maxBytesConf]]; past the bound the rule stands
  *    down and the planner shuffles — at the 100 TB north star, customer
  *    is terabytes and a forced hint would OOM the driver, where an
  *    unguarded `broadcast()` at the call site would override the size
  *    check. The estimate is `plan.stats.sizeInBytes` — file-size based
  *    for parquet scans, no job is triggered.
  *
  * The rule only fills EMPTY hints, so a call-site `broadcast()` (or any
  * other strategy hint) always wins. Dims that are not file scans —
  * e.g. Gold's RDD-backed surrogate-keyed dims — are never hinted here;
  * AQE's runtime conversion broadcasts those from actual sizes.
  *
  * The dim list is name-based over the scanned file paths (our testdata
  * and gold-layer naming); a production deployment would key on catalog
  * table properties instead.
  */
class DimBroadcastRule extends Rule[LogicalPlan] {

  private val boundedDims = Set("nation", "region")
  private val scalingDims = Set("supplier", "part", "customer")

  private def scansOnly(plan: LogicalPlan, dims: Set[String]): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val paths = fs.location.rootPaths.map(_.toString)
        paths.nonEmpty && paths.forall(p =>
          dims.exists(d => p.endsWith(s"$d.parquet") || p.contains(s"/$d/")))
      case _ => false
    }
  }

  private def maxBytes: BigInt = BigInt(conf.getConfString(
    DimBroadcastRule.maxBytesConf,
    DimBroadcastRule.defaultMaxBytes.toString))

  private def broadcastable(plan: LogicalPlan): Boolean =
    scansOnly(plan, boundedDims) ||
      (scansOnly(plan, boundedDims ++ scalingDims) &&
        plan.stats.sizeInBytes <= maxBytes)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(_, right, Inner | LeftOuter, _, hint)
        if hint.rightHint.isEmpty && broadcastable(right) =>
      j.copy(hint = hint.copy(rightHint =
        Some(HintInfo(strategy = Some(BROADCAST)))))
  }
}

object DimBroadcastRule {

  /** Session conf key bounding what the rule broadcasts among SCALING
    * dims, in bytes of estimated plan size.
    */
  val maxBytesConf = "spark.graft.dimBroadcast.maxBytes"

  /** 512 MiB: generous next to Spark's 10 MB auto-broadcast default —
    * the point of hinting dims is that stats under- or over-shoot for
    * wide-but-short tables — but far below executor/driver heap, so a
    * mis-hint degrades performance, not stability.
    */
  val defaultMaxBytes: Long = 512L * 1024 * 1024
}
