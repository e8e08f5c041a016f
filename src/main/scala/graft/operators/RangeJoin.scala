package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-interval (range) join WITHOUT a nested-loop: Spark compiles
  * a bare `p BETWEEN s AND e` join predicate to
  * BroadcastNestedLoopJoin — O(|points| × |intervals|) compares, and a
  * driver OOM the moment the interval side outgrows the broadcast
  * threshold (at 100 TB both sides scale: every event against every
  * promo/session/validity window). The standard fix, bucketized here:
  *
  *  1. pick a bucket width `W` on the point domain;
  *  2. a point maps to ONE bucket `floor(p / W)`;
  *  3. an interval explodes into its covered buckets
  *     `floor(s / W) .. floor(e / W)`;
  *  4. equi-join on bucket (ONE hash shuffle Catalyst plans like any
  *     other), then the exact BETWEEN filter inside matches.
  *
  * Exactly the semantics of the naive predicate (RangeJoinSpec pins
  * equality and bucket-width invariance) at cost
  * |points| + Σ(width_i/W + 1) shuffled rows instead of the product.
  * `W` trades fan-out against selectivity: W ≈ the median interval
  * width keeps the explode factor ~2 while a bucket pairs each point
  * with only its candidate intervals. Degenerate intervals (`e < s`)
  * are DROPPED before the explode — Spark's `sequence(a, b)` runs
  * DESCENDING when `b < a` (the l13 guard), which would fabricate
  * buckets for an empty interval.
  *
  * Bucketing is EXACT integer floor division over the full BIGINT
  * domain: `floor(p / W)` with SQL `/` is DOUBLE division, exact only
  * while |p| < 2^53 — an epoch-NANOS domain (~2^60 today) overflows the
  * mantissa, a boundary point rounds into the adjacent bucket, and the
  * BETWEEN filter silently drops a true match. Subtracting the
  * nonnegative `pmod` first makes the numerator exactly divisible, so
  * integral `div` IS the floor — for negative domains too (-1 with
  * W=86400 buckets to -1, not 0). Valid for p ≥ Long.MinValue + W;
  * RangeJoinSpec pins a 2^60 epoch-nanos case on bucket edges.
  */
object RangeJoin {

  /** Pass as `salt` to have [[pointInInterval]] pick the split factor
    * itself from a one-pass pre-aggregation (see [[chooseSalt]]).
    */
  val AutoSalt: Int = -1

  /** Exact `floor(colName / W)` for BIGINT, as generated SQL (the
    * integral `div` operator has no Column-API surface).
    */
  private def bucketOf(colName: String, w: Long): Column =
    expr(s"(`$colName` - pmod(`$colName`, ${w}L)) div ${w}L")

  private def hasMapType(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType =>
      s.fields.exists(f => hasMapType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType =>
      hasMapType(a.elementType)
    case _ => false
  }

  /** Auto-salt pre-aggregation: ONE approx pass over the points
    * decides how many ways to split each bucket. The skew this cures is
    * output-blowup skew on a FEW live buckets (the sf5 probe: ~27 live
    * hour-buckets → ~27 single-task partitions at kilobytes of reducer
    * INPUT, so AQE's byte-based detector never fires). Sizing:
    *  - slices per bucket so that live_buckets × salt ≈
    *    `Oversub` × the shuffle parallelism target. Matching the
    *    target 1:1 is NOT enough here: a range-join reducer's cost is
    *    its join OUTPUT, which AQE cannot rebalance after the fact, so
    *    several slices per core is what keeps the tail task short
    *    (measured on the sf5 fixture: 1×-target salt=2 → maxTask
    *    2.9 s; 8× salt → maxTask 1.2 s, total 2.4 s vs 4.3 s);
    *  - no finer than the mean points-per-bucket (a slice below ~1 row
    *    is pure interval-replication waste);
    *  - capped at 64 (replication of the exploded interval side scales
    *    linearly with salt — the probe showed returns flat well below
    *    the cap). Cost: one codegen'd scan of the point side — noise
    * next to the join it tunes, and the same spirit as
    * DimBroadcastRule's size-aware threshold.
    */
  private val Oversub = 8L

  def chooseSalt(points: DataFrame, pointCol: String,
                 bucketWidth: Long): Int = {
    val r = points.agg(
      approx_count_distinct(bucketOf(pointCol, bucketWidth)).as("live"),
      count(lit(1)).as("n")).head()
    val live = math.max(1L, r.getLong(0))
    val n = r.getLong(1)
    val target = points.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val bySlots = (Oversub * target + live - 1) / live
    val byRows = math.max(1L, n / live)
    math.max(1L, math.min(64L, math.min(bySlots, byRows))).toInt
  }

  /** `salt` > 1 splits every bucket `salt` ways — points take a
    * deterministic salt from a hash of their WHOLE row, intervals
    * replicate across all salts (they cannot know which points will
    * probe them; the operators/Skew.scala replicate-the-small-side
    * trade). Hashing the full row, not the point value: millions of
    * events sharing one timestamp (the very hot-bucket shape this
    * cures) would all hash to ONE salt and keep the skew; any other
    * column distinguishes them. Correctness is salt-ASSIGNMENT-
    * invariant by construction (every interval meets every salt), so
    * even fully-duplicate rows sharing a slice only costs balance,
    * never matches. `salt = AutoSalt` derives the factor from a
    * one-pass pre-agg ([[chooseSalt]]).
    *
    * `broadcastIntervals` hints the exploded interval side around the
    * sort-merge path entirely (right whenever it fits an executor —
    * the stats on a Generate output are too poor for Catalyst to pick
    * this itself): the join inherits the point scan's parallelism and
    * no `__b` exchange exists to skew.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointCol: String, startCol: String, endCol: String,
                      bucketWidth: Long, salt: Int = 1,
                      broadcastIntervals: Boolean = false): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    require(salt >= 1 || salt == AutoSalt,
      s"salt must be >= 1 (or AutoSalt), got $salt")
    // under broadcastIntervals there is no __b/__s exchange for salt to
    // rebalance — the join inherits the point scan's partitioning — so
    // auto must choose 1 (any salt > 1 only multiplies the broadcast
    // build). An EXPLICIT salt with broadcast is honored as requested
    // (spec-pinned equality) but is equally pointless.
    val nSalt =
      if (salt == AutoSalt)
        if (broadcastIntervals) 1
        else chooseSalt(points, pointCol, bucketWidth)
      else salt
    // salt from the HASHABLE columns of the row (xxhash64 rejects
    // MapType — a map-typed payload column must not break the join);
    // pointCol is always in the set, so the degenerate all-map case
    // cannot arise
    val hashable = points.schema.fields
      .filter(f => !hasMapType(f.dataType)).map(f => col(f.name))
    val p = points
      .withColumn("__b", bucketOf(pointCol, bucketWidth))
      .withColumn("__s",
        if (nSalt > 1)
          pmod(xxhash64(hashable.toIndexedSeq: _*), lit(nSalt.toLong))
        else lit(0L))
    val i0 = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__bs", bucketOf(startCol, bucketWidth))
      .withColumn("__be", bucketOf(endCol, bucketWidth))
      .withColumn("__b", explode(expr("sequence(__bs, __be)")))
      .drop("__bs", "__be")
    val i1 =
      if (nSalt > 1)
        i0.withColumn("__s",
          explode(expr(s"sequence(0L, ${nSalt - 1}L)")))
      else i0.withColumn("__s", lit(0L))
    val i = if (broadcastIntervals) broadcast(i1) else i1
    p.join(i, Seq("__b", "__s"))
      .filter(col(pointCol) >= col(startCol) &&
        col(pointCol) <= col(endCol))
      .drop("__b", "__s")
  }
}
