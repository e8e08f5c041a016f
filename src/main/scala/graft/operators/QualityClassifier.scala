package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED document-quality classifier — the learned upgrade of the l8
  * heuristic scorer (CCNet/DCLM-style pipelines train a linear scorer
  * instead of hand-tuning thresholds; reference scope ends at heuristic
  * feature engineering, `scripts/text_fe.py`).
  *
  * Model: logistic regression with the HARD sigmoid
  * `sigma(t) = clamp(1/2 + t/4, 0, 1)` over hashed token PRESENCE
  * features (hashing trick, `poly_hash(token) % F` buckets, binary
  * per-bucket presence + bias — binary rather than raw counts because
  * raw counts condition the GD problem on document length and stall
  * convergence at the base rate; with x in {0,1} every feature has the
  * same scale and two dozen full-batch steps separate the classes),
  * trained by full-batch gradient descent ENTIRELY IN FIXED-POINT
  * INTEGERS (scale 2^16). Every quantity — logits, sigmoid outputs,
  * errors, gradients, weight updates — is an exact BIGINT, so:
  *  - training is bit-deterministic under ANY partitioning or engine
  *    (integer sums are associative-commutative; no float partial-order
  *    nondeterminism anywhere), and
  *  - a DuckDB oracle replays the identical iterations as unrolled CTEs
  *    and must land on the identical weight vector (l31) and the
  *    identical kept-set (l31s) — the l24 bit-arithmetic discipline
  *    applied to model TRAINING, not just inference.
  *
  * Training labels are self-supervised (the CCNet trick of training
  * against a known-good reference corpus, reduced to this engine's
  * deterministic world): y = 1 iff the doc has >= `stopMin` stopword
  * occurrences — an integer rule the classifier then generalizes through
  * the hashed features.
  *
  * Scale shape: ONE corpus pass builds the cached per-doc feature
  * vector table (1 row/doc, F+1 small ints). Each of the `iters`
  * iterations is ONE job over it — the current weights are inlined as
  * LITERALS (driver-held, F+1 longs), the logit/error arithmetic is a
  * codegen'd projection, and the gradient is a posexplode +
  * groupBy(pos) over F+1 keys (map-side combinable, F+1-row shuffle).
  * No per-iteration join, no window, no driver data besides the F+1
  * gradient row. BIGINT headroom: |err| <= 2^16 and |x_j| <= 1, so a
  * gradient sum is bounded by 2^16 * n_docs — overflow needs > 2^47
  * documents, four orders past the 100 TB design point.
  */
object QualityClassifier {

  /** Fixed-point scale (2^16). */
  val Scale = 65536L
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  final case class Config(nFeatures: Int = 32, iters: Int = 24,
                          lrDen: Long = 2L, stopMin: Long = 3L)

  /** Per-doc feature table: (doc, y, x) with x = F hashed-bucket token
    * PRESENCE bits + trailing bias 1. Keeps every doc (empty ones get
    * the all-zero vector) and any extra `carry` columns. ONE map-side-
    * combinable aggregation straight to the doc grain: each presence
    * bit is max(j = jj) — F+1 small codegen'd aggregates, no HOFs over
    * corpus tokens and no per-bucket intermediate (the previous
    * two-stage (doc, j) -> doc shape paid a second corpus shuffle plus
    * a collect_list/map_from_entries per doc for values only ever
    * consumed as presence bits).
    *
    * CODEGEN BOUND (round-16 verdict item 9): whole-stage codegen
    * bails when an operator's schema exceeds
    * `spark.sql.codegen.maxFields` (default 100) — a silent 10-20x
    * interpreted-evaluation cliff. This aggregate carries F+2 fields
    * (F presence bits + __stop + the group key), so the registered
    * F=32 sits at ~34/100 with 3x headroom; F > ~97 would fall out.
    * Anyone raising nFeatures past the conf must either raise
    * maxFields with it or revert to the two-stage (doc, j) -> doc
    * shape (narrow schema, one extra shuffle). QualityClassifierSpec
    * pins "featurize's aggregates stay whole-stage-compiled at the
    * registered config" so a drift out of codegen fails CI, not the
    * 100 TB run.
    */
  def featurize(docs: DataFrame, idCol: String, textCol: String,
                cfg: Config, carry: Seq[String] = Nil): DataFrame = {
    val carryCols = carry.map(col)
    val bits = (0 until cfg.nFeatures).map(jj =>
      max(when(col("j") === jj, 1L).otherwise(0L)).as(s"__b$jj"))
    docs
      .select(col(idCol).as("doc") +: carryCols :+
        explode_outer(expr(TextAnalysis.wordsSql(textCol))).as("t"): _*)
      .withColumn("j",
        when(col("t").isNotNull,
          pmod(expr("poly_hash(t)"), lit(cfg.nFeatures)).cast("long")))
      .groupBy(col("doc") +: carryCols: _*)
      .agg(bits.head, bits.tail :+
        sum(when(col("t").isin(Stopwords: _*), 1L).otherwise(0L))
          .as("__stop"): _*)
      .withColumn("y",
        when(col("__stop") >= cfg.stopMin, 1L).otherwise(0L))
      .withColumn("x", array(
        (0 until cfg.nFeatures).map(jj => col(s"__b$jj")) :+ lit(1L): _*))
      .drop((0 until cfg.nFeatures).map(jj => s"__b$jj") :+ "__stop": _*)
  }

  /** Truncate-toward-zero integer division as a SQL fragment (Spark DIV
    * truncates; the oracle mirrors with abs//abs so both engines agree
    * on negative operands).
    */
  private def trunc(num: String, den: String): String =
    s"(CASE WHEN $num >= 0 THEN $num DIV ($den) " +
      s"ELSE -((-($num)) DIV ($den)) END)"

  /** Hard sigmoid in fixed point: clamp(S/2 + z/4, 0, S). */
  private def sigmaFp(z: String): String =
    s"GREATEST(CAST(0 AS BIGINT), LEAST(CAST($Scale AS BIGINT), " +
      s"CAST(${Scale / 2} AS BIGINT) + ${trunc(z, "4")}))"

  /** Inline logit of the literal weight vector: x[1]*w0 + ... (codegen,
    * no HOF, no join).
    */
  private def zSql(w: Array[Long]): String =
    w.zipWithIndex
      .map { case (wv, i) => s"element_at(x, ${i + 1}) * ${wv}L" }
      .mkString(" + ")

  /** Train on `feats` (from [[featurize]]); returns the F+1 weight
    * vector after `iters` full-batch steps. `feats` should be cached by
    * the caller if it will be reused for scoring.
    *
    * Iteration cost discipline (round 16): the `iters` tiny full-batch
    * jobs are driver-latency-bound, so
    *  - the current weights enter as a broadcast ONE-ROW frame
    *    (`__w` array column) instead of inlined literals — the plan
    *    (and the generated whole-stage code) is then byte-identical
    *    across iterations and Spark's codegen compile cache hits 23 of
    *    24 times, where the literal form re-compiled per step;
    *  - the feature table is coalesced (narrow — reads the caller's
    *    cache) to ~64 MB per task, floored at 1 and capped at the
    *    session parallelism, so the gate-SF table (a few MB) stops
    *    paying `cores` near-empty tasks per step while a corpus-sized
    *    table keeps full parallelism. Integer arithmetic and term
    *    order are unchanged — the weight vector is bit-identical.
    */
  def train(feats: DataFrame, cfg: Config): Array[Long] = {
    val spark = feats.sparkSession
    val n = feats.count()
    require(n > 0, "empty training corpus")
    val rowBytes = 8L * (cfg.nFeatures + 2) + 32L
    val k = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (n * rowBytes + (64L << 20) - 1) / (64L << 20))).toInt
    val f = feats.coalesce(k)
    var w = Array.fill(cfg.nFeatures + 1)(0L)
    val zS = (0 to cfg.nFeatures)
      .map(i => s"element_at(x, ${i + 1}) * element_at(__w, ${i + 1})")
      .mkString(" + ")
    val errCol = expr(s"y * ${Scale}L - ${sigmaFp(s"($zS)")}")
    // gradient = F+1 independent integer sums — ONE fully-codegen'd
    // global aggregation (partials merge map-side, a single row per
    // partition reaches the driver); the error is projected once per
    // row so the logit isn't recomputed per feature column
    val gradCols = (0 to cfg.nFeatures).map(j =>
      sum(expr(s"err * element_at(x, ${j + 1})")).as(s"g$j"))
    for (_ <- 1 to cfg.iters) {
      import spark.implicits._
      val wDf = Seq(Tuple1(w.toSeq)).toDF("__w")
      val row = f.crossJoin(broadcast(wDf))
        .select(errCol.as("err"), col("x"))
        .agg(gradCols.head, gradCols.tail: _*).head()
      w = w.zipWithIndex.map { case (wv, j) =>
        val g = row.getLong(j)
        val den = cfg.lrDen * n
        wv + (if (g >= 0) g / den else -((-g) / den))
      }
    }
    w
  }

  /** `feats` scored by a weight vector: adds integer `z` and boolean
    * `kept` (sigma(z) >= 1/2 <=> z >= 0). Map-only.
    */
  def score(feats: DataFrame, w: Array[Long]): DataFrame =
    feats
      .withColumn("z", expr(s"CAST(${zSql(w)} AS BIGINT)"))
      .withColumn("kept", col("z") >= 0L)

  // ---------------------------------------------------------------------
  // DuckDB oracle: identical fixed-point iterations, unrolled.
  // ---------------------------------------------------------------------

  private def duckPolyHash(t: String): String =
    s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
        list_transform(range(1, length($t) + 1),
          i -> CAST(ascii($t[i]) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 1073741789)"""

  private def duckTrunc(num: String, den: String): String =
    s"(CASE WHEN $num >= 0 THEN $num // ($den) " +
      s"ELSE -((-($num)) // ($den)) END)"

  private def duckSigma(z: String): String =
    s"GREATEST(CAST(0 AS BIGINT), LEAST(CAST($Scale AS BIGINT), " +
      s"CAST(${Scale / 2} AS BIGINT) + ${duckTrunc(z, "4")}))"

  /** CTE chain `docvec, c, w0, z1, e1, g1, w1, ..., w{iters}`. */
  def oracleCtes(textCol: String, cfg: Config): String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    val f = cfg.nFeatures
    val js = (0 to f).map(j => s"($j)").mkString(", ")
    val head =
      s"""docvec AS MATERIALIZED (SELECT doc_id, lang, y,
         #  list_append(list_transform(range(0, $f), jj ->
         #    CASE WHEN len(list_filter(hs, h -> h % $f = jj)) > 0
         #      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
         #    CAST(1 AS BIGINT)) AS x
         #  FROM (SELECT doc_id, lang,
         #    list_transform(${TextAnalysis.wordsDuckSql(textCol)},
         #      t -> ${duckPolyHash("t")}) AS hs,
         #    CASE WHEN len(list_filter(
         #        ${TextAnalysis.wordsDuckSql(textCol)},
         #        t -> list_contains([$stops], t))) >= ${cfg.stopMin}
         #      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
         #    FROM documents)),
         #c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docvec),
         #w0 AS MATERIALIZED (SELECT CAST(j AS BIGINT) AS j,
         #  CAST(0 AS BIGINT) AS wv FROM (VALUES $js) t(j))"""
        .stripMargin('#')
    val iters = (1 to cfg.iters).map { t =>
      s"""z$t AS MATERIALIZED (SELECT doc_id, y,
         #  CAST(sum(x[w.j + 1] * w.wv) AS BIGINT) AS z
         #  FROM docvec, w${t - 1} w GROUP BY doc_id, y),
         #e$t AS MATERIALIZED (SELECT doc_id,
         #  y * ${Scale} - ${duckSigma("z")} AS err FROM z$t),
         #g$t AS (SELECT w.j AS j,
         #  CAST(sum(e.err * d.x[w.j + 1]) AS BIGINT) AS grad
         #  FROM e$t e JOIN docvec d USING (doc_id), w0 w GROUP BY w.j),
         #w$t AS MATERIALIZED (SELECT w.j,
         #  CAST(w.wv + ${duckTrunc("g.grad", s"${cfg.lrDen} * c.n")}
         #    AS BIGINT) AS wv
         #  FROM w${t - 1} w JOIN g$t g USING (j) CROSS JOIN c)"""
        .stripMargin('#')
    }
    (head +: iters).mkString(",\n")
  }

  /** Oracle for the weight-vector query: (j, w). */
  def oracleWeightsSql(textCol: String, cfg: Config): String =
    s"""WITH ${oracleCtes(textCol, cfg)}
       #SELECT j, wv AS w FROM w${cfg.iters}""".stripMargin('#')

  /** Oracle for the scoring query: per-lang doc/kept/label counts. */
  def oracleScoreSql(textCol: String, cfg: Config): String =
    s"""WITH ${oracleCtes(textCol, cfg)},
       #scored AS (SELECT d.lang, d.y,
       #  CAST(sum(d.x[w.j + 1] * w.wv) AS BIGINT) AS z
       #  FROM docvec d, w${cfg.iters} w GROUP BY d.doc_id, d.lang, d.y)
       #SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       #  CAST(sum(CASE WHEN z >= 0 THEN 1 ELSE 0 END) AS BIGINT)
       #    AS n_kept,
       #  CAST(sum(y) AS BIGINT) AS n_pos_label
       #FROM scored GROUP BY lang""".stripMargin('#')
}
