package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DoReMi-style domain mixture-weight learning (Xie et al. 2023,
  * arXiv:2305.10429): upweight the domains where a generalist model is
  * most behind a domain specialist — "excess loss" — via multiplicative
  * weights, producing the sampling mixture a training run feeds its
  * data loader.
  *
  * Engine adaptation, kept bit-deterministic end to end:
  *
  *  - The proxy/reference loss pair is the corpus-trained GLOBAL
  *    unigram bit-surprisal vs the PER-DOMAIN unigram bit-surprisal
  *    (the integer-bitlen machinery of l24 — `ln()` would not
  *    hash-match across libms). Per-token excess is clipped at 0
  *    (the paper's max(0, ·)).
  *  - The paper's exp(η·excess) update is linearized to scaled-BIGINT
  *    multiplicative weights with uniform smoothing — the l31
  *    fixed-point discipline: every iteration is exact integer
  *    arithmetic, so DuckDB replays ALL of them to the identical
  *    weight vector (documented deviation from exact exponentiated
  *    gradient; for η·excess ≪ 1 they agree to first order).
  *
  * Scale shape: ONE distributed pass owns the corpus-sized work (token
  * explode, two count aggregations, the excess sum — all map-side
  * combinable, broadcast-joined vocabularies exactly like l24; swap the
  * vocab broadcasts for hashed-key shuffle joins when vocabulary size
  * outgrows the driver). The iterations touch K = |domains| rows and
  * run driver-side — DoReMi's weight math IS tiny; its cost lives in
  * the loss passes.
  *
  * Update, all BIGINT (S = weight scale, C = S·uniformPct/100):
  * {{{
  *   excess_milli(d) = 1000 · Σ max(0, bits_g − bits_d) DIV n_tok(d)
  *   w₀(d)   = S DIV K
  *   tmp(d)  = w(d) · (1000 + etaMilli · excess_milli(d) DIV 1000)
  *   w'(d)   = (S − C) · tmp(d) DIV Σ tmp + C DIV K
  * }}}
  */
object DomainMix {

  val Scale = 1000000L

  /** Per-domain excess-loss statistics: (domain, n_tokens,
    * excess_milli) — the one corpus-scale pass. bits_g(t) =
    * bitlen(T_g) − bitlen(c_g(t)); bits_d likewise under the domain's
    * own counts.
    */
  def domainExcess(docs: DataFrame, textCol: String,
                   domainCol: String): DataFrame = {
    val toks = docs.select(col(domainCol).as("dom"),
      explode(TextAnalysis.tokens(textCol)).as("t"))
    val vocabG = toks.groupBy("t").agg(count(lit(1)).as("cg"))
    val totalG = vocabG.agg(sum("cg").cast("long").as("tg"))
    val vocabD = toks.groupBy("dom", "t").agg(count(lit(1)).as("cd"))
    val totalD = vocabD.groupBy("dom").agg(sum("cd").cast("long").as("td"))
    toks
      .join(broadcast(vocabG), Seq("t"))
      .join(broadcast(vocabD), Seq("dom", "t"))
      .join(broadcast(totalD), Seq("dom"))
      .crossJoin(broadcast(totalG))
      .select(col("dom"),
        greatest(lit(0L),
          (length(expr("bin(tg)")) - length(expr("bin(cg)"))).cast("long")
            - (length(expr("bin(td)")) - length(expr("bin(cd)")))
              .cast("long")).as("ex"))
      .groupBy("dom")
      .agg(count(lit(1)).as("n_tokens"),
        sum("ex").cast("long").as("sum_excess"))
      .select(col("dom"), col("n_tokens"), col("sum_excess"),
        expr("1000 * sum_excess DIV n_tokens").as("excess_milli"))
  }

  /** The full operator: excess pass + `iters` multiplicative-weight
    * iterations. Returns one row per domain: the excess statistics and
    * the final scaled weight. Deterministic output order is the
    * caller's sort; weights depend only on the (domain, excess) set.
    */
  def domainWeights(docs: DataFrame, textCol: String, domainCol: String,
                    iters: Int, etaMilli: Long = 100L,
                    uniformPct: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    val ex = domainExcess(docs, textCol, domainCol)
    val rows = ex.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val k = rows.length.toLong
    // fail loudly at the call site, not with a bare /-by-zero deep in
    // the weight loop: an empty corpus has no domains to weight, and
    // k > Scale would truncate every initial weight to 0 (making the
    // first iteration's sumTmp zero — another division by zero)
    require(k > 0, "domainWeights: corpus has no domains " +
      "(empty input, or every doc tokenizes to zero tokens)")
    require(k <= Scale, s"domainWeights: $k domains exceeds the " +
      s"fixed-point scale $Scale — initial weights would truncate to 0")
    val c = Scale * uniformPct / 100L
    var w = rows.map(_ => Scale / k)
    for (_ <- 1 to iters) {
      val tmp = w.zip(rows).map { case (wd, (_, _, _, exm)) =>
        wd * (1000L + etaMilli * exm / 1000L)
      }
      val sumTmp = tmp.sum
      w = tmp.map(t => (Scale - c) * t / sumTmp + c / k)
    }
    import spark.implicits._
    rows.zip(w).map { case ((dom, nTok, sumEx, exm), wd) =>
      (dom, nTok, sumEx, exm, wd)
    }.toSeq.toDF(domainCol, "n_tokens", "sum_excess", "excess_milli",
      "w_scaled")
  }

  /** DuckDB mirror: the same excess pass + the same `iters` unrolled
    * iterations, every operation integer-exact. `docsRel` must expose
    * (text, `domainCol`).
    */
  def oracleSql(domainCol: String, iters: Int, etaMilli: Long = 100L,
                uniformPct: Long = 2L): String = {
    val c = s"(${Scale} * $uniformPct // 100)"
    // every iteration CTE is MATERIALIZED: tmp$t is referenced twice
    // (rows + the sum subquery) and w$t feeds the next iteration —
    // default CTE inlining would re-expand the whole chain per
    // reference, exponentially (the GraphRank.oracleSql lesson,
    // re-learned live: the un-materialized form ground for minutes at
    // sf0.01)
    val iterCtes = (1 to iters).map { t =>
      s"""tmp$t AS MATERIALIZED (SELECT dom, n_tokens, sum_excess,
           excess_milli,
           CAST(w * (1000 + $etaMilli * excess_milli // 1000)
             AS BIGINT) AS tmp
           FROM w${t - 1}),
         w$t AS MATERIALIZED (SELECT dom, n_tokens, sum_excess,
           excess_milli,
           CAST((${Scale} - $c) * tmp
             // (SELECT CAST(sum(tmp) AS BIGINT) FROM tmp$t)
             + $c // kk.k AS BIGINT) AS w
           FROM tmp$t CROSS JOIN kk)"""
    }.mkString(",\n")
    s"""WITH toks AS MATERIALIZED (SELECT $domainCol AS dom,
          unnest(${TextAnalysis.tokensDuckSql("text")}) t
          FROM documents),
        vg AS (SELECT t, CAST(count(*) AS BIGINT) cg FROM toks GROUP BY t),
        tg AS (SELECT CAST(sum(cg) AS BIGINT) tg FROM vg),
        vd AS (SELECT dom, t, CAST(count(*) AS BIGINT) cd
          FROM toks GROUP BY dom, t),
        td AS (SELECT dom, CAST(sum(cd) AS BIGINT) td FROM vd GROUP BY dom),
        exs AS (SELECT q.dom,
            greatest(CAST(0 AS BIGINT),
              CAST(length(bin(tg)) - length(bin(cg)) AS BIGINT)
                - CAST(length(bin(td)) - length(bin(cd)) AS BIGINT)) ex
          FROM toks q JOIN vg ON vg.t = q.t
            JOIN vd ON vd.dom = q.dom AND vd.t = q.t
            JOIN td ON td.dom = q.dom CROSS JOIN tg),
        e AS MATERIALIZED (SELECT dom, CAST(count(*) AS BIGINT) n_tokens,
            CAST(sum(ex) AS BIGINT) sum_excess,
            1000 * CAST(sum(ex) AS BIGINT)
              // CAST(count(*) AS BIGINT) AS excess_milli
          FROM exs GROUP BY dom),
        kk AS (SELECT CAST(count(*) AS BIGINT) k FROM e),
        w0 AS (SELECT e.*, CAST(${Scale} // kk.k AS BIGINT) AS w
          FROM e CROSS JOIN kk),
        $iterCtes
        SELECT dom AS $domainCol, CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST(sum_excess AS BIGINT) AS sum_excess,
          CAST(excess_milli AS BIGINT) AS excess_milli,
          CAST(w AS BIGINT) AS w_scaled FROM w$iters"""
  }
}
