package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data preparation: sequence
  * packing (concat-and-chunk token binning) and per-source quality-quota
  * selection. Both are additive capabilities beyond the reference
  * (which is a sales ETL — no counterpart); they complete the
  * LLM-pipeline family in SURVEY §2.14 next to dedup/sampling/splits.
  *
  * Design rule shared by both: every per-row quantity is an exact
  * integer (token counts, cumulative sums, integer division) so results
  * are bit-identical across engines and cluster layouts — the same
  * reproducibility contract as [[TextAnalysis.splitAssign]].
  */
object CorpusAssembly {

  /** Exact global prefix sum of `valueCol` in `orderCol` order, WITHOUT
    * a global single-partition window (`sum().over(Window.orderBy(...))`
    * collapses the table into one task — fine on bounded frames, fatal
    * on an SF-scaling corpus). Shape:
    *
    *  1. range-partition on the order column (RangePartitioner keeps
    *     partition index aligned with key order);
    *  2. per-partition running sums — a PARTITIONED window, every
    *     partition parallel;
    *  3. per-partition totals (one tiny row per partition) get an
    *     exclusive-prefix offset via a window over the ≤
    *     `spark.sql.shuffle.partitions`-row totals table — bounded by
    *     construction, the x12p bucket-table argument;
    *  4. broadcast-join offsets back and add.
    *
    * Fully lazy and declarative (contrast [[Gold.orderedId]]'s
    * zipWithIndex, which pays eager construction jobs for the same
    * distribution guarantee): Catalyst keeps optimizing through it, and
    * the only global structure is the partition-totals table.
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
                name: String): DataFrame =
    prefixSumCols(df, Seq(orderCol), valueCol, name)

  /** [[prefixSum]] under a composite (lexicographic) order — the same
    * four-step shape, range-partitioned and windowed on ALL the order
    * columns. Callers must make the composite key total (append a
    * unique id) or equal-key rank order is layout-dependent.
    */
  def prefixSumCols(df: DataFrame, orderCols: Seq[String],
                    valueCol: String, name: String): DataFrame = {
    val oc = orderCols.map(col)
    val parted = df.repartitionByRange(oc: _*)
      .withColumn("__pid", spark_partition_id())
    val localW = Window.partitionBy("__pid").orderBy(oc: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withLocal =
      parted.withColumn("__local", sum(col(valueCol)).over(localW))
    // partition totals come from a plain sum, NOT max(running sum) —
    // identical for non-negative values but still correct when the
    // value column can go negative (running sums aren't monotonic then)
    val offsets = parted.groupBy("__pid")
      .agg(sum(col(valueCol)).as("__psum"))
      .withColumn("__offset", coalesce(
        sum("__psum").over(Window.orderBy("__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pid", "__offset")
    withLocal.join(broadcast(offsets), "__pid")
      .withColumn(name, col("__local") + col("__offset"))
      .drop("__pid", "__local")
  }

  /** [[prefixSumCols]] computed INDEPENDENTLY per key group: running
    * sums restart at every distinct `keyCols` value, in `orderCols`
    * order within the group. Same four-step shape (range partition on
    * key+order, per-(partition, key) local sums, bounded totals table,
    * broadcast offsets back) — the offsets window is per key, so no
    * single-partition structure appears at any group count.
    */
  def prefixSumPerKey(df: DataFrame, keyCols: Seq[String],
                      orderCols: Seq[String], valueCol: String,
                      name: String): DataFrame = {
    val kc = keyCols.map(col)
    val oc = orderCols.map(col)
    val parted = df.repartitionByRange((kc ++ oc): _*)
      .withColumn("__pid", spark_partition_id())
    val grpCols = "__pid" +: keyCols
    val localW = Window.partitionBy(grpCols.map(col): _*)
      .orderBy(oc: _*).rowsBetween(Window.unboundedPreceding, 0)
    val withLocal =
      parted.withColumn("__local", sum(col(valueCol)).over(localW))
    val offsets = parted.groupBy(grpCols.map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"))
      .withColumn("__offset", coalesce(
        sum("__psum").over(Window.partitionBy(kc: _*)
          .orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((grpCols :+ "__offset").map(col): _*)
    withLocal.join(broadcast(offsets), grpCols)
      .withColumn(name, col("__local") + col("__offset"))
      .drop("__pid", "__local", "__offset")
  }

  /** Sequence packing, concat-and-chunk style: documents are laid out in
    * deterministic `idCol` order, token counts accumulate, and the token
    * stream is cut into fixed-`budget` bins — how training pipelines
    * pack variable-length documents into fixed-length sample sequences.
    * A document belongs to the bin its FIRST token lands in;
    * `straddles_next` marks documents whose last token falls in a later
    * bin (the cross-boundary fragments a loader would split or mask).
    *
    * All arithmetic is exact-integer (whitespace token counts, prefix
    * sums, `div`), so bin assignment is reproducible on any engine or
    * cluster layout. The global cumsum runs through [[prefixSum]] — no
    * single-partition window at any SF.
    */
  def sequencePack(df: DataFrame, idCol: String, textCol: String,
                   budget: Long): DataFrame = {
    val toks = df.select(col(idCol),
      TextAnalysis.tokenCount(textCol).as("n_tokens"))
    prefixSum(toks, idCol, "n_tokens", "cum_tokens")
      .withColumn("bin",
        expr(s"(cum_tokens - n_tokens) div ${budget}L"))
      .withColumn("straddles_next",
        col("n_tokens") > 0 &&
          expr(s"(cum_tokens - 1) div ${budget}L") > col("bin"))
  }

  /** [[sequencePack]] in the per-shard form (RISKS.md row 5 made real):
    * the corpus is packed SHARD BY SHARD — each shard's running sums
    * are computed independently ([[prefixSumPerKey]]) — and a map-only
    * boundary fixup re-bases every row by its shard's exclusive token
    * offset, so the output is BIT-IDENTICAL to [[sequencePack]] over
    * the (shardCol, idCol) lexicographic order. The fixup must
    * re-divide (global bin = (local_cum + offset − n) div budget), not
    * shift local bin ids: a shard boundary rarely lands on a bin
    * boundary.
    *
    * Why this exists: the global form threads the WHOLE corpus through
    * one range exchange and one lineage — fine per run, but a 100 TB
    * corpus arrives in shards (crawl days, source dumps), and repacking
    * everything per arrival is absurd. Here each shard is its own
    * bounded job, and `baseOffset` is the incremental-append knob: pack
    * a NEW shard alone, passing the token total of everything before
    * it, and its rows come out exactly as a full repack would place
    * them — previously-packed shards are untouched (append-only
    * publishing, the StreamOps delta-log discipline). The only global
    * structure is the shard-totals table (one row per shard; its
    * ordering window is bounded by shard count).
    *
    * Output = [[sequencePack]]'s columns plus `shardCol`.
    */
  def sequencePackSharded(df: DataFrame, shardCol: String, idCol: String,
                          textCol: String, budget: Long,
                          baseOffset: Long = 0L): DataFrame = {
    val toks = df.select(col(shardCol), col(idCol),
      TextAnalysis.tokenCount(textCol).as("n_tokens"))
    val local = prefixSumPerKey(toks, Seq(shardCol), Seq(idCol),
      "n_tokens", "__local_cum")
    val shardOff = toks.groupBy(shardCol)
      .agg(sum("n_tokens").as("__tot"))
      .withColumn("__shard_off", coalesce(
        sum("__tot").over(Window.orderBy(shardCol)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        + lit(baseOffset))
      .select(col(shardCol), col("__shard_off"))
    local.join(broadcast(shardOff), shardCol)
      .withColumn("cum_tokens", col("__local_cum") + col("__shard_off"))
      .drop("__local_cum", "__shard_off")
      .withColumn("bin",
        expr(s"(cum_tokens - n_tokens) div ${budget}L"))
      .withColumn("straddles_next",
        col("n_tokens") > 0 &&
          expr(s"(cum_tokens - 1) div ${budget}L") > col("bin"))
  }

  /** Bin packing, FIRST-FIT-DECREASING style — the packing-quality
    * comparison baseline for [[sequencePack]]: concat-and-chunk wastes
    * budget on straddlers (a doc cut at every bin boundary), while FFD
    * never splits a document — docs are laid out longest-first and each
    * goes to the first bin that still fits it, opening a new bin only
    * when none does. A doc longer than `budget` gets a singleton bin
    * (nothing else ever fits there).
    *
    * Pure FFD is a sequential fold over the whole corpus; the
    * distributed form packs within fixed GROUPS of `groupSize`
    * consecutive ranks of the global (n_tokens desc, id) order — bins
    * never span groups, so each group's fold is BOUNDED (<= groupSize
    * docs, <= groupSize bins) and runs as one interpreted-HOF aggregate
    * per group, every group parallel. Group boundaries are defined by
    * the VALUE-deterministic global rank ([[prefixSum]] over ones — no
    * single-partition window), not by physical partitioning, so the
    * packing is bit-identical on any engine or cluster layout; the
    * quality loss vs global FFD is at most one underfull bin per group.
    * All arithmetic exact-integer. The DuckDB oracle replays the
    * identical fold as a recursive CTE stepping one rank at a time
    * (depth <= groupSize), so l25b is hash-checked end to end.
    *
    * Returns (idCol, n_tokens, grp, bin): bin ids are per-group.
    */
  def packFirstFitDecreasing(df: DataFrame, idCol: String,
                             textCol: String, budget: Long,
                             groupSize: Int = 256): DataFrame = {
    require(groupSize > 0 && budget > 0)
    val toks = df.select(col(idCol).as("doc"),
      TextAnalysis.tokenCount(textCol).as("n"))
      .withColumn("__okey",
        struct((col("n") * lit(-1L)).as("nn"), col("doc")))
      .withColumn("__one", lit(1L))
    val ranked = prefixSum(toks, "__okey", "__one", "rnk")
      .withColumn("grp", expr(s"(rnk - 1) div ${groupSize}L"))
      .withColumn("r", col("rnk") - col("grp") * groupSize)
    val folded = ranked
      .groupBy("grp")
      .agg(expr("array_sort(collect_list(struct(r, n, doc)))").as("ds"))
      // the fold: acc = (bin loads, per-doc bin ids so far); the chosen
      // bin index j is bound ONCE via the transform-over-singleton trick
      .withColumn("st", expr(
        s"""aggregate(ds,
              struct(CAST(array() AS ARRAY<BIGINT>) AS loads,
                     CAST(array() AS ARRAY<BIGINT>) AS bins),
              (acc, d) -> element_at(transform(array(
                  IF(size(acc.loads) = 0, CAST(NULL AS INT),
                     try_element_at(filter(sequence(1, size(acc.loads)),
                       i -> element_at(acc.loads, i) + d.n <= ${budget}L),
                       1))),
                j -> struct(
                  IF(j IS NULL, concat(acc.loads, array(d.n)),
                     transform(acc.loads,
                       (l, i) -> IF(i = j - 1, l + d.n, l))) AS loads,
                  concat(acc.bins, array(CAST(IF(j IS NULL,
                    size(acc.loads) + 1, j) AS BIGINT))) AS bins)), 1))"""))
      .select(col("grp"), explode(expr(
        """zip_with(ds, st.bins,
             (d, b) -> struct(d.doc AS doc, d.n AS n, b AS bin))"""))
        .as("x"))
    folded.select(col("x.doc").as(idCol),
      col("x.n").cast("long").as("n_tokens"), col("grp"),
      col("x.bin").as("bin"))
  }

  /** DuckDB oracle for [[packFirstFitDecreasing]]: identical rank,
    * grouping and fold — the fold as a recursive CTE advancing one
    * rank per step, bin state carried as a list column.
    */
  def packFfdOracleSql(textCol: String, budget: Long,
                       groupSize: Int): String = {
    val fits =
      s"list_filter(range(1, len(p.loads) + 1), " +
        s"q -> p.loads[q] + d.n <= $budget)[1]"
    s"""WITH RECURSIVE scored AS (SELECT doc_id,
       #  CAST(len(${TextAnalysis.tokensDuckSql(textCol)}) AS BIGINT) AS n
       #  FROM documents),
       #rk AS (SELECT doc_id, n, CAST(row_number() OVER
       #    (ORDER BY n DESC, doc_id) AS BIGINT) AS rnk FROM scored),
       #grps AS (SELECT doc_id, n, (rnk - 1) // $groupSize AS grp,
       #  rnk - ((rnk - 1) // $groupSize) * $groupSize AS r FROM rk),
       #cnt AS (SELECT grp, CAST(count(*) AS BIGINT) AS c FROM grps
       #  GROUP BY grp),
       #pack AS (
       #  SELECT grp, CAST(0 AS BIGINT) AS r,
       #    CAST([] AS BIGINT[]) AS loads, CAST([] AS BIGINT[]) AS bins
       #  FROM (SELECT DISTINCT grp FROM grps)
       #  UNION ALL
       #  SELECT p.grp, p.r + 1,
       #    CASE WHEN $fits IS NULL THEN list_append(p.loads, d.n)
       #         ELSE list_transform(range(1, len(p.loads) + 1),
       #           i -> CASE WHEN i = $fits THEN p.loads[i] + d.n
       #                ELSE p.loads[i] END) END,
       #    list_append(p.bins, CAST(coalesce($fits,
       #      len(p.loads) + 1) AS BIGINT))
       #  FROM pack p JOIN grps d ON d.grp = p.grp AND d.r = p.r + 1),
       #done AS (SELECT p.grp, p.bins FROM pack p
       #  JOIN cnt ON cnt.grp = p.grp AND p.r = cnt.c)
       #SELECT d.doc_id, d.n AS n_tokens, d.grp, f.bins[d.r] AS bin
       #FROM grps d JOIN done f ON f.grp = d.grp""".stripMargin('#')
  }

  /** Per-(epoch, id) portable shuffle key: integer LCG over a
    * seed-salted combination, every step positive and < 2^63 (the l19
    * split-assign arithmetic family). The SAME string runs in Spark
    * `expr` and DuckDB (manual pmod — the x14 shared-fragment
    * discipline), which is what makes the epoch permutations
    * engine-exact.
    */
  def epochHashSql(idCol: String, seed: Long): String =
    s"((((($idCol + epoch * 999983 + $seed) % 100000007) + 100000007)" +
      s" % 100000007) * 1103515245 + 12345) % 1000000007"

  /** Deterministic EPOCH SHUFFLE — the loader-order step between corpus
    * assembly and training: for each epoch `1..epochs`, a reproducible
    * pseudo-random permutation of the corpus (`ord` = rank of the
    * per-epoch [[epochHashSql]] key, ties broken by id). Same inputs +
    * seed => the same byte-exact schedule on any engine, cluster
    * layout, or rerun — which is what makes training restarts and
    * data-ablation reruns comparable. A fresh key per epoch (not a
    * rotation of epoch 1) is the standard loader contract.
    *
    * Scale shape: the rank runs through [[prefixSumCols]] under the
    * composite (epoch, h, id) order — a range-partitioned sort, NEVER
    * a per-epoch window funnel (an epoch partition is the whole
    * corpus). The per-epoch offset that localizes the global rank is a
    * broadcast-joined `epochs`-row aggregate. Everything stays lazy.
    */
  def epochOrder(df: DataFrame, idCol: String, epochs: Int,
                 seed: Long = 0L): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    requireIntegralId(df, idCol)
    val keyed = df
      .select(col(idCol), explode(expr(s"sequence(1, $epochs)"))
        .as("epoch"))
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("__h", expr(epochHashSql(idCol, seed)))
      .withColumn("__one", lit(1L))
    val ranked = prefixSumCols(keyed, Seq("epoch", "__h", idCol),
      "__one", "__g")
    val offsets = ranked.groupBy("epoch")
      .agg((min("__g") - 1L).as("__off"))
    ranked.join(broadcast(offsets), "epoch")
      .select(col("epoch"), (col("__g") - col("__off")).as("ord"),
        col(idCol))
  }

  /** Per-id portable sampling key — [[epochHashSql]]'s LCG family
    * without the epoch term. Shared verbatim by the Spark plan and the
    * DuckDB oracle (the x14 shared-fragment discipline).
    */
  def sampleHashSql(idCol: String, seed: Long): String =
    s"(((($idCol + $seed) % 100000007 + 100000007) % 100000007)" +
      s" * 1103515245 + 12345) % 1000000007"

  /** Deterministic SYSTEMATIC weighted sampling: exactly `k` draws with
    * per-document inclusion proportional to an integer weight — the
    * classic survey-sampling scheme (systematic PPS, Madow 1949) in a
    * form that is bit-reproducible on any engine or cluster layout,
    * unlike rejection or exponential-key (Efraimidis-Spirakis) sampling
    * whose ln()/pow() keys inherit libm last-ulp skew. The mixture-
    * assembly complement of [[quotaExact]] (budgeted top-quality) and
    * [[TextAnalysis.splitAssign]] (unweighted rates): "sample k
    * documents proportional to token count" is how a training mix
    * draws from an over-large source without flattening its length
    * distribution.
    *
    * Scheme: lay documents on an integer line in a seed-salted
    * pseudo-random order (the [[sampleHashSql]] LCG — systematic
    * sampling is only unbiased under an order uncorrelated with the
    * weights), each covering `[cum_w - w, cum_w)`; draw at positions
    * `offset + m*step` for `m = 0..k-1` with `step = total div k`,
    * `offset = step div 2`. `n_draws` = draw positions inside the
    * document's interval — a document with `w > step` can legitimately
    * be drawn multiple times (sampling WITH multiplicity; callers
    * wanting at-most-once should cap weights at `step`). Exactly `k`
    * total draws, guaranteed by construction (spec-pinned).
    *
    * All arithmetic is exact-integer (guarded `div` — no floor-vs-
    * truncation divergence on any engine since every dividend is
    * positive). Requires `k <= sum(weights)`; zero/negative-weight rows
    * never draw and are excluded up front.
    *
    * Scale shape: the cumulative line runs through [[prefixSumCols]]
    * (range partition + bounded offsets table — no global window
    * funnel); the totals frame is one broadcast row. Map-only after
    * that: at 100 TB the cost is one sort-shuffle of (id, w) pairs,
    * never the corpus payload.
    */
  def systematicWeightedSample(df: DataFrame, idCol: String,
                               weightCol: String, k: Long,
                               seed: Long = 0L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireIntegralId(df, idCol)
    val keyed = df
      .select(col(idCol), col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("__h", expr(sampleHashSql(idCol, seed)))
    val cum = prefixSumCols(keyed, Seq("__h", idCol), "w", "cum_w")
    val tot = keyed.agg(sum("w").cast("long").as("__tot"))
    cum.crossJoin(broadcast(tot))
      // Fail LOUDLY when k > total weight: `__step` would be 0, the
      // `div __step` expressions would go NULL, and null-skipping
      // least() would silently hand all k draws to the hash-first row
      // (the scaladoc contract violated with sum(n_draws) still == k,
      // so no downstream count check could catch it). assert_true
      // returns NULL on success, so the when() keeps the check inside
      // the evaluated path — a standalone dropped check column would
      // be pruned away and never run.
      .withColumn("__step",
        when(assert_true(col("__tot") >= lit(k),
          lit(s"systematicWeightedSample requires k <= sum(weights); " +
            s"k=$k exceeds the total positive weight")).isNull,
          expr(s"__tot div ${k}L")))
      .withColumn("__off", expr("__step div 2L"))
      .withColumn("n_draws",
        when(col("cum_w") <= col("__off"), lit(0L))
          .otherwise(least(lit(k),
            expr("(cum_w - __off + __step - 1) div __step")))
        - when(col("cum_w") - col("w") <= col("__off"), lit(0L))
          .otherwise(least(lit(k),
            expr("(cum_w - w - __off + __step - 1) div __step"))))
      .select(col(idCol), col("w"), col("cum_w"), col("n_draws"))
  }

  /** Quality scoring shared by both quota forms: `n_tokens` =
    * whitespace token count, `quality` = distinct-token count (lexical
    * diversity) — both exact integers, so every downstream decision is
    * cross-engine reproducible. Public so scale probes can feed
    * synthetic pre-scored frames straight to [[quotaExact]] /
    * [[quotaHistogram]] without measuring the scorer.
    */
  def scoreDocs(df: DataFrame, sourceCol: String, idCol: String,
                textCol: String): DataFrame =
    df.select(col(sourceCol), col(idCol),
      TextAnalysis.tokenCount(textCol).as("n_tokens"),
      expr(s"size(array_distinct(${TextAnalysis.tokensSql(textCol)}))")
        .cast("long").as("quality"))

  /** Exact quota form over a pre-scored frame: rank documents within
    * each source by (`quality` desc, `idCol`) and keep the ranked
    * prefix whose cumulative token count fits `budgetPerSource`. The
    * window partitions by source, so every source ranks in parallel;
    * a single giant source collapses into one window task — that case
    * is [[quotaHistogram]]'s job, with this form as its oracle.
    */
  def quotaExact(scored: DataFrame, sourceCol: String, idCol: String,
                 budgetPerSource: Long): DataFrame = {
    val w = Window.partitionBy(sourceCol)
      .orderBy(col("quality").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens",
        sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("kept", col("cum_tokens") <= budgetPerSource)
  }

  /** Per-source quality-quota selection: within each source, rank
    * documents by a quality score (lexical diversity: distinct
    * whitespace tokens, descending; `idCol` breaks ties) and keep the
    * ranked prefix whose cumulative token count fits `budgetPerSource` —
    * greedy quality-first data mixing under per-domain token quotas.
    * Exact windowed form; [[qualityQuotaSelectHistogram]] makes the
    * same decisions without a per-source global sort.
    */
  def qualityQuotaSelect(df: DataFrame, sourceCol: String, idCol: String,
                         textCol: String,
                         budgetPerSource: Long): DataFrame =
    quotaExact(scoreDocs(df, sourceCol, idCol, textCol), sourceCol,
      idCol, budgetPerSource)

  /** Scale form of [[quotaExact]]: identical `kept` decisions computed
    * through a per-(source, quality) token histogram instead of a
    * per-source global ordered window — the x12p histogram trick the
    * exact form's scaladoc promises. Shape:
    *
    *  1. histogram: one map-side-combinable `groupBy(source, quality)`
    *     over the scored docs (quality is an exact integer, so buckets
    *     need no binning and the histogram is lossless);
    *  2. per-source exclusive cumulative tokens by descending quality —
    *     a window over the HISTOGRAM, whose per-source row count is
    *     bounded by the distinct quality values, not the corpus;
    *  3. classify each bucket: fully under budget → every doc kept;
    *     cumulative-before strictly over budget → every doc dropped
    *     (both decided WITHOUT any ordered window over docs);
    *  4. only the straddling edge bucket (≤1 per source, plus the
    *     zero-token boundary case) pays an ordered window — and that
    *     window partitions by (source, quality), so even a pathological
    *     single-source corpus never collapses into one task the way the
    *     exact form's per-source window does.
    *
    * Returns (sourceCol, idCol, n_tokens, quality, kept) — no global
    * rank/cum columns, which is exactly why it scales. Equality of the
    * `kept` flags with the exact form (ties, zero-token docs, all three
    * bucket classes) is pinned by CorpusAssemblySpec.
    */
  def quotaHistogram(scored: DataFrame, sourceCol: String, idCol: String,
                     budgetPerSource: Long): DataFrame =
    quotaFromHistogram(scored,
      scored.groupBy(sourceCol, "quality")
        .agg(sum("n_tokens").as("__bucket_tokens")),
      sourceCol, idCol, budgetPerSource)

  /** [[quotaHistogram]] with the (source, quality) token histogram
    * supplied by the CALLER instead of recomputed from `scored` — the
    * entry point for a histogram maintained incrementally (the
    * streaming sink merges per-batch histograms by addition; the
    * decision pass then only consults the corpus for doc-level
    * columns). `hist` must carry (sourceCol, quality, __bucket_tokens)
    * and must be the exact histogram OF `scored` for the kept flags to
    * equal the one-shot form.
    */
  def quotaFromHistogram(scored: DataFrame, hist: DataFrame,
                         sourceCol: String, idCol: String,
                         budgetPerSource: Long): DataFrame = {
    val wq = Window.partitionBy(sourceCol).orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = hist
      .withColumn("__cum_before",
        coalesce(sum("__bucket_tokens").over(wq), lit(0L)))
      .withColumn("__cls",
        when(col("__cum_before") + col("__bucket_tokens") <=
          budgetPerSource, lit("keep"))
        .when(col("__cum_before") > budgetPerSource, lit("drop"))
        .otherwise(lit("edge")))
      .select(col(sourceCol), col("quality"), col("__cum_before"),
        col("__cls"))
    val joined = scored.join(buckets, Seq(sourceCol, "quality"))
    val decided = joined.filter(col("__cls") =!= "edge")
      .withColumn("kept", col("__cls") === "keep")
    val wEdge = Window.partitionBy(sourceCol, "quality").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    val edge = joined.filter(col("__cls") === "edge")
      .withColumn("kept", col("__cum_before") +
        sum("n_tokens").over(wEdge) <= budgetPerSource)
    decided.unionByName(edge)
      .select(col(sourceCol), col(idCol), col("n_tokens"), col("quality"),
        col("kept"))
  }

  /** [[qualityQuotaSelect]]'s decisions through [[quotaHistogram]] —
    * the form that survives a single giant source. */
  def qualityQuotaSelectHistogram(df: DataFrame, sourceCol: String,
                                  idCol: String, textCol: String,
                                  budgetPerSource: Long): DataFrame =
    quotaHistogram(scoreDocs(df, sourceCol, idCol, textCol), sourceCol,
      idCol, budgetPerSource)

  /** The portable LCG doc hash shared by the mixing forms: the
    * [[TextAnalysis.splitAssign]] arithmetic folded into [0, 1e9+7) —
    * exact integers, so any engine reproduces the per-doc sampling
    * order (and therefore the selection) bit-for-bit.
    */
  private def mixHash(idCol: String): Column = expr(
    s"pmod(pmod($idCol, 100000007) * 1103515245 + 12345, 1000000007)")
  private val MixHashMod = 1000000007L

  /** The mix-hash SQL above arithmetically assumes an INTEGRAL id: a
    * string id column would be numerically coerced (non-numeric values
    * to NULL), silently corrupting bucket assignment and kept flags
    * instead of failing. Fail fast with the actual dtype — the
    * [[graft.core.Tables.eventTsUs]] dispatch discipline applied here.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"mix hash requires an integral id column; '$idCol' is $other " +
          "(a string id would coerce to NULL and corrupt the sample)")
    }
  }

  /** Per-group doc targets for temperature-based source mixing (the
    * sqrt-count reweighting of the Pile / LLaMA data recipes, alpha =
    * 0.5): group g gets floor(totalTarget * sqrt(n_g) / sum_h
    * sqrt(n_h)) docs — down-weighting giant sources and up-weighting
    * small ones relative to proportional sampling. sqrt is
    * exactly-rounded IEEE (unlike pow, which is why alpha is fixed at
    * 0.5 — an arbitrary-alpha pow() would diverge in the last ulp
    * across libms and break the cross-engine hash contract), and the
    * weight SUM folds over the groups in sorted order (the l27b trick:
    * a parallel float sum's partial order is nondeterministic, and one
    * ulp can flip a floor), so targets are bit-deterministic on any
    * engine or layout. Returns (groupCol, n_docs, target).
    */
  def temperatureMixTargets(df: DataFrame, groupCol: String,
                            totalTarget: Long): DataFrame =
    targetsFromCounts(
      df.groupBy(groupCol).agg(count(lit(1)).cast("long").as("n_docs")),
      groupCol, totalTarget)

  /** [[temperatureMixTargets]] from a PRE-AGGREGATED (group, n_docs)
    * table — the entry point when the counts come from merged streaming
    * state instead of a corpus scan. */
  def targetsFromCounts(counts: DataFrame, groupCol: String,
                        totalTarget: Long): DataFrame = {
    val weighted = counts.withColumn("w", sqrt(col("n_docs").cast("double")))
    val sw = weighted
      .agg(expr(s"""aggregate(array_sort(collect_list(
          struct($groupCol, w))), CAST(0.0 AS DOUBLE),
          (a, s) -> a + s.w)""").as("sw"))
    weighted.crossJoin(broadcast(sw))
      .withColumn("target",
        floor(lit(totalTarget.toDouble) * col("w") / col("sw"))
          .cast("long"))
      .select(col(groupCol), col("n_docs"), col("target"))
  }

  /** Temperature-mixed selection, exact windowed form: within each
    * group, keep the `target` docs with the smallest portable hash
    * (ties broken by id) — a deterministic without-replacement sample
    * honoring [[temperatureMixTargets]]. The per-group global window is
    * the l26-exact caveat; [[temperatureMixSelectHistogram]] is the
    * giant-source form. Returns (groupCol, idCol, h, kept).
    */
  def temperatureMixSelect(df: DataFrame, groupCol: String, idCol: String,
                           totalTarget: Long): DataFrame = {
    requireIntegralId(df, idCol)
    val scored = df.select(col(groupCol), col(idCol))
      .withColumn("h", mixHash(idCol))
    val targets = temperatureMixTargets(df, groupCol, totalTarget)
    val w = Window.partitionBy(groupCol).orderBy(col("h"), col(idCol))
    scored.join(broadcast(targets), Seq(groupCol))
      .withColumn("__rnk", row_number().over(w).cast("long"))
      .withColumn("kept", col("__rnk") <= col("target"))
      .select(col(groupCol), col(idCol), col("h"), col("kept"))
  }

  /** [[temperatureMixSelect]]'s decisions WITHOUT a per-group global
    * sort — the histogram-threshold trick applied to hash-rank
    * selection: hash space splits into `nBuckets` equal ranges, one
    * map-side-combinable (group, bucket) count classifies whole
    * buckets against the target (fully-under -> keep all, past ->
    * drop all), and only the ONE straddling bucket per group pays an
    * ordered window — partitioned by (group, bucket), so a single
    * giant source costs 1/nBuckets of itself in that window, not a
    * full-group sort. Identical `kept` flags to the exact form
    * (CorpusAssemblySpec + the shared l29 oracle pin it).
    */
  def temperatureMixSelectHistogram(df: DataFrame, groupCol: String,
                                    idCol: String, totalTarget: Long,
                                    nBuckets: Int = 64): DataFrame =
    temperatureMixFromHistogram(df,
      mixBucketHistogram(df, groupCol, idCol, nBuckets),
      groupCol, idCol, totalTarget, nBuckets)

  /** The (group, hash-bucket, count) histogram of `df` under the
    * portable mix hash — the additive state a streaming sink maintains
    * (micro-batch histograms merge by summing `__n`; group counts are
    * the per-group bucket sums, so no separate count state is needed).
    */
  def mixBucketHistogram(df: DataFrame, groupCol: String, idCol: String,
                         nBuckets: Int): DataFrame = {
    require(nBuckets > 0)
    requireIntegralId(df, idCol)
    val bucketWidth = MixHashMod / nBuckets + 1
    df.select(col(groupCol), mixHash(idCol).as("h"))
      .withColumn("__b", expr(s"h DIV ${bucketWidth}L"))
      .groupBy(groupCol, "__b")
      .agg(count(lit(1)).cast("long").as("__n"))
  }

  /** [[temperatureMixSelectHistogram]] with the histogram supplied by
    * the CALLER (e.g. merged streaming state): targets derive from the
    * histogram's own per-group sums, bucket classes from its
    * cumulative counts, and `corpus` is only consulted to resolve the
    * straddling edge bucket per group. `hist` must be the exact
    * [[mixBucketHistogram]] of `corpus` (same nBuckets) for the kept
    * flags to equal the one-shot form.
    */
  def temperatureMixFromHistogram(corpus: DataFrame, hist: DataFrame,
                                  groupCol: String, idCol: String,
                                  totalTarget: Long,
                                  nBuckets: Int): DataFrame = {
    require(nBuckets > 0)
    requireIntegralId(corpus, idCol)
    val bucketWidth = MixHashMod / nBuckets + 1
    val scored = corpus.select(col(groupCol), col(idCol))
      .withColumn("h", mixHash(idCol))
      .withColumn("__b", expr(s"h DIV ${bucketWidth}L"))
    val targets = targetsFromCounts(
      hist.groupBy(groupCol).agg(sum("__n").cast("long").as("n_docs")),
      groupCol, totalTarget)
    val wb = Window.partitionBy(groupCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = hist
      .withColumn("__cum_before", coalesce(sum("__n").over(wb), lit(0L)))
      .join(broadcast(targets), Seq(groupCol))
      .withColumn("__cls",
        when(col("__cum_before") + col("__n") <= col("target"),
          lit("keep"))
        .when(col("__cum_before") >= col("target"), lit("drop"))
        .otherwise(lit("edge")))
      .select(col(groupCol), col("__b"), col("__cum_before"),
        col("__cls"), col("target"))
    val joined = scored.join(buckets, Seq(groupCol, "__b"))
    val decided = joined.filter(col("__cls") =!= "edge")
      .withColumn("kept", col("__cls") === "keep")
    val wEdge = Window.partitionBy(groupCol, "__b")
      .orderBy(col("h"), col(idCol))
    val edge = joined.filter(col("__cls") === "edge")
      .withColumn("kept", col("__cum_before") +
        row_number().over(wEdge) <= col("target"))
    decided.unionByName(edge)
      .select(col(groupCol), col(idCol), col("h"), col("kept"))
  }
}
