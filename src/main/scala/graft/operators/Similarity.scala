package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers, as a 100 TB pipeline needs both:
  *  - brute-force cosine top-k for a SMALL query set: broadcast the
  *    queries, one scan of the corpus, per-partition scoring, top-k via
  *    window. Cost O(|corpus| x |queries|) with no corpus shuffle — the
  *    right baseline, and exact.
  *  - random-hyperplane LSH bucketing for corpus-x-corpus workloads:
  *    sign-pattern buckets bound candidate generation, top-k within
  *    bucket. Probabilistic recall (SimilaritySpec pins it against
  *    brute force); never materializes all pairs.
  *
  * All arithmetic is double with an explicit left-to-right fold so the
  * DuckDB oracle (list_reduce) produces bit-identical scores.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns — the fold
    * order is the contract (matches DuckDB list_reduce in the oracle).
    * Resolves to the native codegen'd [[graft.plans.VecDot]] expression
    * (registered by GraftExtensions); same left-to-right double
    * accumulation, no intermediate array / closure dispatch.
    */
  def dot(a: String, b: String): Column = expr(s"vec_dot($a, $b)")

  def norm(a: String): Column = sqrt(dot(a, a))

  /** cosine = dot / (sqrt(aa) * sqrt(bb)), same tree as the oracle. */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each row of `queries` over `corpus`.
    * Both inputs: (idCol, vecCol: array<float>). Output:
    * (q_id, rnk, n_id, cosine), deterministic ties broken by id.
    *
    * Norms are computed ONCE PER VECTOR before the pair fan-out (here
    * and in every cosine operator below): cosine(a, b) evaluates three
    * vec_dot folds, and two of them — the norms — depend only on one
    * side. The precomputed product is bit-identical to the inline form
    * (same ops on the same doubles), so the DuckDB oracles still
    * hash-match; only the redundant per-pair work disappears.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    // per-query candidates = the ENTIRE corpus (that is what brute
    // force means), so the ranking must be the bounded mergeable top-k:
    // a q_id window would funnel a full corpus copy per query into one
    // task. With BoundedTopK the scan stays embarrassingly parallel and
    // only partitions*k (cosine, id) rows per query ever shuffle.
    val scored = corpusSide(corpus, idCol, vecCol)
      .join(broadcast(querySide(queries, idCol, vecCol)),
        col("q_id") =!= col("n_id"))
      .withColumn("cosine", dot("qv", "cv") / (col("qn") * col("cn")))
    rankTopKByCosine(scored, k)
  }

  /** HARD-NEGATIVE mining for embedding-model training: per query, the
    * `k` most-similar corpus vectors whose cosine stays BELOW
    * `dupThreshold` — the "almost positive but not a duplicate"
    * examples contrastive training needs (high-similarity negatives
    * carry the gradient signal; random negatives are trivially
    * separable, and near-duplicates above the threshold are POISON —
    * false negatives that teach the model to push true matches apart).
    * The same corpus-scan + bounded-ranking shape as
    * [[bruteForceTopK]]: the dup filter runs map-side on the scored
    * stream, so the scan stays embarrassingly parallel and only
    * partitions*k rows per query shuffle. At corpus scale, compose
    * with a candidate stage exactly like [[rerankTopK]] — generate
    * generously (the dup filter eats the top of the candidate list),
    * then exact-filter-and-rank.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        dupThreshold: Double): DataFrame = {
    val scored = corpusSide(corpus, idCol, vecCol)
      .join(broadcast(querySide(queries, idCol, vecCol)),
        col("q_id") =!= col("n_id"))
      .withColumn("cosine", dot("qv", "cv") / (col("qn") * col("cn")))
      .filter(col("cosine") < dupThreshold)
    rankTopKByCosine(scored, k)
  }

  /** Two-stage exact-re-rank retrieval — the production pattern for a
    * PCA-reduced space (SCALE_r12 §16 prices why a truncated space
    * cannot be trusted for FINAL ranks): stage 1 generates `kCand`
    * candidates per query in the `kReduced`-dim space, so the
    * full-corpus scan touches kReduced/dim of the vector bytes; stage 2
    * re-ranks ONLY the candidates with full-space cosine — kCand
    * id-joined vectors per query, never a second corpus scan. Requires
    * the uncentered (Gram) model ([[Pca.fit]] `center = false`):
    * truncated orthonormal rotation approximately preserves dot
    * products, while centering shifts the origin and wrecks angles.
    *
    * Recall contract: because the re-rank is exact, final top-k recall
    * EQUALS candidate coverage of the true top-k (monotone in kCand;
    * kCand ≥ |corpus|−1 degenerates to [[bruteForceTopK]] exactly —
    * SimilaritySpec pins both).
    */
  def twoStageTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, model: Pca.PcaModel,
                   kReduced: Int, kCand: Int, k: Int): DataFrame = {
    require(!model.centered,
      "twoStageTopK needs the uncentered (Gram) fit: Pca.fit(center = false)")
    val pc = Pca.project(corpus, model, kReduced, vecCol, "__r")
      .select(col(idCol), col("__r"))
    twoStageFromProjected(pc, corpus, queries, idCol, vecCol, model,
      kReduced, kCand, k)
  }

  /** [[twoStageTopK]] with the corpus projection PRE-COMPUTED (idCol,
    * `__r`) — the production shape: projection happens once at ingest
    * (or via the streaming moment state's current model) and is stored;
    * each query batch then pays ONE corpus-scale pass over the reduced
    * vectors plus a candidate-sized id-join. Wall-to-wall with the
    * projection inline, two-stage LOSES to one brute pass at toy
    * dimensions (measured 2.9 s vs 0.9 s at 100k×64-d — three jobs vs
    * one); the reduction pays when the projection is amortized and in
    * proportion to dim/kReduced (real text embeddings are 768–4096-d).
    */
  def twoStageFromProjected(corpusProj: DataFrame, corpus: DataFrame,
                            queries: DataFrame, idCol: String,
                            vecCol: String, model: Pca.PcaModel,
                            kReduced: Int, kCand: Int,
                            k: Int): DataFrame = {
    require(!model.centered,
      "twoStageTopK needs the uncentered (Gram) fit: Pca.fit(center = false)")
    val pq = Pca.project(queries, model, kReduced, vecCol, "__r")
      .select(col(idCol), col("__r"))
    // fail FAST on a stored-projection width that doesn't match
    // kReduced: vec_dot silently truncates to the shorter array, so a
    // k=32 store probed at kReduced=16 would produce garbage stage-1
    // cosines with no error. assert_true rides the filter (not a
    // prunable select column); per-row cost is one size().
    val pcChecked = corpusProj.filter(coalesce(expr(
      s"""assert_true(size(__r) = $kReduced,
          'twoStageFromProjected: stored projection width <> kReduced')"""),
      lit(true)))
    val cand = bruteForceTopK(pcChecked, pq, idCol, "__r", kCand)
      .select(col("q_id"), col("n_id"))
    rerankTopK(cand, corpus, queries, idCol, vecCol, k)
  }

  /** Exact full-space re-rank of ANY candidate set (q_id, n_id) — the
    * pluggable stage 2: final top-k recall equals the candidate set's
    * coverage of the true top-k, whatever generated it (reduced-space
    * brute, [[ivfTopK]] over a projected corpus, [[lshTopK]], a bloom
    * prefilter...). Cost is candidate-sized: one id-join against the
    * corpus plus a (queries × kCand) scored stream — never a corpus
    * scan. The honest stage-1 guidance from SCALE_r12 §16a: a BRUTE scan
    * of the reduced space never beats one brute full-space pass here,
    * because the scored-pair machinery (join + bounded ranking), not
    * the dot width, dominates — reduce to make the INDEX cheaper, then
    * re-rank its candidates through this.
    */
  def rerankTopK(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    // any-generator hygiene, candidate-sized so effectively free:
    // duplicate pairs (e.g. a multi-table LSH union) would occupy two
    // rank slots, and a self-pair would park cosine 1.0 at rank 1 —
    // both would break recall == coverage
    val cs = cand.select(col("q_id"), col("n_id"))
      .filter(col("q_id") =!= col("n_id")).distinct()
    val scored = cs
      .join(corpusSide(corpus, idCol, vecCol), "n_id")
      .join(broadcast(querySide(queries, idCol, vecCol)), "q_id")
      .withColumn("cosine", dot("qv", "cv") / (col("qn") * col("cn")))
    rankTopKByCosine(scored, k)
  }

  /** Shared scored-stream sides — ONE place owns the cast + precomputed
    * norm, so every cosine path ([[bruteForceTopK]], [[rerankTopK]])
    * stays bit-identical by construction.
    */
  private def corpusSide(corpus: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm("cv"))

  private def querySide(queries: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm("qv"))

  /** Deterministic pseudo-random hyperplane for LSH: component d of plane
    * p is splitmix64(p, d) folded into [-0.5, 0.5). Planes are generated
    * DRIVER-SIDE and shipped as array literals, so bucket assignment runs
    * as nPlanes codegen'd [[graft.plans.VecDot]] calls per vector —
    * Spark's higher-order functions (the alternative: zip_with/aggregate
    * over a hash formula) evaluate their lambda interpreted PER ELEMENT,
    * which made bucketing the dominant cost of every LSH query
    * (nTables x nPlanes x dim interpreted evals per vector; measured
    * ~10x slower at sf0.1).
    */
  private def planeArray(plane: Int, dim: Int): Array[Double] =
    graft.plans.Planes.plane(plane, dim)

  /** Plane `plane`'s components as a SQL double-list literal (full
    * round-trip precision via Double.toString): an oracle engine parsing
    * this literal recovers the EXACT doubles [[lshBucket]] uses, so LSH
    * bucketing is cross-engine reproducible — the planes were never
    * random, only engine-internal (l6p registers the oracle).
    */
  def planeSqlLiteral(plane: Int, dim: Int): String =
    planeArray(plane, dim).map(_.toString).mkString("[", ", ", "]")

  /** Portable centroid rank for [[ivfTopK]]: Knuth's multiplicative hash
    * `(id * 2654435761) mod 2^32` — exact BIGINT arithmetic any SQL
    * engine reproduces verbatim (the l11p oracle writes the same
    * formula), injective for ids < 2^32 (odd multiplier), and scrambled
    * enough that the sample isn't just the lowest ids. xxhash64 stays
    * the default; this exists so the IVF pipeline has a hash-matched
    * cross-engine form.
    */
  val portableCentroidRank: Column => Column =
    id => pmod(id.cast("long") * lit(2654435761L), lit(4294967296L))

  /** SQL fragment computing [[portableCentroidRank]] on column `id` —
    * keep in lockstep with the Column form above. */
  def portableCentroidRankSql(id: String): String =
    s"($id * 2654435761) % 4294967296"

  /** Sign-pattern LSH bucket of `vecCol` (array<double>, `dim` elements):
    * bit p of the bucket id is the sign of dot(vec, plane_{p + offset}).
    * `planeOffset` selects the plane family — the hook for multi-table
    * LSH, where table t hashes with planes [t*nPlanes, (t+1)*nPlanes).
    */
  def lshBucket(vecCol: String, nPlanes: Int, dim: Int,
                planeOffset: Int = 0): Column =
    (0 until nPlanes).map { p =>
      when(call_function("vec_dot", col(vecCol),
          lit(planeArray(planeOffset + p, dim))) > lit(0.0d),
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All `nTables` bucket ids at once as array<long> — the fused native
    * [[graft.plans.LshBuckets]] expression. Bit-identical to an
    * `array(...)` of [[lshBucket]] columns (SimilaritySpec pins it), but
    * one JIT-compiled loop instead of nTables x nPlanes inlined dot
    * loops, which at the l12 design point overflow the JIT limits and
    * drop the whole scan stage to interpreted evaluation — see the
    * LshBuckets scaladoc for the measured cliff.
    */
  def lshBucketsAll(vecCol: String, nPlanes: Int, dim: Int,
                    nTables: Int): Column =
    call_function("lsh_buckets", col(vecCol), lit(nPlanes), lit(nTables),
      lit(dim), lit(0))

  /** Nearest `take` centroid cells per vector, against a GIVEN
    * `(cell, centroid, centroid_nrm)` table: argmax cosine over the
    * broadcast set (cosine, since vectors aren't normalized; norms
    * precomputed by the caller). The window partitions by `df`'s FIRST
    * column — the per-vector id — with a total tie order on cell, so
    * assignments are deterministic. Shared by batch [[ivfTopK]], its
    * Lloyd refinement, and the streaming index-maintenance sink
    * (StreamOps.annIndexForeachBatch), which is exactly what makes
    * streamed and one-shot assignments provably identical.
    */
  def assignCells(df: DataFrame, vec: String, vecNrm: String,
                  centroids: DataFrame, out: String,
                  take: Int): DataFrame = {
    val scored = df.join(broadcast(centroids))
      .withColumn("__sim",
        dot(vec, "centroid") / (col(vecNrm) * col("centroid_nrm")))
    val w = Window.partitionBy(df.columns.head)
      .orderBy(col("__sim").desc, col("cell"))
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= take)
      .drop("centroid", "centroid_nrm", "__sim", "__r")
      .withColumnRenamed("cell", out)
  }

  /** A centroid table collected driver-side for the FUSED assignment
    * path: `(cellIds asc, flat cell-major matrix, norms)` — bounded by
    * nCells (an index's structure table, driver-trivial at any corpus
    * size). The ascending id order is load-bearing: it is what makes
    * [[nearestCellCol]]'s first-wins tie rule equal [[assignCells]]'s
    * (sim desc, cell asc) window order.
    */
  final case class CollectedCentroids(cellIds: Array[Long],
                                      flat: Array[Double],
                                      norms: Array[Double], dim: Int)

  def collectCentroids(centroids: DataFrame): CollectedCentroids = {
    val rows = centroids.select("cell", "centroid", "centroid_nrm")
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, "collectCentroids: empty centroid table")
    val dim = rows.head.getSeq[Double](1).length
    val flat = new Array[Double](rows.length * dim)
    rows.zipWithIndex.foreach { case (r, c) =>
      val v = r.getSeq[Double](1)
      require(v.length == dim, "collectCentroids: ragged centroid dims")
      var d = 0
      while (d < dim) { flat(c * dim + d) = v(d); d += 1 }
    }
    CollectedCentroids(rows.map(_.getLong(0)), flat,
      rows.map(_.getDouble(2)), dim)
  }

  /** The nearest-cell id of `vecCol` against [[collectCentroids]]'
    * table, as ONE fused codegen'd map expression
    * ([[graft.plans.NearestCell]]) — no broadcast join, no per-vector
    * window, no nCells× row blowup. Bit-identical to
    * `assignCells(take = 1)` (NearestCellSpec pins it); the streaming
    * index sink uses this for its per-batch assignment.
    */
  def nearestCellCol(vecCol: Column, cc: CollectedCentroids): Column =
    call_function("nearest_cell", vecCol, lit(cc.flat), lit(cc.norms),
      lit(cc.cellIds))

  /** The deterministic pseudo-random centroid sample [[ivfTopK]] uses,
    * as a standalone table builder for callers that must FIX the
    * centroid set across runs (the streaming index: structure trained
    * once at bootstrap, inserts assigned against it forever after).
    */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int,
                      centroidRank: Column => Column =
                        id => xxhash64(id)): DataFrame =
    corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm("cv"))
      .orderBy(centroidRank(col("n_id")), col("n_id"))
      .limit(nCells)
      .select(col("n_id").as("cell"), col("cv").as("centroid"),
        col("cn").as("centroid_nrm"))

  /** CLUSTER-BALANCED sampling — the semantic-diversity curation step
    * (the SemDeDup/cluster-balance family): assign every corpus vector
    * to its nearest of `nCells` centroid cells (the IVF machinery —
    * same deterministic centroid sample, same argmax-cosine assignment
    * the ANN index uses), then keep at most `cap` documents per cell,
    * chosen as the `cap` smallest portable-LCG hashes (the l29/l37
    * without-replacement-sample trick: kept set is engine-, layout-
    * and rerun-stable). Over-represented semantic regions are capped,
    * the long tail survives whole — the embedding-space analogue of
    * the l37 per-domain cap.
    *
    * Scale shape: one broadcast of nCells centroids, one window
    * partitioned by cell (width = per-cell doc count; the rank cap
    * compiles to a WindowGroupLimit below the exchange, so even a
    * single mega-cell forwards at most ~cap rows per map task —
    * measured on the l37 sibling, SCALE_r12.md §9). Returns
    * (n_id, cell, h, kept).
    */
  def clusterBalancedSample(corpus: DataFrame, idCol: String,
                            vecCol: String, nCells: Int, cap: Int,
                            centroidRank: Column => Column =
                              id => xxhash64(id)): DataFrame = {
    val e = corpus.select(col(idCol).cast("long").as("n_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm("v"))
    val cents = sampleCentroids(corpus, idCol, vecCol, nCells,
      centroidRank)
    val w = Window.partitionBy("cell").orderBy(col("h"), col("n_id"))
    assignCells(e, "v", "nrm", cents, "cell", take = 1)
      .select(col("n_id"), col("cell"))
      .withColumn("h", expr(
        "pmod(pmod(n_id, 100000007) * 1103515245 + 12345, 1000000)"))
      .withColumn("kept",
        row_number().over(w).cast("long") <= cap.toLong)
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their
    * nearest of `nCells` centroid cells; a query probes its `nProbe`
    * nearest cells and runs exact cosine top-k over just those cells'
    * vectors. One corpus shuffle on cell id; centroids broadcast.
    *
    * Centroids are a deterministic pseudo-random sample: the nCells
    * corpus vectors with the smallest `centroidRank(id)` (a TakeOrdered,
    * no corpus count and no job at operator-construction time — the
    * whole operator stays one lazy plan). The default rank is
    * xxhash64(id) (engine-internal, fine for production); pass
    * [[portableCentroidRank]] to make the sample — and therefore the
    * whole pipeline — reproducible in any SQL engine (l11p's DuckDB
    * oracle). A k-means refinement would slot in here without changing
    * the query path.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16,
              nProbe: Int = 4,
              centroidRank: Column => Column =
                id => xxhash64(id),
              refineIters: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm("cv"))
    val q = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm("qv"))
    def nearestCells(centroids: DataFrame)(df: DataFrame, vec: String,
                     vecNrm: String, out: String, take: Int): DataFrame =
      assignCells(df, vec, vecNrm, centroids, out, take)
    val sampled = c.orderBy(centroidRank(col("n_id")), col("n_id"))
      .limit(nCells)
      .select(col("n_id").as("cell"), col("cv").as("centroid"),
        col("cn").as("centroid_nrm"))
    // Optional Lloyd refinement of the sampled centroids: assign every
    // corpus vector to its nearest centroid, replace each centroid with
    // the element-wise MEAN of its cell, repeat. Each iteration is one
    // broadcast-join assign pass plus one map-side-combinable
    // (cell, dim) average shuffle (n x dim rows — 64 doubles per vector,
    // not pairs), so the cost is `refineIters` extra corpus passes; the
    // tiny per-iteration centroid table is cached so iterations chain in
    // O(iters), not O(iters^2). Cells that attract no vectors drop out
    // (standard Lloyd behavior). Cell ids stay the sample's vector ids.
    // Float-mean partial-order nondeterminism makes refined centroids
    // ulp-unstable across layouts — fine for the rows-only/recall-gated
    // forms; the hash-matched l11p stays on the UNREFINED deterministic
    // sample. Measured recall impact: SCALE_r10.md §3b.
    val centroids = (1 to refineIters).foldLeft(sampled) { (cur, _) =>
      val next = nearestCells(cur)(c, "cv", "cn", "cell", 1)
        .select(col("cell"), posexplode(col("cv")).as(Seq("__pos", "__v")))
        .groupBy("cell", "__pos").agg(avg("__v").as("__m"))
        .groupBy("cell")
        .agg(expr("""transform(array_sort(collect_list(
              struct(__pos, __m))), s -> s.__m)""").as("centroid"))
        .withColumn("centroid_nrm", norm("centroid"))
        .cache()
      // materialize the (tiny, <= nCells-row) new table, then release the
      // previous iteration's cache — otherwise refineIters tables pile up
      // in the session's cache for its whole lifetime. The count is the
      // same assign pass the next iteration would trigger anyway; it just
      // runs it now so `cur` is safe to drop.
      next.count()
      if (cur ne sampled) cur.unpersist(blocking = false)
      next
    }
    val assigned = nearestCells(centroids)(c, "cv", "cn", "cell", 1)
    val probed = nearestCells(centroids)(q, "qv", "qn", "cell", nProbe)
    // Each corpus vector lives in exactly one cell, so a (q, n) pair
    // occurs at most once — no dedup needed. The per-query candidate
    // set is corpus-SCALED (~ n * nProbe / nCells rows per query), so
    // the final ranking runs through the same bounded mergeable top-k
    // as lshTopK/l27b, never a q_id window: partials keep O(k) state
    // and only (cosine, n_id) — not the 64-dim vectors — reaches the
    // tiny final shuffle.
    val joined = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", dot("qv", "cv") / (col("qn") * col("cn")))
    rankTopKByCosine(joined, k)
  }

  /** IVF-PQ top-k (the FAISS-standard production ANN composition,
    * Jégou et al. 2011 §IV): the inverted-file stage prunes the scan to
    * `nProbe` of `nCells` cells, and inside the probed cells every
    * member is scored from its `m`-byte PQ CODE via the ADC lookup
    * table — so a query touches nProbe/nCells of the corpus and reads
    * codes, not vectors (33.7x fewer stored bytes measured,
    * SCALE_r12 §20). This is the shape that holds at 100 TB: the
    * index stores centroids + codes; full-precision vectors are only
    * needed by an optional exact re-rank of the k survivors
    * ([[rerankTopK]] — recall == coverage from there).
    *
    * Variant note: codes come from ONE corpus-global codebook
    * ([[Pq.fit]]) applied to raw vectors, not per-cell residual
    * codebooks — the residual refinement is a quality option real
    * systems sometimes add; the global form keeps the model replayable
    * by the l53 oracle (portable centroid rank for BOTH stages) and
    * the encode stage cell-independent.
    *
    * Plan shape: corpus assignment is the fused map-only
    * `nearest_cell` (bit-equal to the window form, NearestCellSpec);
    * the corpus side carries only (cell, id, codes); queries build
    * their ADC tables once ([[graft.plans.PqLut]]) and broadcast;
    * per-pair scoring is m lookups+adds; ranking is the mergeable
    * BoundedTopK — no q_id window, no corpus-sized shuffle.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, model: Pq.Model,
                nCells: Int = 16, nProbe: Int = 4,
                centroidRank: Column => Column =
                  id => xxhash64(id)): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm("cv"))
    val q = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm("qv"))
    val centroids = c.orderBy(centroidRank(col("n_id")), col("n_id"))
      .limit(nCells)
      .select(col("n_id").as("cell"), col("cv").as("centroid"),
        col("cn").as("centroid_nrm"))
    val cc = collectCentroids(centroids)
    val assigned = c.select(col("n_id"),
      nearestCellCol(col("cv"), cc).as("cell"),
      Pq.encodeCol(col("cv"), model).as("codes"))
    val probed = assignCells(q, "qv", "qn", centroids, "cell", nProbe)
      .select(col("cell"), col("q_id"),
        call_function("pq_lut", col("qv"), model.flatLit,
          lit(model.dsub), lit(model.ksub)).as("lut"))
    val joined = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        call_function("pq_lut_score", col("lut"), col("codes"),
          lit(model.ksub)))
    rankTopKByCosine(joined.select("q_id", "n_id", "cosine"), k)
      .withColumnRenamed("cosine", "adc_ip")
  }

  /** Embedding-cosine near-dup pairs: corpus-x-corpus, blocked by
    * MULTI-TABLE sign-pattern LSH, then EXACT cosine verifies candidates
    * at `threshold`.
    *
    * Each vector is hashed into `nTables` independent tables (table t uses
    * hyperplanes [t*nPlanes, (t+1)*nPlanes)); candidate pairs are generated
    * only within a (table, bucket) cell — never all-pairs. A pair at true
    * cosine c collides in one table with probability r^nPlanes where
    * r = 1 - acos(c)/pi, so recall = 1 - (1 - r^nPlanes)^nTables: tunable
    * to ~1 for any target threshold by adding tables, while nPlanes keeps
    * each bucket (and thus the candidate count) small. Precision is exact
    * either way — every emitted pair passed a real cosine comparison.
    *
    * Cost shape at 100 TB: the explode multiplies the corpus by nTables
    * before ONE shuffle on (table, bucket); the exact filter runs
    * within-partition before the final distinct touches only
    * above-threshold pairs. No all-pairs materialization anywhere
    * (SimilaritySpec asserts no CartesianProduct in the plan).
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, dim: Int, nPlanes: Int = 4,
                         nTables: Int = 8): DataFrame = {
    // all nTables buckets are computed BEFORE the fan-out (one fused
    // native pass per vector), then posexplode emits the (table, bucket)
    // pairs
    val buckets = lshBucketsAll("v", nPlanes, dim, nTables)
    val c = corpus.select(col(idCol).as("doc"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm("v")) // once per vector, before the fan-out
      .select(col("doc"), col("v"), col("nrm"),
        posexplode(buckets).as(Seq("tbl", "bucket")))
    val a = c.select(col("tbl"), col("bucket"), col("doc").as("doc_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = c.select(col("tbl"), col("bucket"), col("doc").as("doc_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine", dot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("doc_a", "doc_b", "cosine")
      // a pair may collide in several tables; the distinct runs AFTER the
      // exact filter so only above-threshold pairs are ever shuffled
      .distinct()
  }

  /** [[cosineNearDupPairs]] with a HOT-BUCKET CAP — the 100 TB scale
    * path. The uncapped form expands every (table, bucket) cell into
    * all pairs: a cell of B members costs B²/2 join rows, and a corpus
    * with a mega-cluster of near-identical vectors (re-crawled
    * boilerplate, default-valued embeddings) puts its WHOLE cluster in
    * the same cell of every table — measured at 50x bench scale
    * (testdata replicated 50x, so every vector sits in a ≥50-strong
    * cluster): 4.4 GB of spill and a 92 s straggler task inside the
    * bucket self-join (SCALE_r06.md).
    *
    * Here a cell with more than `maxBucket` members switches from
    * all-pairs to a STAR: each member is paired only with the cell's
    * representative (min doc id), B-1 pairs instead of B²/2, computed
    * map-side from a per-cell aggregate of O(1) state (count + min_by
    * vector — no collect_list). Exact-cosine verification is
    * unchanged, so precision stays exact; recall inside an over-cap
    * cell narrows to rep-adjacency, which
    * [[GraphRank.connectedComponents]] closes back into one component
    * when the cluster is transitively near-duplicate (a∼rep and b∼rep
    * ⇒ a,b share a component) — the dedup use case the operator exists
    * for. A true near-dup pair is lost only when EVERY table puts it in
    * an over-cap cell whose representative matches neither side;
    * under-cap cells (the overwhelming majority of a healthy corpus)
    * are exhaustive all-pairs exactly as before.
    *
    * Sizing rule at scale: the structure has 2^nPlanes cells per table,
    * so keep average occupancy O(1) — nPlanes ≈ log₂(corpus) − 2 — and
    * let the cap absorb only the genuine mega-cluster TAIL (plus the
    * anisotropy hot cells real embedding distributions produce: sign
    * patterns concentrate when vectors share a mean direction). A
    * SATURATED structure (a design point sized for a 10k corpus run
    * against 500k vectors = avg 122 members/cell) degrades every
    * within-cell strategy and is a configuration error, not something
    * any cap can repair — measured in SCALE_r06.md §3.
    */
  def cosineNearDupPairsCapped(corpus: DataFrame, idCol: String,
                               vecCol: String, threshold: Double, dim: Int,
                               nPlanes: Int = 4, nTables: Int = 8,
                               maxBucket: Int = 64): DataFrame = {
    val buckets = lshBucketsAll("v", nPlanes, dim, nTables)
    // Vectors travel WITH the cell stream and verification is MAP-SIDE,
    // as in the uncapped form: the payload through the shuffles is then
    // ∝ corpus x nTables — linear and bounded — and each emitted
    // candidate verifies in place. (A join-back design — ids-only cells,
    // distinct candidates, then two joins to fetch vectors — was built
    // and measured at 50x scale: its per-PAIR vector payload re-spills
    // exactly when clusters make the pair count large, i.e. in the very
    // regime the cap exists for. Measured: 7.4 GB spill vs 0 here.)
    val c = corpus.select(col(idCol).as("doc"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm("v")) // once per vector, before the fan-out
      .select(col("doc"), col("v"), col("nrm"),
        posexplode(buckets).as(Seq("tbl", "bucket")))
    // one row per (tbl, bucket): member count + min-id representative
    // WITH its vector — O(1) aggregation state, no collect_list
    val stats = c.groupBy("tbl", "bucket").agg(
      count(lit(1)).as("cnt"), min("doc").as("rep"),
      min_by(col("v"), col("doc")).as("repv"),
      min_by(col("nrm"), col("doc")).as("repn"))
    val cs = c.join(stats, Seq("tbl", "bucket"))
    val small = cs.filter(col("cnt") <= maxBucket)
    val a = small.select(col("tbl"), col("bucket"), col("doc").as("doc_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = small.select(col("tbl"), col("bucket"), col("doc").as("doc_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val smallPairs = a.join(b, Seq("tbl", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (dot("va", "vb") / (col("na") * col("nb"))).as("cosine"))
    // rep = min(doc) of the cell, so doc_a < doc_b holds by
    // construction; the dot runs rep-side first, matching the
    // small-pair fold order bit-for-bit when the same pair also
    // survives an under-cap cell of another table (distinct() below
    // must collapse them)
    val starPairs = cs
      .filter(col("cnt") > maxBucket && col("doc") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc").as("doc_b"),
        (dot("repv", "v") / (col("repn") * col("nrm"))).as("cosine"))
    smallPairs.unionByName(starPairs)
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** [[cosineNearDupPairsCapped]] with the CANDIDATE stage in a
    * PCA-reduced space: bucket + pre-filter at `candThreshold` over the
    * `kReduced`-dim projections (the expensive fan-out runs on
    * kReduced/dim of the vector bytes), then verify every surviving
    * pair with FULL-space cosine at `threshold` — so output precision
    * is exact by construction (every emitted pair truly has full-space
    * cosine ≥ threshold), and recall is the candidate stage's.
    * Measured on the 100k clustered fixture (SCALE_r12 §16c): ~45%
    * cheaper pair generation than all-full-space bucketing AND more
    * true pairs found (the slack threshold widens bucket recall).
    * `candThreshold` < `threshold` is the slack absorbing projection
    * error; requires the uncentered (Gram) model. Output schema matches
    * the near-dup family — composes with the l42-style closure
    * unchanged.
    */
  def cosineNearDupPairsReduced(corpus: DataFrame, idCol: String,
                                vecCol: String, model: Pca.PcaModel,
                                kReduced: Int, threshold: Double,
                                candThreshold: Double,
                                nPlanes: Int = 4, nTables: Int = 8,
                                maxBucket: Int = 64): DataFrame = {
    require(!model.centered,
      "cosineNearDupPairsReduced needs Pca.fit(center = false)")
    require(candThreshold <= threshold,
      s"candThreshold $candThreshold must not exceed threshold $threshold")
    val proj = Pca.project(corpus, model, kReduced, vecCol, "__r")
      .select(col(idCol), col("__r"))
    val cand = cosineNearDupPairsCapped(proj, idCol, "__r",
      candThreshold, kReduced, nPlanes, nTables, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val ev = corpus.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", norm("__v"))
    cand
      .join(ev.select(col("__id").as("doc_a"), col("__v").as("__va"),
        col("__n").as("__na")), "doc_a")
      .join(ev.select(col("__id").as("doc_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (dot("__va", "__vb") / (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[cosineNearDupPairsReduced]] with the reduction replaced by the
    * PORTABLE quantized fit ([[Pca.fitQuantized]] — the l44p integer
    * power-iteration sibling): reduced coordinates are exact BIGINTs
    * cast to double, so the candidate stage (4-d LSH buckets + reduced
    * cosine at `candThreshold`, hot-cell cap included) and the
    * full-space verify are BOTH replayable cross-engine to the bit —
    * l48p registers the full DuckDB mirror. l48 (exact-Jacobi
    * reduction) stays the production form; this is its hash-matched
    * certificate sibling, same output contract.
    */
  def cosineNearDupPairsReducedQuantized(corpus: DataFrame, idCol: String,
                                         vecCol: String,
                                         q: Pca.QuantizedPca,
                                         threshold: Double,
                                         candThreshold: Double,
                                         nPlanes: Int = 4,
                                         nTables: Int = 8,
                                         maxBucket: Int = 64,
                                         digits: Int = 6): DataFrame = {
    require(candThreshold <= threshold,
      s"candThreshold $candThreshold must not exceed threshold $threshold")
    // (id, c, coord) → one array<double> per id, ordered by c; the
    // coords are exact integers so the cast is value-preserving and
    // the mirror's list(... ORDER BY c) reproduces it exactly
    val red = Pca.projectQuantized(corpus, q, idCol, vecCol, digits)
      .groupBy(idCol)
      .agg(reducedDoubleExpr.as("__r"))
    val cand = cosineNearDupPairsCapped(red, idCol, "__r",
      candThreshold, q.k, nPlanes, nTables, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val ev = corpus.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", norm("__v"))
    cand
      .join(ev.select(col("__id").as("doc_a"), col("__v").as("__va"),
        col("__n").as("__na")), "doc_a")
      .join(ev.select(col("__id").as("doc_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (dot("__va", "__vb") / (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** (id, c, coord) exact-BIGINT reduced coords → one ordered
    * array<double> — with the double cast GUARDED: it is
    * bit-preserving only for |coord| < 2^53, and past that the Spark
    * value would silently round while the DuckDB mirror keeps exact
    * BIGINTs — a silent hash divergence. Out-of-range coords raise
    * with the value instead. */
  private def reducedDoubleExpr: Column =
    expr("transform(array_sort(collect_list(struct(c, coord))), s -> " +
      "CASE WHEN abs(s.coord) < 9007199254740992 " + // 2^53
      "THEN CAST(s.coord AS DOUBLE) " +
      "ELSE CAST(raise_error(concat('quantized reduced coord not " +
      "double-exact (|coord| >= 2^53): ', CAST(s.coord AS STRING))) " +
      "AS DOUBLE) END)")

  /** [[twoStageTopK]] with the reduction replaced by the PORTABLE
    * quantized fit ([[Pca.fitQuantized]]) — the l48p treatment applied
    * to retrieval: reduced coordinates are exact BIGINTs cast to
    * double, so stage 1 (reduced-space brute top-`kCand` per query)
    * and stage 2 (exact full-space re-rank to top-`k`) are BOTH
    * replayable cross-engine to the bit — l46p registers the full
    * DuckDB mirror. [[twoStageTopK]] (exact-Jacobi reduction) stays
    * the production form with its SimilaritySpec recall/degeneracy
    * pins; this sibling is its hash-matched certificate. Same output
    * contract: (q_id, rnk, n_id, cosine).
    */
  def twoStageTopKQuantized(corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String,
                            q: Pca.QuantizedPca, kCand: Int, k: Int,
                            digits: Int = 6): DataFrame = {
    // (id, c, coord) → one array<double> per id, ordered by c — exact
    // integers, so the mirror's list(... ORDER BY c) reproduces the
    // array (and therefore every stage-1 cosine) bit for bit
    def red(df: DataFrame): DataFrame =
      Pca.projectQuantized(df, q, idCol, vecCol, digits)
        .groupBy(idCol)
        .agg(reducedDoubleExpr.as("__r"))
    val cand = bruteForceTopK(red(corpus), red(queries), idCol, "__r",
        kCand)
      .select(col("q_id"), col("n_id"))
    rerankTopK(cand, corpus, queries, idCol, vecCol, k)
  }

  /** L2-normalize + symmetric int8 quantization summary of an
    * array<double> vector column: per-vector scale = max|x_i|/127 over
    * the normalized components, q_i = round(x_i / norm / scale) in
    * [-127, 127] — the standard compression applied to embeddings before
    * ANN serving (4x smaller, dot products within ~1%). Emits a struct
    * of (scale, qsum, qmin, qmax); map-only, no shuffle, and the fold
    * orders match DuckDB's list_reduce so the whole thing is
    * oracle-checkable (l17).
    *
    * A zero vector (nrm = 0) is emitted as an explicit all-zero struct:
    * without the guard the division produces NaN/Infinity, whose
    * handling diverges across engines and would poison the oracle hash.
    */
  def int8QuantStats(vecCol: String): Column = expr(
    s"""element_at(transform(array(sqrt(vec_dot($vecCol, $vecCol))), nrm ->
          IF(nrm = 0.0D,
            struct(0.0D AS scale, CAST(0 AS BIGINT) AS qsum,
              CAST(0 AS BIGINT) AS qmin, CAST(0 AS BIGINT) AS qmax),
            element_at(transform(array(
                array_max(transform($vecCol, x -> abs(x / nrm))) / 127.0D),
              sc -> struct(
                sc AS scale,
                aggregate($vecCol, CAST(0 AS BIGINT),
                  (a, x) -> a + CAST(round(x / nrm / sc, 0) AS BIGINT))
                  AS qsum,
                array_min(transform($vecCol,
                  x -> CAST(round(x / nrm / sc, 0) AS BIGINT))) AS qmin,
                array_max(transform($vecCol,
                  x -> CAST(round(x / nrm / sc, 0) AS BIGINT))) AS qmax)),
              1))), 1)""")

  /** ANN top-k: candidates limited to same-bucket vectors, then exact
    * cosine + window top-k. One shuffle on (table, bucket).
    *
    * `nTables` > 1 hashes every vector into that many independent plane
    * families and unions the candidate sets (deduplicated before
    * scoring): per-table collision for a pair at cosine c is r^nPlanes
    * (r = 1 - acos(c)/pi), so recall rises to 1-(1-r^nPlanes)^nTables at
    * a linear cost in tables — the same recall/cost dial
    * [[cosineNearDupPairs]] uses.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int,
              nPlanes: Int = 8, nTables: Int = 1,
              multiProbe: Int = 0): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= nPlanes,
      s"multiProbe is a Hamming probe radius in [0, nPlanes=$nPlanes]")
    def bucketed(df: DataFrame, id: String, vec: String,
                 nrm: String): DataFrame = {
      val buckets = lshBucketsAll(vec, nPlanes, dim, nTables)
      df.withColumn(nrm, norm(vec))
        .select(col(id), col(vec), col(nrm),
          posexplode(buckets).as(Seq("tbl", "bucket")))
    }
    val c = bucketed(corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("cv")), "n_id", "cv", "cn")
    val q0 = bucketed(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("qv")), "q_id", "qv", "qn")
    // Multi-probe (Lv et al., VLDB 2007, applied to sign-LSH): the
    // QUERY side also probes every bucket within Hamming distance
    // `multiProbe` of its own — a near neighbor that disagrees on one
    // or two plane signs still meets the query. The corpus index is
    // untouched (each vector stays in exactly nTables buckets), so this
    // buys recall at query-side cost only: choose(nPlanes, <=radius)
    // extra bucket lookups per (query, table), independent of corpus
    // size. At the l6 design point (8 planes x 4 tables, cosine~0.5
    // neighbors) measured recall@5 on the 5k-vector corpus goes
    // 0.06 -> 0.46 (radius 1) -> 0.80 (radius 2) — SCALE_r10.md.
    // (The interpreted-HOF rule is satisfied: the flip lambdas run over
    // the QUERY rows only, never the corpus.) The full Hamming ball of
    // XOR masks is generated ON THE DRIVER — choose(nPlanes, <= radius)
    // literals, e.g. 37 at 8 planes/r2, 299 at 12 planes/r3 — so any
    // radius/plane design point works without hand-unrolled probe SQL.
    val masks = hammingBallMasks(nPlanes, multiProbe)
    val probeSql =
      s"transform(array(${masks.mkString("L,")}L), m -> bucket ^ m)"
    val q = q0.select(col("q_id"), col("qv"), col("qn"), col("tbl"),
      explode(expr(probeSql)).as("bucket"))
    // A pair can collide in several (table, probe) cells; score every
    // collision map-side (the dot is 64 muls — cheap), then collapse to
    // one row per (q_id, n_id) BEFORE anything shuffles. The former
    // `.distinct()` over rows still carrying both 64-dim vectors moved
    // ~1 KB per collision through the exchange — measured 1.9 GB
    // shuffle + 14.5 GB spill for 100 queries on the 100k-vector
    // clustered corpus (SCALE_r11.md); grouping on the 16-byte pair key
    // with a partial-aggregating first() carries 24 bytes instead.
    // first(cosine) is deterministic here: every collision of a pair
    // computes the identical IEEE value from the identical vectors.
    val joined = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", dot("qv", "cv") / (col("qn") * col("cn")))
      .groupBy("q_id", "n_id").agg(first("cosine").as("cosine"))
    // Final per-query ranking through the bounded mergeable top-k
    // aggregator, NOT row_number over Window.partitionBy(q_id): multi-
    // probe multiplies per-query candidates by the probe count (37x at
    // the l6m design point), and a window would funnel each query's
    // whole candidate set into one task — the exact funnel l27b
    // removed (QueryPlanSpec asserts the executed plan has no Window
    // over the scored stream).
    rankTopKByCosine(joined, k)
  }

  /** Per-query top-k of a scored (q_id, n_id, cosine) stream via the
    * mergeable [[graft.functions.BoundedTopK]]: O(k) state per partial,
    * partitions*k rows per query through the final shuffle, output
    * bit-identical to `row_number() OVER (PARTITION BY q_id ORDER BY
    * cosine DESC, n_id) <= k` (exact score compare, id tie-break).
    *
    * DEPLOYMENT NOTE (measured, SCALE_r15 §7): a udaf plans as
    * ObjectHashAggregate, whose sort-based fallback fires past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * DISTINCT KEYS (default 128) — a query BATCH larger than 128
    * silently sorts the entire scored stream instead of folding it
    * (141 GB spill on a 2B-row brute scan at 2,000 queries, 7.5×
    * the wall). BoundedTopK state is O(k) tiny, so raise the
    * threshold to cover the query-batch size; the default guards
    * unbounded-state aggregates like collect_list, not this one.
    */
  private[graft] def rankTopKByCosine(scored: DataFrame,
                                      k: Int): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    def ranked[D: Ordering: scala.reflect.runtime.universe.TypeTag] = {
      val top = udaf(new graft.functions.BoundedTopK[D](k))
      scored.groupBy("q_id")
        .agg(top(col("cosine"), col("n_id"), lit(0L), lit(0L)).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "r")))
        .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
          col("r.doc").as("n_id"), col("r.score").as("cosine"))
    }
    scored.schema("n_id").dataType match {
      case LongType    => ranked[Long]
      case IntegerType => ranked[Int]
      case StringType  => ranked[String]
      case dt => throw new IllegalArgumentException(
        s"rankTopKByCosine: unsupported id type $dt (need long/int/string)")
    }
  }

  /** All XOR masks within Hamming distance `radius` of 0 over `nPlanes`
    * bits, ascending-popcount then numeric — the identity mask first.
    * Driver-side and tiny (sum of binomials), never corpus-scaled.
    */
  private[operators] def hammingBallMasks(nPlanes: Int,
                                          radius: Int): Seq[Long] =
    (0 to radius).flatMap { r =>
      (0 until nPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, i) => m | (1L << i))).toSeq.sorted
    }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` items maximizing
    *
    *   score(d) = lambda·cos(d, q) − (1−lambda)·max over selected s of cos(d, s)
    *
    * — the "relevant but not redundant" exemplar picker (few-shot /
    * eval-set construction): plain top-k returns k near-copies of the
    * best hit; MMR's redundancy penalty spreads the picks.
    *
    * Selection is INHERENTLY sequential (step i's penalty needs step
    * i−1's pick), so like Bpe.train this runs one Spark job per step —
    * k bounded driver round-trips, each a MAP-ONLY scan: rel and norm
    * are computed once and cached; the selected set is ≤ k literal
    * vectors folded into a codegen'd `greatest`-of-`vec_dot` chain
    * (exact max is associative, so the pairwise fold is bit-equal to a
    * flat max; k stays far below the ~100-call JIT-width cliff the
    * verify skill documents), and the argmax is a
    * TakeOrderedAndProject — NO shuffle of the corpus at any step.
    * Ties break (score DESC, id ASC); every double arithmetic tree
    * mirrors the l66 oracle's exactly.
    */
  def mmrSelect(corpus: DataFrame, queryId: Long, idCol: String,
                vecCol: String, k: Int,
                lambda: Double = 0.5): DataFrame = {
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm("v"))
    val q = base.filter(col("id") === queryId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val cand = base.filter(col("id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("id"), col("v"), col("nrm"),
        (dot("v", "qv") / (col("nrm") * col("qn"))).as("rel"))
      .persist()
    try {
      // (id, rel, score, vector, norm) — the norm is the ENGINE's
      // sqrt(vec_dot(v, v)) carried through the collect, never
      // recomputed driver-side, so step i's cosine tree is bit-equal
      // to the oracle's (which reads the same norm from its CTE).
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Double, Array[Double], Double)]
      // breakOut flag instead of `1 to k` alone: when k exceeds the
      // candidate count the greedy step below would collect an empty
      // array and throw AIOOBE — return the picks made so far instead
      // (a short result IS the correct MMR answer for an exhausted pool)
      var exhausted = false
      for (_ <- 1 to k if !exhausted) {
        val maxsim =
          if (sel.isEmpty) lit(0.0)
          else sel.map { case (_, _, _, sv, sn) =>
            call_function("vec_dot", col("v"), lit(sv)) /
              (col("nrm") * lit(sn))
          }.reduce(greatest(_, _))
        val remaining =
          if (sel.isEmpty) cand
          else cand.filter(!col("id").isin(sel.map(_._1).toSeq: _*))
        val top = remaining
          .withColumn("score",
            lit(lambda) * col("rel") - lit(1.0 - lambda) * maxsim)
          .orderBy(col("score").desc, col("id").asc).limit(1)
          .select("id", "rel", "score", "v", "nrm").collect()
        if (top.isEmpty) exhausted = true
        else {
          val row = top(0)
          sel += ((row.getLong(0), row.getDouble(1), row.getDouble(2),
            row.getSeq[Double](3).toArray, row.getDouble(4)))
        }
      }
      import spark.implicits._
      sel.zipWithIndex.map { case ((id, rel, score, _, _), i) =>
        (i + 1L, id, rel, score)
      }.toSeq.toDF("rank", "id", "rel", "score")
    } finally { cand.unpersist(); () }
  }
}
