package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011) over an embedding column:
  * split each `dim`-vector into `m` subspaces of `dsub = dim / m`
  * elements, learn `ksub` codewords per subspace, and store each
  * vector as `m` small integer codes — `m * log2(ksub)` bits instead
  * of `4 * dim` bytes (the l17 scalar int8 quantizer compresses 4x;
  * PQ at the l52 design point compresses 64x), which is what a
  * 100 TB vector store actually scans. Search is asymmetric (ADC):
  * the full-precision query builds one lookup table of per-subspace
  * partial dots ([[graft.plans.PqLut]], ksub*dim multiplies per
  * query), then every corpus row scores with m lookups + adds
  * ([[graft.plans.PqLutScore]]) — per-pair compute bounded by CODE
  * length, not vector length.
  *
  * Training follows the IVF precedent (Similarity.ivfTopK): codewords
  * are a deterministic rank-ordered corpus sample — subspace s's
  * codeword c is the s-th slice of the c-th sampled vector — so the
  * whole model is replayable by the l52 DuckDB oracle when the
  * portable rank is used, and the nested-prefix property (a larger
  * ksub only ADDS codewords) gives a strict distortion-monotonicity
  * guarantee PqSpec pins. Optional Lloyd refinement (k-means per
  * subspace, engine-side like IVF's) monotonically reduces
  * distortion from that init.
  */
object Pq {

  /** Trained model: codebook layout `flat[(s*ksub + c)*dsub + i]`. */
  final case class Model(m: Int, ksub: Int, dsub: Int,
                         flat: Array[Double]) {
    def flatLit: Column = lit(flat)
    def codeword(s: Int, c: Int): Array[Double] =
      flat.slice((s * ksub + c) * dsub, (s * ksub + c + 1) * dsub)
  }

  /** Deterministic rank-ordered sample fit (one small collect of ksub
    * vectors — the centroid-sample trick; rows beyond the sample are
    * never touched). `rank` defaults to xxhash64; pass
    * [[Similarity.portableCentroidRank]] for the oracle-replayable
    * form.
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
          m: Int, ksub: Int,
          rank: Column => Column = c => xxhash64(c),
          lloydIters: Int = 0): Model = {
    require(m >= 1 && dim % m == 0,
      s"dim=$dim must split into m=$m equal subspaces")
    val dsub = dim / m
    val sample = corpus
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(rank(col("id")), col("id"))
      .limit(ksub)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.length == ksub,
      s"corpus has only ${sample.length} rows for a ksub=$ksub sample")
    val flat = new Array[Double](m * ksub * dsub)
    for (s <- 0 until m; c <- 0 until ksub; i <- 0 until dsub)
      flat((s * ksub + c) * dsub + i) = sample(c)(s * dsub + i)
    val init = Model(m, ksub, dsub, flat)
    if (lloydIters <= 0) init else refine(corpus, vecCol, init, lloydIters)
  }

  /** Lloyd refinement, per subspace, engine-side (no oracle — same
    * class as IVF's optional refinement): assign every subvector to
    * its nearest codeword (the fused [[graft.plans.PqEncodeAll]]),
    * recompute codewords as cell means, repeat. Each step is one
    * map-only encode pass plus one (s, code, i)-keyed average —
    * map-combinable, O(m * ksub * dsub) result rows collected. Empty
    * cells keep their previous codeword. K-means monotonicity (total
    * distortion never increases from the init) is PqSpec-pinned.
    */
  def refine(corpus: DataFrame, vecCol: String, model: Model,
             iters: Int): Model = {
    var cur = model
    for (_ <- 0 until iters) {
      val means = corpus
        .select(col(vecCol).cast("array<double>").as("v"))
        .withColumn("codes", encodeCol(col("v"), cur))
        .select(col("v"),
          posexplode(col("codes")).as(Seq("s", "code")))
        .select(col("s"), col("code"),
          posexplode(expr(
            s"slice(v, s * ${cur.dsub} + 1, ${cur.dsub})"))
            .as(Seq("i", "x")))
        .groupBy("s", "code", "i").agg(avg("x").as("mean"))
        .collect()
      val flat = cur.flat.clone()
      means.foreach { r =>
        val s = r.getAs[Int]("s")
        val c = r.getAs[Long]("code").toInt
        val i = r.getAs[Int]("i")
        flat((s * cur.ksub + c) * cur.dsub + i) = r.getAs[Double]("mean")
      }
      cur = cur.copy(flat = flat)
    }
    cur
  }

  /** All m codes of a vector column, one fused compiled loop. */
  def encodeCol(vec: Column, model: Model): Column =
    call_function("pq_encode_all", vec.cast("array<double>"),
      model.flatLit, lit(model.dsub), lit(model.ksub))

  /** (id, codes array<long>) — the stored form: map-only, no shuffle. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame =
    corpus.select(col(idCol),
      encodeCol(col(vecCol), model).as("codes"))

  /** (id, sub, code) exploded — the oracle-comparable form. */
  def encodeExploded(corpus: DataFrame, idCol: String, vecCol: String,
                     model: Model): DataFrame =
    encode(corpus, idCol, vecCol, model)
      .select(col(idCol),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col(idCol), col("sub").cast("long").as("sub"), col("code"))

  /** Residual fit (the true FAISS IVFPQ refinement of
    * [[Similarity.ivfPqTopK]]'s global-codebook form): vectors are
    * first assigned to their IVF cell, and the PQ codebooks are
    * trained on the RESIDUALS `vec - centroid[cell]`. The residual
    * step is the native codegen'd `vec_sub` (a zip_with HOF here would
    * run an interpreted lambda per element on the encode hot path);
    * the centroid lookup is a broadcast join on the nCells-bounded
    * table.
    *
    * When it pays — measured both ways: residual refinement presumes
    * residual STRUCTURE. On the structured-jitter PqSpec fixture the
    * residual reconstruction beats the global codebook by two orders
    * of magnitude at the same ksub; on the isotropic-jitter 100k
    * probe corpus the residuals are unquantizable noise and the
    * global form's pick quality is HIGHER (0.968 vs 0.940,
    * SCALE_r12 §20). Both forms share every kernel and cost the same
    * — measure per corpus.
    */
  def fitResidual(corpus: DataFrame, idCol: String, vecCol: String,
                  dim: Int, m: Int, ksub: Int,
                  centroids: DataFrame,
                  rank: Column => Column = c => xxhash64(c),
                  lloydIters: Int = 0): Model = {
    val res = residuals(corpus, idCol, vecCol, centroids)
    fit(res, idCol, "rv", dim, m, ksub, rank, lloydIters)
  }

  /** (idCol, cell, rv = vec - centroid[cell]) — shared by the residual
    * fit, encode, and probes. Map-only: fused nearest_cell assignment
    * + broadcast centroid lookup + native vec_sub.
    */
  private[graft] def residuals(corpus: DataFrame, idCol: String,
                               vecCol: String,
                               centroids: DataFrame): DataFrame = {
    val cc = Similarity.collectCentroids(centroids)
    corpus.select(col(idCol),
        col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("cell", Similarity.nearestCellCol(col("__cv"), cc))
      .join(broadcast(centroids.select(col("cell"), col("centroid"))),
        Seq("cell"))
      .select(col(idCol), col("cell"),
        call_function("vec_sub", col("__cv"), col("centroid")).as("rv"))
  }

  /** (id, cell, codes) with codes over the RESIDUAL codebook. */
  def encodeResidual(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, model: Model): DataFrame =
    residuals(corpus, idCol, vecCol, centroids)
      .select(col(idCol), col("cell"),
        encodeCol(col("rv"), model).as("codes"))

  /** Residual IVF-PQ top-k by inner product: since
    * IP(q, centroid + residual) = IP(q, centroid) + IP(q, residual),
    * each (query, probed cell) pair carries one exact centroid dot and
    * the residual part is the standard ADC lookup — same per-pair cost
    * (m lookups + adds + one add) as the global form, same plan shape
    * (fused assignment, broadcast query LUTs, BoundedTopK), finer
    * quantization. Output (q_id, rnk, n_id, adc_ip).
    */
  def ivfPqTopKResidual(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        model: Model, centroids: DataFrame,
                        nProbe: Int = 4): DataFrame =
    ivfPqTopKResidualCodes(
      encodeResidual(corpus, idCol, vecCol, centroids, model)
        .withColumnRenamed(idCol, "n_id"),
      queries, idCol, vecCol, k, model, centroids, nProbe)

  /** [[ivfPqTopKResidual]] against a STANDING codes table
    * (`(n_id, cell, codes)` from [[encodeResidual]], persisted/cached
    * once) — the production shape: the per-query-batch cost is the
    * probed-cells code scan only, never a corpus re-encode. SCALE_r15.md
    * §7 prices the two forms separately.
    */
  def ivfPqTopKResidualCodes(assigned: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             model: Model, centroids: DataFrame,
                             nProbe: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", Similarity.norm("qv"))
    val probed = Similarity
      .assignCells(q, "qv", "qn", centroids, "cell", take = nProbe)
      .join(broadcast(centroids.select(col("cell"), col("centroid"))),
        Seq("cell"))
      .select(col("cell"), col("q_id"),
        call_function("vec_dot", col("qv"), col("centroid")).as("qc"),
        call_function("pq_lut", col("qv"), model.flatLit,
          lit(model.dsub), lit(model.ksub)).as("lut"))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        col("qc") + call_function("pq_lut_score", col("lut"),
          col("codes"), lit(model.ksub)))
    Similarity.rankTopKByCosine(
        scored.select("q_id", "n_id", "cosine"), k)
      .withColumnRenamed("cosine", "adc_ip")
  }

  /** ADC top-k by inner product (MIPS): full-precision queries against
    * the CODES table. Per query one LUT (ksub*dim multiplies), per
    * (query, code-row) pair m lookups+adds; ranking through the
    * mergeable BoundedTopK like the whole ANN family — no per-query
    * window funnel, no corpus-sized shuffle (only partitions*k rows
    * per query move). Output (q_id, rnk, n_id, adc_ip), ties broken
    * by id. At 100 TB the scan side reads CODES (m bytes/vector), not
    * vectors — the 64x I/O cut is the operator's reason to exist; an
    * exact re-rank of the survivors (Similarity.rerankTopK) restores
    * full-precision ranks where needed.
    */
  def adcTopK(codes: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, model: Model, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      call_function("pq_lut", col(vecCol).cast("array<double>"),
        model.flatLit, lit(model.dsub), lit(model.ksub)).as("lut"))
    val scored = codes
      .select(col(idCol).as("n_id"), col("codes"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        call_function("pq_lut_score", col("lut"), col("codes"),
          lit(model.ksub)))
    Similarity.rankTopKByCosine(
        scored.select("q_id", "n_id", "cosine"), k)
      .withColumnRenamed("cosine", "adc_ip")
  }
}
