package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.core.Tables

class SimilaritySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import s.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("brute-force top-k ranks by cosine with deterministic ties") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f)),  // nearly parallel to q
      (2L, Array(0.0f, 1.0f)),   // orthogonal
      (3L, Array(-1.0f, 0.0f)))  // opposite
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 3)
      .orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("n_id")))
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("LSH ANN: bucketed candidates only, recall measured vs brute force") {
    val emb = Tables.embeddings(s, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nTables: Int): (Double, Set[(Long, Long)]) = {
      val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          k = 5, dim = 64, nPlanes = 4, nTables = nTables)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ((ann & brute).size.toDouble / brute.size, ann)
    }
    // single-table recall for top-5 neighbors (cosine ~0.5 in this data)
    // is theoretically r^4 ~ 0.2 with r = 1 - acos(c)/pi; 4 independent
    // tables lift it to 1-(1-r^4)^4 ~ 0.6 — assert the dial works and
    // leaves margin for the data's actual neighbor similarities
    val (r1, ann1) = recallAt(1)
    val (r4, ann4) = recallAt(4)
    assert(ann1.nonEmpty && ann4.nonEmpty)
    assert(r4 >= r1, s"more tables must not lose recall ($r1 -> $r4)")
    assert(r4 >= 0.3, s"recall@4tables $r4")
  }

  test("multi-probe LSH: widening the Hamming probe radius only ADDS " +
    "candidates, so recall is monotone in the radius and radius 2 " +
    "clears the floor the exact-bucket form misses") {
    val emb = Tables.embeddings(s, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(radius: Int): Double = {
      val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          k = 5, dim = 64, nPlanes = 8, nTables = 4, multiProbe = radius)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (ann & brute).size.toDouble / brute.size
    }
    val r0 = recallAt(0)
    val r1 = recallAt(1)
    val r2 = recallAt(2)
    assert(r1 >= r0 && r2 >= r1,
      s"recall must be monotone in probe radius ($r0 -> $r1 -> $r2)")
    assert(r2 >= 0.6, s"radius-2 recall floor: $r2 " +
      "(sf0.1 probe measured 0.80 — SCALE_r10.md)")
    // the generalized Hamming-ball generator: radius 3 at a 12-plane
    // design point (299 probe masks — far past the old hand-unrolled
    // radius-2 cap) stays monotone over radius 2
    def recall12(radius: Int): Double = {
      val ann = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          k = 5, dim = 64, nPlanes = 12, nTables = 2, multiProbe = radius)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (ann & brute).size.toDouble / brute.size
    }
    val t2 = recall12(2)
    val t3 = recall12(3)
    assert(t3 >= t2,
      s"radius 3 must not lose recall at 12 planes ($t2 -> $t3)")
  }

  test("hammingBallMasks enumerates the exact choose(n, <=r) ball, " +
    "identity first, no duplicates") {
    val m82 = Similarity.hammingBallMasks(8, 2)
    assert(m82.length == 1 + 8 + 28 && m82.head == 0L)
    assert(m82.distinct.length == m82.length)
    assert(m82.forall(m => java.lang.Long.bitCount(m) <= 2))
    val m123 = Similarity.hammingBallMasks(12, 3)
    assert(m123.length == 1 + 12 + 66 + 220)
    assert(m123.forall(m => m >= 0 && m < (1L << 12) &&
      java.lang.Long.bitCount(m) <= 3))
    assert(Similarity.hammingBallMasks(4, 0) == Seq(0L))
  }

  test("IVF ANN: probing more cells raises recall; single-cell assignment " +
    "keeps candidates bounded") {
    val emb = Tables.embeddings(s, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          k = 5, nCells = 16, nProbe = nProbe)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (ivf & brute).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    val r8 = recallAt(8)
    assert(r8 >= r2, s"recall should not drop with more probes ($r2 -> $r8)")
    assert(r8 >= 0.4, s"recall@nProbe=8 was $r8")
  }

  test("IVF with Lloyd-refined centroids: output stays well-formed " +
    "(<= k ranked hits per query, exact cosines) and recall does not " +
    "collapse vs the sampled-centroid form") {
    val emb = Tables.embeddings(s, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
      .toMap
    val refined = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 4, refineIters = 2)
      .collect()
    val perQuery = refined.groupBy(_.getLong(0))
    assert(refined.nonEmpty)
    perQuery.foreach { case (q, rows) =>
      assert(rows.length <= 5, s"query $q returned ${rows.length} hits")
      assert(rows.map(_.getLong(1)).sorted.toSeq ==
        (1L to rows.length).toSeq, s"query $q ranks not 1..k")
    }
    // every returned (q, n) pair carries the EXACT brute-force cosine:
    // refinement changes the candidate set, never the scoring
    refined.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      brute.get(key).foreach(b => assert(b == r.getDouble(3),
        s"cosine mismatch for $key"))
    }
    val hits = refined.map(r => (r.getLong(0), r.getLong(2)))
      .count(p => brute.contains(p))
    val recall = hits.toDouble / brute.size
    // loose floor: sf0.1 probe measured 0.50 (vs 0.48 unrefined) —
    // refinement must not break the index, SCALE_r10.md §3b
    assert(recall >= 0.2, s"refined-centroid recall collapsed: $recall")
  }

  // Deterministic pseudo-random unit-ish vector for the planted fixture.
  private def fixtureVec(seed: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      (math.sin(seed * 7919.0 + d * 104729.0) * 0.5).toFloat
    }

  // Copy of `v` nudged so cosine(v, out) stays >= ~0.99.
  private def nearCopy(v: Array[Float], seed: Int): Array[Float] =
    v.zipWithIndex.map { case (x, d) =>
      (x + math.sin(seed * 31.0 + d) * 0.01).toFloat
    }

  test("cosine near-dup pairs: planted near-dups are all recovered " +
    "(recall vs brute force), precision exact, no all-pairs") {
    val dim = 32
    val base = (0L until 100L).map(i => (i, fixtureVec(i.toInt, dim)))
    // plant 10 near-duplicate partners (ids 100..109 ~ copies of 0..9)
    val planted = (0 until 10).map(i =>
      (100L + i, nearCopy(base(i)._2, seed = i)))
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.9, dim = dim, nPlanes = 4, nTables = 8)
    assert(!pairs.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val found = pairs.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(found.nonEmpty, "planted near-dups must be found")
    // ground truth via brute force (small fixture, test-only)
    val ids = (base ++ planted)
    val truth = (for {
      (ia, va) <- ids; (ib, vb) <- ids if ia < ib
      dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      na = math.sqrt(va.map(x => x.toDouble * x.toDouble).sum)
      nb = math.sqrt(vb.map(x => x.toDouble * x.toDouble).sum)
      if dot / (na * nb) >= 0.9
    } yield (ia, ib)).toSet
    assert(truth.size >= 10, s"fixture must plant >=10 true pairs, got ${truth.size}")
    val recall = (found & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
    // precision is exact by construction: everything emitted is a true pair
    assert((found -- truth).isEmpty, s"false positives: ${found -- truth}")
  }

  test("l12 gate query: non-vacuous on the driver's testdata at the " +
    "design-point config (tau=0.9, twins recovered, no all-pairs)") {
    // pin the REGISTERED query, not a lookalike
    val pairs = graft.SparkEntry.queries("l12_cosine_near_dup")(s, sf)
    assert(!pairs.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val rows = pairs.collect()
    assert(rows.nonEmpty, "l12 gate config must be non-vacuous on testdata")
    rows.foreach(r => assert(r.getAs[Double]("cosine") >= 0.9))
    // the bulk of recovered pairs must be (original, twin) couples
    val twinPairs = rows.count(r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L)
    assert(twinPairs >= 400,
      s"expected >=400 of 500 planted twins at sf0.001 " +
        s"(theoretical recall ~0.94), got $twinPairs")
  }

  test("fused lsh_buckets equals the composed per-table lshBucket " +
    "columns bit-for-bit at the l12 design point") {
    val emb = Tables.embeddings(s, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    def collected(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = collected(emb.select(col("vec_id"),
      array((0 until 8).map(t =>
        Similarity.lshBucket("v", 12, 64, planeOffset = t * 12)): _*)
        .as("b")))
    val fused = collected(emb.select(col("vec_id"),
      Similarity.lshBucketsAll("v", 12, 64, 8).as("b")))
    assert(fused.size == 500)
    assert(fused == composed)
  }

  test("lsh_buckets with wrong arity fails analysis with the expected " +
    "signature, not an IndexOutOfBoundsException") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT lsh_buckets(array(1.0D, 2.0D))").collect()
    }
    assert(e.getMessage.contains("lsh_buckets"))
    assert(e.getMessage.contains("5"))
  }

  test("capped cosine near-dup: under-cap corpora match the uncapped " +
    "output bit-exactly; an over-cap mega-cluster emits LINEAR star " +
    "pairs that keeper-resolution closes into one component") {
    val dim = 32
    // (1) healthy corpus — every cell under the cap: capped == uncapped,
    // including the cosine doubles (same fold order on both paths)
    val base = (0L until 100L).map(i => (i, fixtureVec(i.toInt, dim)))
    val planted = (0 until 10).map(i =>
      (100L + i, nearCopy(base(i)._2, seed = i)))
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    def rowset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("cosine"))).toSet
    val uncapped = Similarity.cosineNearDupPairs(corpus, "vec_id",
      "embedding", threshold = 0.9, dim = dim, nPlanes = 4, nTables = 8)
    val capped = Similarity.cosineNearDupPairsCapped(corpus, "vec_id",
      "embedding", threshold = 0.9, dim = dim, nPlanes = 4, nTables = 8,
      maxBucket = 64)
    assert(rowset(capped) == rowset(uncapped))
    // (2) mega-cluster: 200 IDENTICAL vectors (the boilerplate shape that
    // spills at 50x scale — SCALE_r06.md). Cluster ids 0..199 sit below
    // every other id, so each cell containing the cluster has a cluster
    // member as its min-id representative.
    val mega = (0L until 200L).map(i => (i, fixtureVec(7, dim)))
    val others = (0 until 90).map(i =>
      (10000L + i, fixtureVec(1000 + i, dim)))
    val clustered = (mega ++ others).toDF("vec_id", "embedding")
    val starred = Similarity.cosineNearDupPairsCapped(clustered, "vec_id",
      "embedding", threshold = 0.9, dim = dim, nPlanes = 4, nTables = 8,
      maxBucket = 16)
    assert(!starred.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    val rows = rowset(starred)
    val clusterPairs = rows.filter { case (a, b, _) => a < 200L && b < 200L }
    // linear star output: 199 (rep 0, member) pairs, not C(200,2) = 19900
    assert(clusterPairs.map { case (a, b, _) => (a, b) } ==
      (1L until 200L).map(i => (0L, i)).toSet)
    clusterPairs.foreach { case (_, _, c) =>
      assert(math.abs(c - 1.0) < 1e-9, s"identical vectors, cosine $c")
    }
    // keeper resolution recovers the full cluster from the star pairs
    val ids = clustered.select(col("vec_id").as("doc_id"))
    val keepers = DedupSpec.keepers(starred, ids)
    assert((0L until 200L).forall(keepers(_) == 0L),
      "every cluster member must resolve to the representative")
  }

  test("l12c gate query equals l12 bit-for-bit at the gate SF (the " +
    "under-cap regime its registry comment claims)") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(s, sf).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("cosine"))).toSet
    val uncapped = rows("l12_cosine_near_dup")
    val capped = rows("l12c_cosine_near_dup_capped")
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
  }

  test("int8 quantization: values stay in [-127, 127] and reconstruction " +
    "error is bounded by half a quantization step") {
    val emb = Tables.embeddings(s, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val stats = emb.select(Similarity.int8QuantStats("v").as("q"))
      .select("q.scale", "q.qmin", "q.qmax").collect()
    assert(stats.length == 500)
    stats.foreach { r =>
      assert(r.getLong(1) >= -127 && r.getLong(2) <= 127)
      assert(r.getDouble(0) > 0)
    }
    // reconstruction: |x/nrm - q*scale| <= scale/2 for every component
    val maxErr = emb.select(expr(
      """element_at(transform(array(sqrt(vec_dot(v, v))), nrm ->
           element_at(transform(array(
               array_max(transform(v, x -> abs(x / nrm))) / 127.0D), sc ->
             array_max(transform(v, x ->
               abs(x / nrm - round(x / nrm / sc, 0) * sc) / sc))), 1)), 1)
      """).as("relErr"))
      .agg(max("relErr")).collect()(0).getDouble(0)
    assert(maxErr <= 0.5 + 1e-9, s"max reconstruction error $maxErr steps")
  }

  test("ivfTopK construction triggers no Spark job (lazy centroid sample)") {
    // read (and schema-infer) the inputs BEFORE the listener window: the
    // assertion is about the OPERATOR's construction, not the scan setup
    val emb = Tables.embeddings(s, sf)
    val queries = emb.filter(col("vec_id") < 10)
    emb.schema

    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    s.sparkContext.addSparkListener(listener)
    try {
      Similarity.ivfTopK(emb, queries,
        "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
      Thread.sleep(1000) // listener events are delivered asynchronously
      assert(jobs == 0, s"operator construction ran $jobs job(s)")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("ANN plan never materializes all pairs (join is on bucket id)") {
    val emb = Tables.embeddings(s, sf)
    val plan = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, nPlanes = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("clusterBalancedSample: every vector lands in exactly one cell, " +
    "the cap binds per cell, the tail survives whole, and the kept " +
    "set is layout-invariant") {
    val emb = Tables.embeddings(s, sf)
    def run(parts: Int) = Similarity.clusterBalancedSample(
        emb.repartition(parts), "vec_id", "embedding",
        nCells = 8, cap = 20,
        centroidRank = Similarity.portableCentroidRank)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val a = run(1)
    assert(a.map(_._1).distinct.length == a.length,
      "one cell per vector")
    val perCell = a.groupBy(_._2)
    perCell.foreach { case (cell, rows) =>
      val kept = rows.count(_._3)
      assert(kept == math.min(20, rows.length),
        s"cell $cell: cap must bind exactly (kept=$kept of ${rows.length})")
    }
    assert(perCell.values.exists(_.length > 20),
      "fixture must have an over-cap cell (else the cap is vacuous)")
    assert(run(7).toSet == a.toSet, "layout invariance")
  }

  test("twoStageTopK: all-corpus candidates degenerate to bruteForceTopK " +
    "exactly; recall equals candidate coverage and is monotone in kCand; " +
    "a centered model is rejected") {
    val emb = graft.core.Tables.embeddings(s, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 5)
    val gram = Pca.fit(emb, "embedding", 64, center = false)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rnk", "n_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 5))
    // kCand = everything: stage 1 passes the whole corpus through, the
    // exact re-rank must reproduce brute force bit for bit — even in a
    // TRUNCATED stage-1 space, because candidate ORDER is irrelevant
    val all16 = pairs(Similarity.twoStageTopK(emb, queries, "vec_id",
      "embedding", gram, kReduced = 16, kCand = n - 1, k = 5))
    assert(all16 == brute,
      "exact re-rank over all candidates must equal brute force")
    // narrow candidates: recall == coverage, monotone in kCand
    val trueIds = brute.map(t => (t._1, t._3))
    def recallAt(kCand: Int): Double = {
      val got = pairs(Similarity.twoStageTopK(emb, queries, "vec_id",
        "embedding", gram, kReduced = 16, kCand = kCand, k = 5))
        .map(t => (t._1, t._3))
      trueIds.count(got.contains).toDouble / trueIds.size
    }
    val r10 = recallAt(10)
    val r50 = recallAt(50)
    assert(r10 <= r50 + 1e-12, s"recall must be monotone: $r10 vs $r50")
    assert(r50 > 0.5, s"kCand=50 over a 16-dim rotation of this corpus " +
      s"must recover most of the top-5: $r50")
    val centered = Pca.fit(emb, "embedding", 64)
    intercept[IllegalArgumentException] {
      Similarity.twoStageTopK(emb, queries, "vec_id", "embedding",
        centered, 16, 10, 5)
    }
  }

  test("cosineNearDupPairsReduced: exact precision by construction, " +
    "near-full recall on the twin fixture, deterministic, and guarded " +
    "against a centered model / inverted thresholds") {
    val emb = graft.queries.LlmOps.twinnedEmbeddings(s,
      "/root/testdata/sf0.001")
    val gram = Pca.fit(emb, "embedding", 64, center = false)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reduced = Similarity.cosineNearDupPairsReduced(emb, "vec_id",
      "embedding", gram, kReduced = 16, threshold = 0.9,
      candThreshold = 0.6, nPlanes = 12, nTables = 8)
    val got = pairSet(reduced)
    // exact ground truth: all pairs at full cosine >= 0.9, in-JVM
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      i <- vecs.indices.iterator
      j <- (i + 1) until vecs.length
      if cos(vecs(i)._2, vecs(j)._2) >= 0.9
    } yield {
      val (a, b) = (vecs(i)._1, vecs(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(got.subsetOf(truth),
      "full-space verify makes every emitted pair a true pair")
    assert(got.size >= (truth.size * 0.9).toInt,
      s"twin-fixture recall must stay high: ${got.size}/${truth.size}")
    assert(pairSet(Similarity.cosineNearDupPairsReduced(emb, "vec_id",
      "embedding", gram, 16, 0.9, 0.6, 12, 8)) == got, "deterministic")
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairsReduced(emb, "vec_id", "embedding",
        Pca.fit(emb, "embedding", 64), 16, 0.9, 0.6)
    }
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairsReduced(emb, "vec_id", "embedding",
        gram, 16, 0.9, 0.95)
    }
  }

  test("rerankTopK: duplicate candidate pairs and self-pairs cannot " +
    "occupy rank slots (any-generator hygiene)") {
    val emb = graft.core.Tables.embeddings(s, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 3)
    val base = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 3)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "rnk", "n_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // poison the candidate set: every true pair TWICE, plus a cosine-1
    // self-pair per query — a sloppy generator's worst case
    val ids = base.select("q_id", "n_id")
    val poisoned = ids.unionAll(ids).unionAll(
      queries.select(col("vec_id").as("q_id"), col("vec_id").as("n_id")))
    val got = Similarity.rerankTopK(poisoned, emb, queries, "vec_id",
      "embedding", k = 3)
    assert(pairs(got) == pairs(base),
      "dup pairs / self-pairs must not displace true neighbors")
  }

  test("hardNegativesTopK: near-dups above the threshold are excluded " +
    "(the false-negative poison), ranks close up, and a threshold above " +
    "every cosine degenerates to bruteForceTopK exactly") {
    import s.implicits._
    val rnd = new scala.util.Random(29)
    val base = (0L until 40L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }
    // plant a twin of each query vector (ids 1000+q) at tiny jitter —
    // cosine ~0.9999, far above any organic pair
    val twins = (0L until 5L).map { q =>
      (1000L + q, base(q.toInt)._2.map(x => x + 0.001f))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cosine")))
    val hard = rows(Similarity.hardNegativesTopK(corpus, queries,
      "vec_id", "embedding", k = 3, dupThreshold = 0.95))
    assert(hard.forall(_._4 < 0.95), "no output may reach the threshold")
    assert(!hard.exists(r => r._3 >= 1000L && r._3 - 1000L == r._1),
      "a query's twin must never appear among its negatives")
    assert(hard.count(_._2 == 1L) == 5, "every query keeps a rank 1")
    // reference: brute top-k over the scored-and-filtered stream
    val brute = rows(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 10))
    val expected = brute.filter(_._4 < 0.95).groupBy(_._1).toSeq.flatMap {
      case (q, rs) => rs.sortBy(r => (-r._4, r._3)).take(3).zipWithIndex
        .map { case (r, i) => (q, i + 1L, r._3, r._4) }
    }.toSet
    assert(hard.toSet == expected,
      "hard negatives must equal filter-then-rank of the brute scores")
    // threshold above everything: degenerates to bruteForceTopK
    val all = rows(Similarity.hardNegativesTopK(corpus, queries,
      "vec_id", "embedding", k = 3, dupThreshold = 2.0)).toSet
    val b3 = rows(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", k = 3)).toSet
    assert(all == b3)
  }

  test("mmrSelect matches a brute-force greedy reference on a random " +
    "corpus and skips the near-copy plain top-k would pick") {
    val rnd = new scala.util.Random(20260815L)
    val dim = 8
    def vec(): Array[Double] = Array.fill(dim)(rnd.nextDouble() - 0.5)
    val q = vec()
    // id 1 = best hit; id 2 = a near-copy of id 1 (tiny perturbation):
    // plain top-2 picks (1, 2); MMR must NOT pick 2 second.
    val best = q.map(_ * 3.0 + 0.01)
    // a slight ROTATION (not scaling — scaling leaves cosine bit-equal
    // and the winner to ulp noise): strictly worse rel, still a near-dup
    val nearCopy = best.updated(0, best(0) * 0.999).updated(1, best(1) * 1.001)
    val base: Seq[(Long, Array[Double])] =
      Seq(0L -> q, 1L -> best, 2L -> nearCopy) ++
        (3L to 40L).map(i => i -> vec())
    val df = base.toDF("vec_id", "embedding")
    val k = 6
    val lambda = 0.5
    val got = Similarity.mmrSelect(df, 0L, "vec_id", "embedding",
        k, lambda).orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // reference: the same greedy loop in plain Scala doubles
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val cands = base.filter(_._1 != 0L)
    val rel = cands.map { case (id, v) =>
      id -> dot(v, q) / (nrm(v) * nrm(q)) }.toMap
    val vs = cands.toMap
    var selected = Vector.empty[Long]
    val expect = (1 to k).map { _ =>
      val pick = cands.filterNot(c => selected.contains(c._1))
        .map { case (id, v) =>
          val maxsim =
            if (selected.isEmpty) 0.0
            else selected.map(sid =>
              dot(v, vs(sid)) / (nrm(v) * nrm(vs(sid)))).max
          (id, lambda * rel(id) - (1 - lambda) * maxsim)
        }.minBy { case (id, score) => (-score, id) }
      selected :+= pick._1
      pick
    }
    assert(got.map(_._1).toSeq == expect.map(_._1),
      s"pick order ${got.map(_._1).toSeq} != ${expect.map(_._1)}")
    got.zip(expect).foreach { case ((id, r, sc), (eid, esc)) =>
      assert(id == eid && math.abs(sc - esc) < 1e-12 &&
        math.abs(r - rel(id)) < 1e-12, s"step for $id: $sc vs $esc")
    }
    // the diversity property itself
    assert(got.head._1 == 1L, "rank 1 is the best hit")
    assert(got(1)._1 != 2L,
      "MMR must not pick the near-copy of its first pick at rank 2")
    val plain = Similarity.bruteForceTopK(df,
        df.filter($"vec_id" === 0L), "vec_id", "embedding", k = 2)
      .orderBy("rnk").collect().map(_.getAs[Long]("n_id"))
    assert(plain.toSeq == Seq(1L, 2L),
      "fixture must make plain top-2 pick the near-copy, or the " +
        "diversity assertion proves nothing")
  }

  test("mmrSelect: k beyond the candidate pool returns the exhausted " +
    "pool (short result), not an AIOOBE") {
    val df = Seq(
      0L -> Array(1.0, 0.0),
      1L -> Array(0.9, 0.1),
      2L -> Array(0.5, 0.5)).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(df, 0L, "vec_id", "embedding", k = 10)
      .orderBy("rank").collect()
    assert(got.length == 2, s"pool has 2 non-query candidates: ${got.length}")
    assert(got.map(_.getLong(1)).toSet == Set(1L, 2L))
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L), "ranks stay dense")
  }
}
