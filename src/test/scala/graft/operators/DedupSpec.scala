package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

object DedupSpec {

  /** (doc, keeper) for every id in `ids` (column `doc_id`): the min id
    * of its connected component over the (doc_a, doc_b) pair graph,
    * singletons keeping themselves — l39's left join back onto the
    * corpus ids.
    */
  def keepers(pairs: DataFrame, ids: DataFrame): Map[Long, Long] = {
    val comp = GraphRank.connectedComponents(pairs, "doc_a", "doc_b")
    try ids.join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally comp.unpersist()
  }
}

class DedupSpec extends AnyFunSuite {
  import DedupSpec.keepers
  private lazy val s = TestSpark.spark
  import s.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("exact dedup groups normalized copies and keeps the min id") {
    val docs = Seq(
      (1L, "Hello  World"), (2L, "  hello world "), (3L, "HELLO WORLD"),
      (4L, "something else")).toDF("doc_id", "text")
    val out = Dedup.exactDupGroups(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
      .toSet
    assert(out == Set((1L, 3L), (4L, 1L)))
  }

  test("ngram Jaccard: known overlap computes exactly") {
    // shingle sets: a = {x y z, y z w}, b = {x y z, y z q} -> J = 1/3
    val docs = Seq((1L, "x y z w"), (2L, "x y z q")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.1)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard") == 1.0 / 3.0)
  }

  test("hot-shingle cap: identical pairs on testdata with the cap " +
    "engaged, and exact jaccard values either way") {
    val docs = Tables.documents(s, sf)
    def pairs(cap: Int) = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = cap)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val uncapped = pairs(Int.MaxValue)
    val capped = pairs(50)
    assert(uncapped.nonEmpty)
    assert(capped == uncapped,
      s"cap=50 changed results: ${capped.diff(uncapped)} vs ${uncapped.diff(capped)}")
  }

  test("hot-shingle cap: a boilerplate shingle shared by every doc stops " +
    "generating quadratic candidates once capped") {
    val boiler = "copyright license header text"
    // 200 docs: all share the boilerplate prefix; only 0 and 1 are real
    // dups (identical bodies)
    val docs = (0L until 200L).map { i =>
      val body = if (i <= 1) "payload for row zero alpha beta"
        else s"payload for row $i alpha beta"
      (i, s"$boiler $body")
    }.toDF("doc_id", "text")
    val uncapped = Dedup.ngramCandidates(docs, "doc_id", "text", n = 3)
      .count()
    val capped = Dedup.ngramCandidates(docs, "doc_id", "text", n = 3,
      maxDocFreq = 10).count()
    assert(uncapped >= 19900, s"boilerplate should force all-pairs: $uncapped")
    assert(capped < uncapped / 100,
      s"cap must cut candidates by orders of magnitude: $uncapped -> $capped")
    // the real dup pair still survives the cap AND verifies
    val found = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5, maxDocFreq = 10)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(found.contains((0L, 1L)), s"planted dup lost: ${found.toSeq}")
  }

  test("prefix filter: equals the full inverted-index join at several " +
    "thresholds on testdata (the completeness theorem), string and " +
    "hashed keys alike") {
    val docs = Tables.documents(s, sf)
    for (tau <- Seq(0.2, 0.5, 0.8)) {
      val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = tau)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      val pf = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = tau)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      val pfh = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = tau, hashedShingles = true)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      assert(pf == full, s"tau=$tau: prefix filter lost/added pairs: " +
        s"missing=${full.diff(pf).take(5)} extra=${pf.diff(full).take(5)}")
      assert(pfh == full, s"tau=$tau hashed diverged")
    }
  }

  test("prefix filter: hot boilerplate shingles generate ~no candidates " +
    "(they sit at the end of the rarest-first order) yet the planted " +
    "dup pair is still found — the cap's win without the cap's recall " +
    "loss") {
    val boiler = "copyright license header text"
    val docs = (0L until 200L).map { i =>
      val body = if (i <= 1) "payload for row zero alpha beta"
        else s"payload for row $i alpha beta"
      (i, s"$boiler $body")
    }.toDF("doc_id", "text")
    val fullCand = Dedup.ngramCandidates(docs, "doc_id", "text", n = 3)
      .count()
    // tau=0.8: the inter-doc boilerplate overlap (J~0.45) is far below
    // threshold, so the rarest-first prefixes (the per-doc shingles)
    // stop indexing the hot boilerplate entirely. (At a tau close to
    // the boilerplate similarity every complete method must consider
    // those near-miss pairs — the filter's power is threshold-relative.)
    val pfCand = Dedup.prefixFilterCandidates(docs, "doc_id", "text",
      n = 3, threshold = 0.8).count()
    assert(fullCand >= 19900, s"boilerplate should force all-pairs: $fullCand")
    assert(pfCand < fullCand / 100,
      s"prefix filter must cut candidates by orders of magnitude: " +
        s"$fullCand -> $pfCand")
    val found = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(found.contains((0L, 1L)), s"planted dup lost: ${found.toSeq}")
    // and unlike the df cap, a pair similar ONLY through "hot" content
    // is still found: 50 identical docs (every shingle df=50) must all
    // pair up under the prefix filter, where maxDocFreq=10 finds none
    val hotDocs = (0L until 50L).map(i => (i, "alpha beta gamma delta " +
      "epsilon zeta eta theta")).toDF("doc_id", "text")
    val pfHot = Dedup.prefixFilterJaccardPairs(hotDocs, "doc_id", "text",
      n = 3, threshold = 0.9).count()
    val cappedHot = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text",
      n = 3, threshold = 0.9, maxDocFreq = 10).count()
    assert(pfHot == 50L * 49 / 2, s"prefix filter must keep all-dup " +
      s"corpus complete: $pfHot")
    assert(cappedHot == 0L, "df cap drops pairs similar only through " +
      "hot shingles (the documented recall trade this operator removes)")
  }

  test("prefix filter: random fuzz vs brute force at tau=0.6") {
    val rng = new scala.util.Random(41)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docs = (0L until 60L).map { i =>
      val len = 3 + rng.nextInt(10)
      (i, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val pf = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.6)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    assert(pf == full,
      s"missing=${full.diff(pf).take(5)} extra=${pf.diff(full).take(5)}")
  }

  test("ngram-Jaccard param fuzz: Spark pairs == an in-memory brute " +
    "reference across random corpora, n in {2,3}, tau in {0.2,0.34,0.5}") {
    for ((n, tau, seed) <- Seq((2, 0.2, 101), (2, 0.5, 103),
        (3, 0.34, 107), (3, 0.5, 109))) {
      val rng = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e", "f")
      val base = (0L until 45L).map { i =>
        (i, Seq.fill(n + rng.nextInt(9))(
          vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      // plant near-dups so every (n, tau) arm is non-vacuous: an exact
      // copy and a one-token append of the longest doc
      val donor = base.maxBy(_._2.length)._2
      val docs = base ++ Seq((100L, donor), (101L, donor + " a"))
      def shingle(t: String): Set[String] =
        t.split(" ").filter(_.nonEmpty).sliding(n)
          .filter(_.length == n).map(_.mkString(" ")).toSet
      val brute = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        sa = shingle(ta); sb = shingle(tb)
        if sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= tau
      } yield (a, b, j)).toSet
      val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", n = n, threshold = tau)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      assert(got == brute, s"n=$n tau=$tau seed=$seed: " +
        s"missing=${brute.diff(got).take(3)} extra=${got.diff(brute).take(3)}")
      assert(brute.nonEmpty, s"n=$n tau=$tau must be non-vacuous")
    }
  }

  test("contamination scores: cap engaged leaves testdata scores exact") {
    val docs = Tables.documents(s, sf)
    val corpus = docs.filter(col("doc_id") >= 25)
    val bench = docs.filter(col("doc_id") < 25)
    def scores(cap: Int) = Dedup.contaminationScores(corpus, bench,
        "doc_id", "text", n = 3, maxDocFreq = cap)
      .collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Double]("max_overlap"))).toSet
    assert(scores(50) == scores(Int.MaxValue))
  }

  test("bloom-prefiltered contamination equals the direct form — " +
    "including at an absurd fpp — and the bloom predicate sits in the " +
    "corpus-side plan") {
    val docs = Tables.documents(s, sf)
    val corpus = docs.filter(col("doc_id") >= 25)
    val bench = docs.filter(col("doc_id") < 25)
    val direct = Dedup.contaminationScores(corpus, bench,
        "doc_id", "text", n = 3).collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Double]("max_overlap")))
      .toSet
    // fpp 0.4: nearly half the misses pass the filter — every one of
    // them must die in the exact join, leaving scores identical
    for (fpp <- Seq(0.03, 0.4)) {
      val bloomed = Dedup.contaminationScoresBloom(corpus, bench,
        "doc_id", "text", n = 3, fpp = fpp)
      assert(bloomed.collect()
        .map(r => (r.getAs[Long]("doc"), r.getAs[Double]("max_overlap")))
        .toSet == direct, s"fpp=$fpp must be transparent")
      assert(bloomed.queryExecution.executedPlan.toString
        .contains("bloom_might_contain"),
        "the map-side bloom prefilter must survive optimization")
    }
  }

  test("MinHash-LSH finds the planted near-dups: recall >= 0.9 vs the " +
    "exact pairs at J >= 0.2, perfect precision by construction") {
    val docs = Tables.documents(s, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh.subsetOf(exact), "verification step guarantees precision")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (found ${lsh.size}/${exact.size})")
  }

  test("portable MinHash-LSH matches the xxhash64 form's guarantees: " +
    "recall >= 0.9 vs exact pairs, perfect precision") {
    val docs = Tables.documents(s, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairsPortable(docs, "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verification step guarantees precision")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (found ${lsh.size}/${exact.size})")
  }

  test("LSH plan contains no cartesian/nested-loop join") {
    val plan = Dedup.minHashLshPairs(Tables.documents(s, sf),
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoop"))
  }

  test("keeper resolution: chained pairs collapse to one component, " +
    "singletons keep themselves") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L).toDF("doc_id")
    val keeper = keepers(pairs, ids)
    // the 1-2-3-4 chain (diameter 3) all resolve to 1
    assert(Seq(1L, 2L, 3L, 4L).forall(keeper(_) == 1L))
    assert(keeper(5L) == 5L)   // untouched singleton
    assert(keeper(10L) == 10L & keeper(11L) == 10L)
    // survivors = docs that keep themselves
    assert(keeper.count { case (d, k) => d == k } == 3)
  }

  test("end-to-end dedup: MinHash pairs + keeper resolution shrink the " +
    "corpus by exactly the number of planted near-dups") {
    val docs = Tables.documents(s, sf)
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5)
    val survivors = keepers(pairs, docs.select("doc_id"))
      .count { case (d, k) => d == k }
    val dropped = docs.count() - survivors
    assert(dropped > 0, "planted near-dups must be dropped")
    assert(dropped <= pairs.count(), "can't drop more docs than pairs imply")
  }

  test("simhash is deterministic and near-identical docs land within " +
    "small Hamming distance") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"), Dedup.simHash16("text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps.values.forall(v => v >= 0 && v < 65536))
    val pairs = Dedup.simHashNearPairs(docs, "doc_id", "text", maxDist = 0)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("dup-span removal cuts exactly the cross-doc duplicated window " +
    "positions and leaves unique docs untouched") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $shared b1 b2"),     // span at positions 3..12 of 14
      (2L, s"c1 $shared d1 d2 d3"),     // span at positions 2..11 of 14
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"), // unique: untouched
      (4L, "v1 v2 v3"),                 // shorter than n: no grams
      (5L, "")).toDF("doc_id", "text")  // empty: Spark sequence(1,0) trap
    val out = Dedup.dupSpanRemoval(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_positions"),
          r.getAs[String]("clean_text")))).toMap
    assert(out(1L) == ((14L, 10L, "a1 a2 b1 b2")))
    assert(out(2L) == ((14L, 10L, "c1 d1 d2 d3")))
    assert(out(3L) == ((10L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")))
    assert(out(4L) == ((3L, 0L, "v1 v2 v3")))
    assert(out(5L) == ((0L, 0L, "")))
    // ratio is the exact IEEE quotient
    val r1 = Dedup.dupSpanRemoval(docs, "doc_id", "text", n = 8)
      .filter(col("doc_id") === 1L).collect().head
      .getAs[Double]("dup_ratio")
    assert(r1 == 10.0 / 14.0)
  }

  test("hashed gram keys: dup-span removal and ngram Jaccard outputs " +
    "are value-identical to the string-key paths on testdata") {
    val docs = Tables.documents(s, sf)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(Dedup.dupSpanRemoval(docs, "doc_id", "text", n = 8,
        hashedGramKeys = true)) ==
      canon(Dedup.dupSpanRemoval(docs, "doc_id", "text", n = 8)))
    assert(canon(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2,
        hashedShingles = true)) ==
      canon(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2)))
    // ...and through the CAPPED verify path (array<long> intersect_count)
    assert(canon(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2,
        maxDocFreq = 10, hashedShingles = true)) ==
      canon(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2,
        maxDocFreq = 10)))
  }

  test("dup-span removal plan has no cartesian product") {
    val docs = Tables.documents(s, sf)
    val plan = Dedup.dupSpanRemoval(docs, "doc_id", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("dup-span removal matches a brute-force reference on random " +
    "corpora with planted shared spans") {
    val n = 3
    // O(docs * len) in-memory reference: a position is covered iff some
    // n-window starting in [pos-n+1, pos] occurs in >= 2 distinct docs
    def brute(docs: Seq[(Long, String)])
        : Map[Long, (Long, Long, String)] = {
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toVector }
      val gramDocs = scala.collection.mutable.Map[String, Set[Long]]()
      for ((id, tk) <- toks; i <- 0 to tk.length - n) {
        val g = tk.slice(i, i + n).mkString(" ")
        gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
      }
      toks.map { case (id, tk) =>
        val covered = (0 to tk.length - n).flatMap { i =>
          val g = tk.slice(i, i + n).mkString(" ")
          if (gramDocs(g).size >= 2) i until i + n else Seq.empty
        }.toSet
        val clean = tk.zipWithIndex.collect {
          case (t, i) if !covered(i) => t }.mkString(" ")
        id -> ((tk.length.toLong, covered.size.toLong, clean))
      }.toMap
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    (1 to 5).foreach { trial =>
      val base = (0L until 18L).map { id =>
        id -> Vector.fill(rnd.nextInt(26))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      // plant a copied slice so at least one long shared span exists
      val donor = base(rnd.nextInt(base.size))._2.split(" ")
        .filter(_.nonEmpty)
      val planted =
        if (donor.length >= n + 2) {
          val from = rnd.nextInt(donor.length - n - 1)
          val span = donor.slice(from, from + n + 2).mkString(" ")
          base :+ (100L + trial) -> s"${vocab(rnd.nextInt(8))} $span"
        } else base
      val expected = brute(planted)
      val got = Dedup.dupSpanRemoval(
          planted.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_positions"),
            r.getAs[String]("clean_text")))).toMap
      assert(got == expected, s"trial $trial diverged from brute force")
    }
  }

  test("containment join: matches brute force on random corpora with " +
    "planted sub-documents, catches the pair Jaccard's length filter " +
    "rejects, is directional, hashed == string") {
    import s.implicits._
    val n = 3
    def shingleSet(t: String): Set[String] = {
      val tk = t.split(" ").filter(_.nonEmpty).toVector
      if (tk.length < n) Set.empty
      else tk.sliding(n).map(_.mkString(" ")).toSet
    }
    def brute(docs: Seq[(Long, String)], tau: Double)
        : Set[(Long, Long, Double)] = {
      val sets = docs.map { case (id, t) => id -> shingleSet(t) }
        .filter(_._2.nonEmpty)
      (for ((ia, sa) <- sets; (ib, sb) <- sets if ia != ib;
            c = sa.intersect(sb).size.toDouble / sa.size
            if c >= tau)
        yield (ia, ib, c)).toSet
    }
    val rnd = new scala.util.Random(31)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj")
    (1 to 4).foreach { trial =>
      val base = (0L until 14L).map { id =>
        id -> Vector.fill(6 + rnd.nextInt(20))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // plant: a short doc wrapped inside a much longer container
      val victim = base(rnd.nextInt(base.size))._2
      val filler = Vector.fill(60)(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
      val docs = base :+ (50L + trial) -> s"$victim $filler"
      val tau = 0.8
      val expected = brute(docs, tau)
      val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", n, tau)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, s"trial $trial diverged from brute force")
      val hashed = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", n, tau, hashedShingles = true)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(hashed == got, s"trial $trial hashed != string")
      // the planted pair IS found, is directional (victim -> wrapper,
      // never the reverse at tau=0.8), and symmetric Jaccard at the
      // same tau would reject it (union is filler-dominated)
      val victimId = base.find(_._2 == victim).get._1
      val w = 50L + trial
      val planted = got.filter(p => p._1 == victimId && p._2 == w)
      if (shingleSet(victim).nonEmpty) {
        assert(planted.nonEmpty, s"planted containment not found")
        assert(!got.exists(p => p._1 == w && p._2 == victimId),
          "the WRAPPER must not be contained in the victim")
        val sa = shingleSet(victim)
        val sb = shingleSet(s"$victim $filler")
        val j = sa.intersect(sb).size.toDouble /
          sa.union(sb).size.toDouble
        assert(j < tau,
          s"fixture degenerate: Jaccard $j should reject what " +
            "containment accepts")
      }
    }
  }

  test("containment join, df-capped variant: exact containment over " +
    "the sub-cap universe — hot-shingle-witnessed pairs invisible, " +
    "rare-shingle pairs identical to uncapped, brute-force parity") {
    import s.implicits._
    val n = 3
    // a universal boilerplate line shared by EVERY doc (its shingles
    // have df = N), plus per-doc unique content; one planted pair
    // whose ONLY shared shingles are the universal line (hot-only
    // witness: contained doc = the line alone), and one planted pair
    // sharing rare content (victim quoted inside a wrapper)
    val boiler = "x1 x2 x3 x4 x5"
    val base = (0L until 12L).map { id =>
      id -> s"$boiler u${id}a u${id}b u${id}c u${id}d u${id}e u${id}f"
    }
    val victim = "v1 v2 v3 v4 v5 v6 v7 v8"
    val docs = base ++ Seq(
      100L -> boiler, // contained ONLY via the universal line
      101L -> victim,
      102L -> s"$victim $boiler f1 f2 f3 f4 f5 f6 f7 f8 f9 f10")
    val tau = 0.8
    def shingleSet(t: String): Set[String] = {
      val tk = t.split(" ").filter(_.nonEmpty).toVector
      if (tk.length < n) Set.empty
      else tk.sliding(n).map(_.mkString(" ")).toSet
    }
    // brute force over the capped universe
    val maxDf = 3L
    val all = docs.map { case (id, t) => id -> shingleSet(t) }
    val dfreq = all.flatMap(_._2).groupBy(identity)
      .map { case (sh, xs) => sh -> xs.size.toLong }
    val capped = all.map { case (id, s0) =>
      id -> s0.filter(dfreq(_) <= maxDf) }.filter(_._2.nonEmpty)
    val expected = (for ((ia, sa) <- capped; (ib, sb) <- capped
                         if ia != ib;
                         c = sa.intersect(sb).size.toDouble / sa.size
                         if c >= tau) yield (ia, ib)).toSet
    for (hashed <- Seq(false, true)) {
      val got = Dedup.containmentPairsCapped(docs.toDF("doc_id", "text"),
          "doc_id", "text", n, tau, maxDf, hashedShingles = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"hashed=$hashed diverged from brute")
      // the hot-only-witnessed containment is INVISIBLE under the cap
      assert(!got.exists(_._1 == 100L),
        "boilerplate-only containment must not survive the df cap")
      // the rare-witnessed pair is found, directional
      assert(got.contains((101L, 102L)))
      assert(!got.contains((102L, 101L)))
    }
    // the uncapped operator finds the hot-only pair — the tradeoff
    val un = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", n, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(un.exists(p => p._1 == 100L),
      "fixture degenerate: uncapped must see the boilerplate pair")
    assert(un.contains((101L, 102L)))
  }

  test("line-frequency filter: over-threshold boilerplate lines drop, " +
    "at-threshold and unique lines survive in order, all-boilerplate " +
    "docs clean to '', within-doc repeats count one doc, hashed keys " +
    "match the string path") {
    import s.implicits._
    val hdr = "nav home menu"
    val ftr = "copyright footer"
    val docs = Seq(
      (1L, s"$hdr\nalpha beta\nrepeat me\n$ftr"),
      (2L, s"$hdr\ngamma delta\nshared quote\n$ftr"),
      (3L, s"$hdr\nshared quote\n$ftr"),
      // doc 4 repeats "repeat me" WITHIN itself: the DISTINCT-doc df of
      // that line is 2 (docs 1 and 4) <= threshold, so it survives —
      // a naive occurrence count (3) would wrongly drop it
      (4L, s"$hdr\nrepeat me\nrepeat me\nepsilon\n$ftr"),
      (5L, s"$hdr\n$ftr") // all boilerplate -> cleans to ''
    ).toDF("doc_id", "text")
    // hdr df=5, ftr df=5 -> dropped at maxDocFreq=2; "shared quote"
    // df=2 -> SURVIVES (at-threshold); content lines df=1 survive
    val got = Dedup.lineFrequencyFilter(docs, "doc_id", "text",
        maxDocFreq = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept_lines"),
          r.getAs[String]("clean_text")))).toMap
    assert(got == Map(
      1L -> ((4L, 2L, "alpha beta\nrepeat me")),
      2L -> ((4L, 2L, "gamma delta\nshared quote")),
      3L -> ((3L, 1L, "shared quote")),
      4L -> ((5L, 3L, "repeat me\nrepeat me\nepsilon")),
      5L -> ((2L, 0L, ""))), s"got $got")
    val hashed = Dedup.lineFrequencyFilter(docs, "doc_id", "text",
        maxDocFreq = 2, hashedLineKeys = true)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept_lines"),
          r.getAs[String]("clean_text")))).toMap
    assert(hashed == got, "hashed line keys changed the output")
    // the delimiter is literal, not a regex
    val dot = Dedup.lineFrequencyFilter(
        Seq((1L, "a.b"), (2L, "a.c"), (3L, "a.d")).toDF("doc_id", "text"),
        "doc_id", "text", maxDocFreq = 2, delim = ".")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("clean_text")).toMap
    assert(dot == Map(1L -> "b", 2L -> "c", 3L -> "d"),
      s"literal-delim split broke: $dot")
  }

  test("snapshotDiff: all four statuses on a hand fixture; empty " +
    "snapshots degrade to all-added / all-removed") {
    val oldSnap = Seq((1L, "same"), (2L, "before"), (3L, "gone"))
      .toDF("doc_id", "text")
    val newSnap = Seq((1L, "same"), (2L, "after"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got.toString)
    val allAdded = Dedup.snapshotDiff(oldSnap.limit(0), newSnap,
      "doc_id", "text").collect().map(_.getString(1)).toSet
    assert(allAdded == Set("added"))
    val allRemoved = Dedup.snapshotDiff(oldSnap, newSnap.limit(0),
      "doc_id", "text").collect().map(_.getString(1)).toSet
    assert(allRemoved == Set("removed"))
  }

  test("sentenceDedup: keep-first at the earliest (doc, pos), " +
    "within-doc repeats collapse, fully-duplicated doc keeps nothing, " +
    "hashed keys value-identical") {
    val sent = Seq(
      (1L, 0L, "shared line"), (1L, 1L, "unique one"),
      (2L, 0L, "shared line"), (2L, 1L, "unique two"),
      (3L, 0L, "shared line"),                  // nothing survives: its
      (4L, 0L, "twice"), (4L, 1L, "twice"),     // only sentence is doc
      (4L, 2L, "tail"))                         // 1's already
      .toDF("doc_id", "pos", "sentence")
    def run(h: Boolean) = Dedup
      .sentenceDedup(sent, "doc_id", "pos", "sentence", hashedKeys = h)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val got = run(false)
    assert(got(1L)._1 == 2L && got(1L)._2 == 2L)
    assert(got(2L) == ((2L, 1L,
      java.security.MessageDigest.getInstance("MD5")
        .digest("unique two".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)))
    assert(got(3L)._1 == 1L && got(3L)._2 == 0L)
    assert(got(3L)._3 ==
      java.security.MessageDigest.getInstance("MD5")
        .digest(Array.emptyByteArray).map("%02x".format(_)).mkString,
      "zero kept sentences reassemble to the empty string")
    // within-doc repeat: 'twice' at pos 0 survives, pos 1 dies
    assert(got(4L) == ((3L, 2L,
      java.security.MessageDigest.getInstance("MD5")
        .digest("twice | tail".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)))
    assert(run(true) == got, "hashed keys must be value-identical")
  }
}
