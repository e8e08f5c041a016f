package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** Seeded strings over letters of both cases, digits, punctuation,
    * runs of spaces (so leading and trailing ones too), tabs and
    * newlines, plus the empty string and a few fixed edge cases. */
  private val ruleTexts: Seq[String] = {
    val piece = Gen.frequency(
      6 -> Gen.alphaChar.map(_.toString),
      2 -> Gen.numChar.map(_.toString),
      2 -> Gen.oneOf(".", ",", "!", "'", "-", "#", "|"),
      3 -> Gen.chooseNum(1, 3).map(" " * _),
      1 -> Gen.oneOf("\t", "\n"))
    val text = Gen.chooseNum(0, 40)
      .flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    Seq("", " ", "   ", "\t", "a\tb c\nd", " Ab  ab aB ab ab ") ++
      Iterator.iterate(rng.Seed(13L))(_.next).take(500)
        .flatMap(sd => text(Gen.Parameters.default, sd)).toSeq
  }

  test("text rules equal plain-Scala references: whitespace tokens split " +
    "on ' ' only, [a-z]+ words of the lowercased text, distinct 3-gram " +
    "shingles empty below 3 tokens") {
    import s.implicits._
    val rows = ruleTexts.toDF("text").select(col("text"),
        TextAnalysis.tokens("text"), expr(TextAnalysis.wordsSql("text")),
        Dedup.shingles("text", 3))
      .collect()
    assert(rows.length == ruleTexts.length)
    rows.foreach { r =>
      val text = r.getString(0)
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      val words = "[a-z]+".r.findAllIn(text.toLowerCase).toSeq
      // Scala's sliding yields one short window below 3 tokens, the
      // rule yields none
      val shingles =
        if (toks.size < 3) Seq.empty[String]
        else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      val shown = "'" + text.replace("\t", "\\t").replace("\n", "\\n") + "'"
      assert(r.getSeq[String](1) == toks, s"tokens of $shown")
      assert(r.getSeq[String](2) == words, s"words of $shown")
      assert(r.getSeq[String](3) == shingles, s"shingles of $shown")
    }
  }

  test("splitAssign: deterministic across partitionings, fractions near " +
    "the requested 80/10/10") {
    import s.implicits._
    val ids = s.range(10000).select(col("id").as("doc_id"))
    val assigned = ids
      .withColumn("split", TextAnalysis.splitAssign("doc_id", 80, 10))
    val counts = assigned.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 8000L) < 400, counts.toString)
    assert(math.abs(counts("val") - 1000L) < 200, counts.toString)
    assert(math.abs(counts("test") - 1000L) < 200, counts.toString)
    // repartitioning must not move any document to another split
    val a = assigned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = ids.repartition(7)
      .withColumn("split", TextAnalysis.splitAssign("doc_id", 80, 10))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("repetitionRatio: fully-repetitive docs score high, unique docs " +
    "0, short docs 0") {
    import s.implicits._
    val docs = Seq(
      (1L, "a a a a a"),          // 3 trigram slots, 1 distinct -> 2/3
      (2L, "one two three four"), // 2 slots, 2 distinct -> 0.0
      (3L, "x y"),                // shorter than n -> 0.0
      (4L, ""),                   // empty -> 0.0
      (5L, "p q p q p q p q"))    // 6 slots, 2 distinct -> 2/3
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.repetitionRatio("text", 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 2.0 / 3.0) < 1e-15)
    assert(got(2L) == 0.0 && got(3L) == 0.0 && got(4L) == 0.0)
    assert(math.abs(got(5L) - 2.0 / 3.0) < 1e-15)
  }

  test("chunks: stride windows cover every token, overlap by " +
    "size - stride, and short docs yield one partial chunk") {
    import s.implicits._
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = Seq(text).toDF("text")
      .select(explode(TextAnalysis.chunks("text", size = 4, stride = 3))
        .as("c"))
      .select("c.start", "c.chunk").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // starts 1,4,7,10; last two are partial windows
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 7L, 10L))
    assert(out(0)._2 == "t1 t2 t3 t4")
    assert(out(1)._2 == "t4 t5 t6 t7", "windows overlap by size - stride")
    assert(out(3)._2 == "t10", "tail chunk keeps the remainder")
    // a doc shorter than one window still yields its single chunk
    val short = Seq("only two").toDF("text")
      .select(explode(TextAnalysis.chunks("text", 32, 24)).as("c"))
      .select("c.chunk").collect()
    assert(short.map(_.getString(0)).toSeq == Seq("only two"))
  }

  test("redactPii masks emails then IPs then digit runs, in an order " +
    "where no mask is re-matched by a later pass") {
    import s.implicits._
    def red(t: String): String = Seq(t).toDF("t")
      .select(TextAnalysis.redactPii("t").as("r")).head().getString(0)
    assert(red("mail a.b+c1@sub.ex-2.co and x9@y.io now") ==
      "mail <EMAIL> and <EMAIL> now",
      "digit-bearing emails must not be shredded by the digit pass")
    assert(red("from 10.0.255.7 port 8080") == "from <IP> port #")
    // 3-octet version strings are NOT IPs; a 5-octet string over-redacts
    // its first four (RE2 has no lookarounds, so \b is the strongest
    // portable guard — over-redaction of PII-shaped text is the safe
    // direction, and both engines agree: l14b hash-matches)
    assert(red("v1.2.3 and 1.2.3.4.5") == "v#.#.# and <IP>.#")
    assert(red("card 4111-1111, zip 94103") == "card #-#, zip #")
    assert(red("no pii here") == "no pii here")
    assert(red("bob@ex.com at 192.168.0.1 acct 77") ==
      "<EMAIL> at <IP> acct #")
  }

  test("redactDigits masks every digit run; langId ties resolve to the " +
    "earliest marker") {
    import s.implicits._
    val red = Seq("card 4111-1111, zip 94103").toDF("t")
      .select(TextAnalysis.redactDigits("t").as("r")).head().getString(0)
    assert(red == "card #-#, zip #")
    val markers = Seq("en" -> "the", "de" -> "der")
    val lang = Seq(
      "the der the", // en wins 2-1
      "der der the", // de wins 2-1
      "the der", // 1-1 tie -> first entry (en) wins
      "nothing here") // 0-0 tie -> first entry
      .toDF("t").select(TextAnalysis.langId("t", markers).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(lang == Seq("en", "de", "en", "en"))
  }

  test("fingerprint is order-sensitive (anagram docs differ) and " +
    "deterministic") {
    import s.implicits._
    val fp = Seq("alpha beta gamma", "gamma beta alpha",
        "alpha beta gamma")
      .toDF("t").select(TextAnalysis.fingerprint("t").as("f"))
      .collect().map(_.getLong(0))
    assert(fp(0) != fp(1), "token order must matter")
    assert(fp(0) == fp(2))
  }

  test("topTfidfTerms: corpus-wide terms score low, doc-unique terms " +
    "rank first, ties break lexicographically") {
    import s.implicits._
    // 'everywhere' is in all 4 docs; each doc has a unique marker term
    val docs = Seq(
      (1L, "everywhere alpha1 alpha1 common2"),
      (2L, "everywhere beta22 common2 filler"),
      (3L, "everywhere gamma3 gamma3 gamma3"),
      (4L, "everywhere delta4")).toDF("doc_id", "text")
    val top = TextAnalysis.topTfidfTerms(docs, "doc_id", "text",
        k = 1, minLen = 5)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[String]("term"))
      .toMap
    assert(top == Map(1L -> "alpha1", 2L -> "beta22", 3L -> "gamma3",
      4L -> "delta4"))
  }

  test("unigramSurprisal: integer bit arithmetic matches hand " +
    "computation, empty docs survive with zero score") {
    import s.implicits._
    // corpus counts: x->3, y->1, T=4; bitlen(4)=3, bitlen(3)=2,
    // bitlen(1)=1 => bits(x)=1, bits(y)=2
    val docs = Seq((1L, "x x x"), (2L, "y"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs, "doc_id", "text",
        keepBelowBits = 1.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
          r.getAs[Double]("avg_bits"), r.getAs[Long]("keep")))).toMap
    assert(out(1L) == ((3L, 3L, 1.0, 1L)))
    assert(out(2L) == ((1L, 2L, 2.0, 0L)))
    assert(out(3L) == ((0L, 0L, 0.0, 0L)))
  }

  test("unigramSurprisal matches a brute-force reference on random " +
    "corpora (zipf-ish token draws, empty docs included)") {
    import s.implicits._
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val rnd = new scala.util.Random(7)
    val vocab = Vector("t0", "t1", "t2", "t3", "t4", "t5")
    (1 to 3).foreach { trial =>
      // skewed draw: low indexes much more likely (rare-token docs exist)
      val docs = (0L until 15L).map { id =>
        id -> Vector.fill(rnd.nextInt(20))(
          vocab(math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size))))
          .mkString(" ")
      }
      val allToks = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
      val counts = allToks.groupBy(identity).map { case (t, xs) =>
        t -> xs.size.toLong }
      val total = allToks.size.toLong
      val expected = docs.map { case (id, t) =>
        val tk = t.split(" ").filter(_.nonEmpty)
        val bits = tk.map(w => bitlen(total) - bitlen(counts(w))).sum
        val avg = if (tk.isEmpty) 0.0 else bits.toDouble / tk.length
        id -> ((tk.length.toLong, bits, avg))
      }.toMap
      val got = TextAnalysis.unigramSurprisal(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          keepBelowBits = 2.0)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
            r.getAs[Double]("avg_bits")))).toMap
      assert(got == expected, s"trial $trial diverged from brute force")
    }
  }

  test("bigramSurprisal: every scoring path hand-computed (model " +
    "bigram, pruned->backoff, doc-initial, OOV, empty doc)") {
    import s.implicits._
    // split buckets (two-round LCG): ids 2,3,4 -> train; 6 -> test.
    // Train corpus "a b a b" + "a b c": c1 a=3,b=3,c=1, T=7; bigrams
    // (a,b)=3, (b,a)=1, (b,c)=1 -> minCount=2 keeps only (a,b).
    // bitlen: 7->3, 3->2, 1->1.
    val docs = Seq((6L, "a b z"), (2L, "a b a b"), (4L, "a b c"),
      (3L, "  ")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(docs, "doc_id", "text",
        keepBelowBits = 1.0, minCount = 2L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
          r.getAs[Long]("keep")))).toMap
    // doc6 (test): a initial-unigram 3-2=1; b model-bigram 2-2=0;
    // z OOV 1+3=4 -> 5 bits
    assert(out(6L) == ((3L, 5L, 0L)))
    // doc2: 1 + 0 + backoff(a: 1+3-2=2) + 0 -> 3 bits, avg 0.75 -> keep
    assert(out(2L) == ((4L, 3L, 1L)))
    // doc4: 1 + 0 + backoff(c: 1+3-1=3) -> 4 bits
    assert(out(4L) == ((3L, 4L, 0L)))
    assert(out(3L) == ((0L, 0L, 0L)))
  }

  test("bigramSurprisal matches a brute-force reference on random " +
    "corpora (train-split model, pruning, OOV paths all exercised)") {
    import s.implicits._
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    def isTrain(id: Long): Boolean = {
      val r1 = (id % 100000007L) * 1103515245L + 12345L
      val b = ((r1 / 65536L) % 100000007L) * 1103515245L + 12345L
      (b / 65536L) % 100L < 80L
    }
    val rnd = new scala.util.Random(11)
    val vocab = Vector("t0", "t1", "t2", "t3", "t4", "t5", "t6", "t7")
    (1 to 3).foreach { trial =>
      val docs = (0L until 20L).map { id =>
        id -> Vector.fill(rnd.nextInt(15))(
          vocab(math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size))))
          .mkString(" ")
      }
      val trainToks = docs.filter(d => isTrain(d._1))
        .map(_._2.split(" ").filter(_.nonEmpty).toVector)
      val c1 = trainToks.flatten.groupBy(identity)
        .map { case (t, xs) => t -> xs.size.toLong }
      val total = trainToks.map(_.size.toLong).sum
      val c2 = trainToks.flatMap(tk => tk.zip(tk.drop(1)))
        .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
        .filter(_._2 >= 2L)
      val expected = docs.map { case (id, t) =>
        val tk = t.split(" ").filter(_.nonEmpty).toVector
        val bits = tk.zipWithIndex.map { case (cur, i) =>
          val prev = if (i == 0) None else Some(tk(i - 1))
          prev.flatMap(p => c2.get((p, cur))) match {
            case Some(cb) => bitlen(c1(prev.get)) - bitlen(cb)
            case None => (if (prev.isEmpty) 0L else 1L) +
              (c1.get(cur) match {
                case Some(cu) => bitlen(total) - bitlen(cu)
                case None => bitlen(total)
              })
          }
        }.sum
        id -> ((tk.length.toLong, bits))
      }.toMap
      val got = TextAnalysis.bigramSurprisal(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          keepBelowBits = 2.0, minCount = 2L)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits")))).toMap
      assert(got == expected, s"trial $trial diverged from brute force")
    }
  }

  test("knBigramSurprisal matches a brute-force interpolated-KN " +
    "reference on random corpora (discounted bigram, continuation " +
    "backoff, unseen-context, OOV, doc-initial paths all exercised)") {
    import s.implicits._
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    def isTrain(id: Long): Boolean = {
      val r1 = (id % 100000007L) * 1103515245L + 12345L
      val b = ((r1 / 65536L) % 100000007L) * 1103515245L + 12345L
      (b / 65536L) % 100L < 80L
    }
    val rnd = new scala.util.Random(23)
    val vocab = Vector("t0", "t1", "t2", "t3", "t4", "t5", "t6", "t7")
    (1 to 3).foreach { trial =>
      val docs = (0L until 20L).map { id =>
        id -> Vector.fill(rnd.nextInt(15))(
          vocab(math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size))))
          .mkString(" ")
      }
      val trainToks = docs.filter(d => isTrain(d._1))
        .map(_._2.split(" ").filter(_.nonEmpty).toVector)
      val c1 = trainToks.flatten.groupBy(identity)
        .map { case (t, xs) => t -> xs.size.toLong }
      val total = trainToks.map(_.size.toLong).sum
      val c2 = trainToks.flatMap(tk => tk.zip(tk.drop(1)))
        .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
      val cv = c2.groupBy(_._1._1).map { case (v, m) => v -> m.values.sum }
      val n1v = c2.groupBy(_._1._1).map { case (v, m) => v -> m.size.toLong }
      val n1w = c2.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
      val n1all = c2.size.toLong
      val expected = docs.map { case (id, t) =>
        val tk = t.split(" ").filter(_.nonEmpty).toVector
        val bits = tk.zipWithIndex.map { case (cur, i) =>
          if (i == 0)
            c1.get(cur).map(c => bitlen(total) - bitlen(c))
              .getOrElse(bitlen(total))
          else {
            val prev = tk(i - 1)
            cv.get(prev) match {
              case Some(cvv) =>
                val num = math.max(4L * c2.getOrElse((prev, cur), 0L) - 3L,
                  0L) * n1all + 3L * n1v(prev) * n1w.getOrElse(cur, 0L)
                val den = 4L * cvv * n1all
                if (num >= 1L) bitlen(den) - bitlen(num)
                else bitlen(den) + 1L
              case None =>
                val nw = n1w.getOrElse(cur, 0L)
                if (nw >= 1L) bitlen(n1all) - bitlen(nw)
                else bitlen(n1all) + 1L
            }
          }
        }.sum
        id -> ((tk.length.toLong, bits))
      }.toMap
      val got = TextAnalysis.knBigramSurprisal(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          keepBelowBits = 2.0)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits")))).toMap
      assert(got == expected, s"trial $trial diverged from brute force")
      // interpolated KN is a proper distribution: bits are never negative
      assert(expected.values.forall(_._2 >= 0L))
      // minCount pruning: smoothing statistics stay FULL-table exact,
      // only the bigram lookup is pruned — a pruned bigram scores
      // through the c2=0 continuation arm
      val mc = 2L
      val expectedPruned = docs.map { case (id, t) =>
        val tk = t.split(" ").filter(_.nonEmpty).toVector
        val bits = tk.zipWithIndex.map { case (cur, i) =>
          if (i == 0)
            c1.get(cur).map(c => bitlen(total) - bitlen(c))
              .getOrElse(bitlen(total))
          else {
            val prev = tk(i - 1)
            cv.get(prev) match {
              case Some(cvv) =>
                val c2v = c2.getOrElse((prev, cur), 0L)
                val kept = if (c2v >= mc) c2v else 0L
                val num = math.max(4L * kept - 3L, 0L) * n1all +
                  3L * n1v(prev) * n1w.getOrElse(cur, 0L)
                val den = 4L * cvv * n1all
                if (num >= 1L) bitlen(den) - bitlen(num)
                else bitlen(den) + 1L
              case None =>
                val nw = n1w.getOrElse(cur, 0L)
                if (nw >= 1L) bitlen(n1all) - bitlen(nw)
                else bitlen(n1all) + 1L
            }
          }
        }.sum
        id -> ((tk.length.toLong, bits))
      }.toMap
      val gotPruned = TextAnalysis.knBigramSurprisal(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          keepBelowBits = 2.0, minCount = mc)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits")))).toMap
      assert(gotPruned == expectedPruned,
        s"trial $trial pruned model diverged from brute force")
    }
  }

  test("knBigramSurprisal: the novel-context property — a word frequent " +
    "after ONE context only (the 'Francisco' case) costs more in a " +
    "fresh context than an equally-frequent word with many contexts") {
    import s.implicits._
    // train docs (ids chosen in the 80% bucket): "francisco" always and
    // only after "san" (8x); "things" equally frequent but after 8
    // DIFFERENT contexts. Score doc: both words after the fresh
    // context "green" (seen as a starter, so the KN arm fires with
    // c2=0 -> pure continuation term, where N1(.w) decides).
    val train = (0 until 8).map { i =>
      (2L + 2 * i, s"san francisco c$i things green ok")
    }
    val score = Seq((1L, "green francisco"), (3L, "green things"))
    val docs = (train ++ score).toDF("doc_id", "text")
    val out = TextAnalysis.knBigramSurprisal(docs, "doc_id", "text",
        keepBelowBits = 0.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("total_bits")).toMap
    assert(out(1L) > out(3L),
      s"single-context 'francisco' must cost more than multi-context " +
        s"'things' in a novel context: ${out(1L)} vs ${out(3L)}")
  }

  test("knBigramSurprisal shuffleModelJoin: values equal the broadcast " +
    "form and the model joins are genuinely shuffle joins on 8-byte " +
    "keys (no broadcast of the data-sized tables)") {
    val docs = graft.core.Tables.documents(s, "/root/testdata/sf0.001")
    val base = TextAnalysis.knBigramSurprisal(docs, "doc_id", "text",
        keepBelowBits = 12.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
          r.getAs[Long]("keep")))).toMap
    // force the planner's hand the way a >threshold table would: with
    // thresholds at -1, ONLY an explicit hint can broadcast — so any
    // surviving BroadcastHashJoin would prove the hint is still there
    val conf = s.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val ds = TextAnalysis.knBigramSurprisal(docs, "doc_id", "text",
        keepBelowBits = 12.0, shuffleModelJoin = true)
      val got = ds.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("total_bits"),
          r.getAs[Long]("keep")))).toMap
      assert(got == base, "hashed shuffle-join form diverged")
      // inspect the SAME QueryExecution the collect ran (AQE final plan)
      val plan = ds.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"model join still broadcasts:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"expected a shuffle join in:\n$plan")
      // the shuffled model-side rows carry hashed keys + counts only —
      // the gram STRINGS must not survive past the key projection
      assert(plan.contains("b_gk"), "hashed gram key missing from plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("filterFunnel: hand-computed kill attribution — shadowed rules " +
    "show n_failing > 0 with n_killed_here = 0, null predicates fail, " +
    "survivors are monotone") {
    import s.implicits._
    // docs: (len, flag) — r1: len >= 3; r2: flag (null on doc 4);
    // r3: len >= 3 AGAIN (fully shadowed by r1: fails only where r1
    // already killed)
    val docs = Seq(
      (1L, 5L, Some(true)),   // passes all
      (2L, 2L, Some(true)),   // killed by r1 (also fails r3 — shadowed)
      (3L, 4L, Some(false)),  // killed by r2
      (4L, 6L, None)          // null flag -> killed by r2
    ).toDF("id", "len", "flag")
    val out = TextAnalysis.filterFunnel(docs, Seq(
        "min_len" -> (col("len") >= 3),
        "flag_set" -> col("flag"),
        "min_len_again" -> (col("len") >= 3)))
      .collect().map(r => (r.getAs[Long]("rule_idx"), r.getAs[String]("rule"),
        r.getAs[Long]("n_failing"), r.getAs[Long]("n_killed_here"),
        r.getAs[Long]("n_survivors"))).toSet
    assert(out == Set(
      (1L, "min_len", 1L, 1L, 3L),
      (2L, "flag_set", 2L, 2L, 1L),
      (3L, "min_len_again", 1L, 0L, 1L)), s"got $out")
  }

  test("filterFunnel: rule names are data, not SQL — quotes and " +
    "injection-shaped names pass through verbatim") {
    import s.implicits._
    val docs = Seq((1L, 5L), (2L, 1L)).toDF("id", "len")
    val name = "doc isn't empty', 0L, 0L, 0L) -- "
    val out = TextAnalysis.filterFunnel(docs,
        Seq(name -> (col("len") >= 3)))
      .collect().map(r => (r.getAs[String]("rule"),
        r.getAs[Long]("n_failing"), r.getAs[Long]("n_survivors")))
    assert(out.toSeq == Seq((name, 1L, 1L)), s"got ${out.toSeq}")
  }

  test("bm25TopK matches a bit-exact brute-force reference on random " +
    "corpora (idf bits, dl normalization, sorted-term sum, tie-break)") {
    import s.implicits._
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val k1 = 1.2; val b = 0.75
    val vocab = Vector("t0", "t1", "t2", "t3", "t4", "t5")
    val query = Seq("t1", "t4", "zz") // zz is absent: df = 0 path
    val rnd = new scala.util.Random(23)
    (1 to 3).foreach { trial =>
      val docs = (0L until 30L).map { id =>
        id -> Vector.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val toks = docs.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toVector }.toMap
      val n = docs.size.toLong
      val tot = toks.valuesIterator.map(_.size.toLong).sum.toDouble
      val avgdl = tot / n.toDouble
      val terms = query.distinct.sorted
      val df = terms.map(t =>
        t -> toks.valuesIterator.count(_.contains(t)).toLong).toMap
      val expected = docs.flatMap { case (id, _) =>
        val tk = toks(id)
        val dl = tk.size.toLong
        val score = terms.foldLeft(0.0) { (acc, t) =>
          val tf = tk.count(_ == t).toLong
          if (tf == 0L) acc
          else acc + (1L + bitlen(n) - bitlen(df(t))).toDouble *
            ((tf.toDouble * (k1 + 1.0)) /
              (tf.toDouble + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl))))
        }
        val matched = terms.count(t => tk.contains(t)).toLong
        if (matched > 0) Some((id, score, dl, matched)) else None
      }
      val ranked = expected.sortBy { case (id, sc, _, _) => (-sc, id) }
      val got = TextAnalysis.bm25TopK(docs.toDF("doc_id", "text"),
          "doc_id", "text", query, k = 12, k1 = k1, b = b)
        .collect().map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"), r.getAs[Long]("dl"),
          r.getAs[Long]("n_matched")))
      assert(got.length == math.min(12, ranked.length))
      got.foreach { case (rnk, id, sc, dl, m) =>
        val (eid, esc, edl, em) = ranked((rnk - 1).toInt)
        assert(id == eid && dl == edl && m == em,
          s"trial $trial rank $rnk: got doc $id, brute force says $eid")
        assert(sc == esc, // bit-exact, no tolerance — the oracle contract
          s"trial $trial doc $id: score $sc != brute $esc")
      }
    }
  }

  test("bm25BatchTopK equals the single-query form per query, " +
    "bit-exact; a query matching nothing vanishes") {
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Vector("t0", "t1", "t2", "t3", "t4", "t5")
    val docs = (0L until 40L).map { id =>
      id -> Vector.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }.toDF("doc_id", "text")
    val queries = Seq((10L, "t1"), (10L, "t3"), (20L, "t0"),
      (20L, "t4"), (20L, "zz"), (30L, "zz")).toDF("query_id", "term")
    def row(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Long]("dl"),
        r.getAs[Long]("n_matched"))
    val batch = TextAnalysis.bm25BatchTopK(docs, "doc_id", "text",
        queries, k = 7)
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(!batch.contains(30L), "no-match query must vanish")
    Seq(10L -> Seq("t1", "t3"), 20L -> Seq("t0", "t4", "zz"))
      .foreach { case (qid, terms) =>
        val single = TextAnalysis.bm25TopK(docs, "doc_id", "text",
            terms, k = 7).collect().map(row).sortBy(_._1).toSeq
        val got = batch(qid).map(row).sortBy(_._1).toSeq
        assert(got == single, s"query $qid diverged from single form")
      }
  }

  test("bm25TopK: no matching doc yields an empty result; absent-only " +
    "query never divides by a zero df") {
    import s.implicits._
    val docs = Seq((1L, "a b c"), (2L, "c d")).toDF("doc_id", "text")
    assert(TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("zz", "yy"), k = 5).count() == 0L)
  }

  test("compressionRatio: byte-exact vs an in-JVM zlib recompute, " +
    "repetitive text scores far below shuffled-unique text, empty " +
    "defines 1.0, and layout doesn't matter") {
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector.fill(400)(rnd.alphanumeric.take(6).mkString)
    val docs = Seq(
      1L -> Seq.fill(200)("lorem ipsum dolor").mkString(" "), // template
      2L -> rnd.shuffle(words).mkString(" "),                 // diverse
      3L -> "",                                               // empty
      4L -> "short") ++
      (5L to 20L).map(i => i ->
        rnd.shuffle(words).take(120).mkString(" "))
    val df = docs.toDF("doc_id", "text")
    def run(parts: Int) = TextAnalysis
      .compressionRatio(df.repartition(parts), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val got = run(3)
    // reference: the same fixed-level zlib in this JVM
    def ref(text: String): (Long, Long) = {
      val raw = text.getBytes("UTF-8")
      if (raw.isEmpty) return (0L, 0L)
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      (raw.length.toLong, n)
    }
    for ((id, text) <- docs) {
      val (raw, comp) = ref(text)
      val (gRaw, gComp, gRatio) = got(id)
      assert((gRaw, gComp) == (raw, comp), s"doc $id bytes")
      val want = if (raw == 0L) 1.0 else comp.toDouble / raw
      assert(gRatio == want, s"doc $id ratio")
    }
    assert(got(1L)._3 < 0.15, s"template text must crush: ${got(1L)._3}")
    assert(got(2L)._3 > 0.5, s"diverse text must not: ${got(2L)._3}")
    assert(got(3L)._3 == 1.0, "empty doc defines ratio 1.0")
    assert(run(1) == got && run(13) == got, "layout invariance")
  }

  test("featureHashDense pivots exactly the sparse weights; empty and " +
    "missing docs get all-zero vectors; signs cancel within a bucket") {
    import s.implicits._
    val df = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, ""),
      (3L, "   "),
      (4L, "alpha")).toDF("doc_id", "text")
    val dim = 8
    val sparse = TextAnalysis.featureHashSparse(df, "doc_id", "text", dim)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // repeated token doubles its bucket weight
    val alphaH = s.sql("SELECT poly_hash('alpha') h").head().getLong(0)
    val alphaW = if ((alphaH / dim) % 2 == 0) 1L else -1L
    assert(sparse((4L, alphaH % dim)) == alphaW)
    assert(sparse.keys.forall(_._1 != 2L) && sparse.keys.forall(_._1 != 3L),
      "token-free docs must be absent from the sparse frame")
    val dense = TextAnalysis.featureHashDense(df, "doc_id", "text", dim)
      .select(col("doc_id"), col("fh_vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(dense.keySet == Set(1L, 2L, 3L, 4L), "dense keeps every doc")
    for (id <- Seq(1L, 2L, 3L, 4L); b <- 0 until dim)
      assert(dense(id)(b) == sparse.getOrElse((id, b), 0L).toDouble,
        s"dense($id)($b) != sparse")
    // cancellation: two distinct tokens in one bucket with opposite
    // signs must sum (and a zero sum drops from the sparse frame) —
    // construct via the dense path over a synthetic same-bucket pair
    val w1 = TextAnalysis.featureHashSparse(
      Seq((9L, "alpha alpha")).toDF("doc_id", "text"), "doc_id", "text",
      dim).collect()
    assert(w1.head.getLong(2) == 2 * alphaW, "weights accumulate")
  }

  test("gopherRules: every rule fires in both directions on " +
    "hand-built pages") {
    import s.implicits._
    val good = (("the of " * 10) + ("and that with solid words " * 8)).trim
    val pages = Seq(
      1L -> good,                                   // passes all seven
      2L -> "tiny page the of",                     // wordcount low
      3L -> ("a b c d " * 20 + "the of"),           // mean word len < 3
      4L -> (good + " ### ## # ## ### # ## ### ##"),// symbol ratio > 0.1
      5L -> (good.split(' ').grouped(10)            // every line is a
        .map(g => "- " + g.mkString(" "))           //   bullet; 10 words
        .mkString("\n")),                           //   per line keep the
                                                    //   word rules green
      6L -> (good + "\nwait...\nmore...\nyes..."),  // ellipsis lines
      7L -> (("the of " * 10)                       // alpha frac < 0.8;
        + ("90210 42424 77777 " * 20)),             //   5-char digit words
                                                    //   keep mean len >= 3
      8L -> good.replace("the ", "thx ")            // < 2 stop words:
        .replace("of ", "oz ")                      //   same-length
        .replace("and ", "anz ")                    //   non-stopword
        .replace("that ", "thaw ")                  //   swaps keep every
        .replace("with ", "wish ")                  //   other rule green
    ).toDF("doc_id", "page")
    val got = pages
      .select(col("doc_id"),
        inline(array(TextAnalysis.gopherRules("page", minWords = 20))))
      .collect().map(r => r.getLong(0) ->
        Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
          "r_ellipsis", "r_alpha", "r_stopwords")
          .map(f => r.getLong(r.fieldIndex(f)))).toMap
    assert(got(1L) == Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L), got(1L).toString)
    assert(got(2L)(0) == 0L, "wordcount rule must fail the tiny page")
    assert(got(3L)(1) == 0L, "mean-length rule must fail 1-char words")
    assert(got(4L)(2) == 0L, "symbol rule must fail the hash page")
    assert(got(5L)(3) == 0L, "bullet rule must fail the bullet page")
    assert(got(6L)(4) == 0L, "ellipsis rule must fail ...-ended lines")
    assert(got(7L)(5) == 0L, "alpha rule must fail digit-word pages")
    assert(got(8L)(6) == 0L, "stopword rule needs >= 2 distinct hits")
    // ...and each failing page passes every OTHER rule (isolation)
    for ((id, bits) <- got if id >= 2L)
      assert(bits.sum == 6L, s"page $id must fail exactly one rule: $bits")
  }

  test("mojibakeRepair: known damage fixed, 3-char punctuation wins " +
    "over its 2-char prefix, clean text untouched, idempotent, " +
    "markers count before and after") {
    import s.implicits._
    val rows = Seq(
      (1L, "cafÃ© rÃ©sumÃ© naÃ¯ve faÃ§ade"),
      (2L, "â€œquoteâ€™â€¦â€ Â«gÂ»"),
      (3L, "plain ascii text"),
      (4L, "donâ€™t stop")).toDF("doc_id", "t")
    val fixed = rows.select(col("doc_id"),
        TextAnalysis.mojibakeRepair(col("t")).as("f"),
        TextAnalysis.mojibakeMarkers(col("t")).as("before"),
        TextAnalysis.mojibakeMarkers(
          TextAnalysis.mojibakeRepair(col("t"))).as("after"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fixed(1L)._1 == "café résumé naïve façade")
    // â€œ/â€™/â€¦ must be consumed BEFORE the bare â€ -> ” rule —
    // a 2-char-first fold would shred them into ”-plus-orphan chars
    assert(fixed(2L)._1 == "“quote’…” «g»")
    assert(fixed(3L)._1 == "plain ascii text" && fixed(3L)._2 == 0L)
    assert(fixed(4L)._1 == "don’t stop")
    for ((id, (_, before, after)) <- fixed) {
      assert(after == 0L, s"doc $id still carries markers")
      if (id != 3L) assert(before > 0L, s"doc $id markers undetected")
    }
    // idempotence: repairing repaired text is a no-op
    val twice = rows.select(TextAnalysis.mojibakeRepair(
      TextAnalysis.mojibakeRepair(col("t"))).as("f2"),
      TextAnalysis.mojibakeRepair(col("t")).as("f1"))
      .collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("gopherRules: blank / whitespace-only pages fail every rule " +
    "as 0, never NULL (guarded ratio divisions)") {
    import s.implicits._
    val fields = Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
      "r_ellipsis", "r_alpha", "r_stopwords")
    val got = Seq(1L -> "", 2L -> "   \n  \n ", 3L -> "\n\n\n")
      .toDF("doc_id", "page")
      .select(col("doc_id"),
        inline(array(TextAnalysis.gopherRules("page", minWords = 20))))
      .collect()
    assert(got.length == 3)
    for (r <- got; f <- fields) {
      assert(!r.isNullAt(r.fieldIndex(f)),
        s"$f is NULL on empty page ${r.getLong(0)} — keep would be NULL")
      // pages 1 and 3 have NO non-empty lines and NO words: every rule
      // fails. Page 2's whitespace lines are non-empty, so the line
      // rules (r_bullet, r_ellipsis: 0 bullets / 3 lines) legitimately
      // pass — only the word-denominator rules must fail there.
      val lineRuleOnWsLines = r.getLong(0) == 2L &&
        (f == "r_bullet" || f == "r_ellipsis")
      assert(r.getLong(r.fieldIndex(f)) == (if (lineRuleOnWsLines) 1L
        else 0L),
        s"$f wrong on empty page ${r.getLong(0)}")
    }
  }
}
