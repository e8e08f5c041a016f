package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Anomalies.AnomalyRule

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class Doc(doc_id: Long, ts: Timestamp, text: String)
case class SrcDoc(doc_id: Long, source: String, text: String)
case class FullEv(event_id: Long, user_id: Long, ts: Timestamp,
                  event_type: String, value: Double)
case class DimRow(k: Long, v: String)
case class EmbRow(vec_id: Long, embedding: Seq[Double])

class StreamOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("batch cleaning + anomaly operators run unchanged on a stream " +
    "(MemoryStream -> transform -> memory sink)") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[Ev]
    val rules = Seq(AnomalyRule("big", col("value") > 100))
    val q = StreamOps.cleanAndFlag(input.toDF(), rules)
      .writeStream.format("memory").queryName("flagged")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:00:01"), "click", 5.0),
        Ev(Timestamp.valueOf("2024-01-01 00:00:02"), "", 500.0))
      q.processAllAvailable()
      val out = s.sql("SELECT event_type, anomaly_type FROM flagged")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // empty event_type cleaned to 'unknown'; value 500 flagged 'big'
      assert(out == Set(("click", "ok"), ("unknown", "big")))
    } finally q.stop()
  }

  test("round-12 map-only cleaning operators (unicode clean, URL " +
    "canonicalize, PII redact) run unchanged on a stream") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    // all three are pure projections — streaming-safe by construction;
    // this pins that no accidental agg/window/collect sneaks into them
    val cleaned = graft.operators.TextAnalysis
      .unicodeClean(df, "doc_id", "text")
    val urls = graft.operators.Urls
      .canonicalize(df.withColumnRenamed("text", "u"), "u")
      .select("doc_id", "url_canonical", "url_domain")
    val red = df.select(col("doc_id"),
      graft.operators.TextAnalysis.redactPii("text").as("red"))
    assert(cleaned.isStreaming && urls.isStreaming && red.isStreaming)
    val q1 = cleaned.writeStream.format("memory").queryName("s12_clean")
      .outputMode("append").start()
    val q2 = urls.writeStream.format("memory").queryName("s12_urls")
      .outputMode("append").start()
    val q3 = red.writeStream.format("memory").queryName("s12_red")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "cafe\u0301 at HTTP://Ex.COM:80/a?utm_source=x mail " +
          "bob@ex.com"),
        (2L, "plain"))
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      val c = s.sql("SELECT text_clean FROM s12_clean WHERE doc_id = 1")
        .head().getString(0)
      assert(c.contains("caf\u00E9") && !c.contains("e\u0301"),
        "NFC recomposition on the stream")
      // the text is not itself a URL, so canonical is NULL — the
      // malformed contract; a real URL column streams the same way
      val u = s.sql("SELECT url_canonical FROM s12_urls WHERE doc_id = 2")
        .head()
      assert(u.isNullAt(0))
      val r = s.sql("SELECT red FROM s12_red WHERE doc_id = 1")
        .head().getString(0)
      assert(r.contains("<EMAIL>") && !r.contains("bob@ex.com"))
    } finally Seq(q1, q2, q3).foreach(_.stop())
  }

  test("wave-8 map-only operators (Gopher rules, mojibake repair) run " +
    "unchanged on a stream") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "page")
    val gop = df.select(col("doc_id"),
      inline(array(graft.operators.TextAnalysis
        .gopherRules("page", minWords = 2))))
    val moj = df.select(col("doc_id"),
      graft.operators.TextAnalysis.mojibakeRepair(col("page")).as("fx"),
      graft.operators.TextAnalysis.mojibakeMarkers(col("page")).as("nb"))
    assert(gop.isStreaming && moj.isStreaming)
    val q1 = gop.writeStream.format("memory").queryName("s12_gop")
      .outputMode("append").start()
    val q2 = moj.writeStream.format("memory").queryName("s12_moj")
      .outputMode("append").start()
    try {
      input.addData((1L, "the of and solid words here"),
        (2L, "cafÃ© bar"))
      Seq(q1, q2).foreach(_.processAllAvailable())
      val g = s.sql(
        "SELECT r_stopwords, n_words FROM s12_gop WHERE doc_id = 1")
        .head()
      assert(g.getLong(0) == 1L && g.getLong(1) == 6L)
      val m = s.sql("SELECT fx, nb FROM s12_moj WHERE doc_id = 2").head()
      assert(m.getString(0) == "café bar" && m.getLong(1) == 1L)
    } finally Seq(q1, q2).foreach(_.stop())
  }

  test("streaming exact dedup suppresses content duplicates within the " +
    "watermark with bounded per-key state") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamOps.streamingExactDedup(input.toDF(), "text", "ts")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(1L, Timestamp.valueOf("2024-01-01 00:00:01"), "Hello  World"),
        Doc(2L, Timestamp.valueOf("2024-01-01 00:00:02"), " hello world "),
        Doc(3L, Timestamp.valueOf("2024-01-01 00:00:03"), "other text"))
      q.processAllAvailable()
      // a later micro-batch with another copy, still inside the watermark
      input.addData(
        Doc(4L, Timestamp.valueOf("2024-01-01 00:00:10"), "HELLO WORLD"),
        Doc(5L, Timestamp.valueOf("2024-01-01 00:00:11"), "fresh content"))
      q.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM deduped")
        .collect().map(_.getLong(0)).toSet
      // 2 (same normalized content as 1, same batch) and 4 (same content,
      // later batch within the watermark) are suppressed
      assert(ids == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("stream-stream interval join: purchases pick up same-user signups " +
    "within the lookback, on both sides of a micro-batch boundary") {
    import s.implicits._
    implicit val sq = s.sqlContext
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val input = MemoryStream[FullEv]
    val q = StreamOps.purchasesWithSignups(input.toDF(),
        lookback = "30 minutes", watermark = "2 hours")
      .writeStream.format("memory").queryName("joined")
      .outputMode("append").start()
    try {
      input.addData(
        FullEv(1L, 7L, ts(0), "signup", 0.0),
        FullEv(2L, 7L, ts(10), "purchase", 9.0), // 10 min after signup: in
        FullEv(3L, 8L, ts(5), "signup", 0.0))
      q.processAllAvailable()
      input.addData(
        FullEv(4L, 8L, ts(20), "purchase", 4.0), // matches batch-1 signup
        FullEv(5L, 7L, ts(50), "purchase", 2.0)) // 50 min after: outside
      q.processAllAvailable()
      val pairs = s.sql("SELECT purchase_id, signup_id FROM joined")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((2L, 1L), (4L, 3L)))
    } finally q.stop()
  }

  test("foreachBatch SCD2 sink: streamed dim updates close and open " +
    "versions in the parquet dimension across micro-batches") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft_scd2_stream").toString + "/dim"
    Seq((1L, "a", true, "2024-01-01", null.asInstanceOf[String]),
        (2L, "b", true, "2024-01-01", null.asInstanceOf[String]))
      .toDF("k", "v", "IsCurrent", "start_s", "end_s")
      .select(col("k"), col("v"), col("IsCurrent"),
        col("start_s").cast("date").as("EffectiveStartDate"),
        col("end_s").cast("date").as("EffectiveEndDate"))
      .write.parquet(dimPath)

    val input = MemoryStream[DimRow]
    val q = input.toDS().toDF()
      .writeStream
      .foreachBatch(StreamOps.scd2ForeachBatch(dimPath, "k", Seq("v"),
        asOfForBatch = id => f"2024-02-${id + 1}%02d"))
      .start()
    try {
      input.addData(DimRow(1L, "a2")) // change k=1
      q.processAllAvailable()
      input.addData(DimRow(3L, "c")) // brand-new key
      q.processAllAvailable()
    } finally q.stop()

    val rows = s.read.parquet(dimPath)
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Boolean]("IsCurrent"),
        Option(r.getAs[java.sql.Date]("EffectiveEndDate"))
          .map(_.toString).orNull))
      .toSet
    assert(rows == Set(
      (1L, "a", false, "2024-02-01"), // closed by batch 0
      (1L, "a2", true, null), // opened by batch 0
      (2L, "b", true, null), // untouched (closeMissing=false)
      (3L, "c", true, null))) // opened by batch 1
  }

  test("mapGroupsWithState keeps running per-user state across " +
    "micro-batches") {
    import s.implicits._
    implicit val sq = s.sqlContext
    import StreamOps.{KeyedEvent, UserUpdate}
    val input = MemoryStream[KeyedEvent]
    val q = StreamOps.runningUserProfile(input.toDS())
      .writeStream.format("memory").queryName("profiles")
      .outputMode(StreamOps.runningProfileOutputMode).start()
    try {
      input.addData(KeyedEvent(1L, 100L, 10.0), KeyedEvent(1L, 200L, 5.0),
        KeyedEvent(2L, 150L, 7.0))
      q.processAllAvailable()
      // second batch must SEE the first batch's state
      input.addData(KeyedEvent(1L, 300L, 1.0))
      q.processAllAvailable()
      val latest = s.sql("""SELECT user_id, max(nEvents) AS n,
          max(valueSum) AS v, max(lastTs) AS t
          FROM profiles GROUP BY user_id""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(latest == Set((1L, 3L, 16.0, 300L), (2L, 1L, 7.0, 150L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes a session when the " +
    "gap passes (event-time timeout) or a later event starts a new one") {
    import s.implicits._
    implicit val sq = s.sqlContext
    import StreamOps.TimedEvent
    def ts(sec: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val input = MemoryStream[TimedEvent]
    val q = StreamOps.sessionize(input.toDS(), gapMs = 5000)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // session 1: two events 2s apart; then an event 20s later both
      // advances the watermark past session 1's gap AND starts session 2
      input.addData(TimedEvent(1L, ts(1), 1.0), TimedEvent(1L, ts(3), 2.0))
      q.processAllAvailable()
      input.addData(TimedEvent(1L, ts(40), 7.0))
      q.processAllAvailable()
      input.addData(TimedEvent(2L, ts(59), 1.0)) // push watermark further
      q.processAllAvailable()
      val closed = s.sql(
        "SELECT user_id, nEvents, valueSum FROM sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(closed.contains((1L, 2L, 3.0)),
        s"first session (2 events, sum 3.0) should have closed: $closed")
    } finally q.stop()
  }

  test("file stream over the real events table produces the same per-type " +
    "counts as the batch read (batch/stream operator parity)") {
    import s.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.core.Tables.events(s, dir)
    // the file-stream source needs a DIRECTORY to watch
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = s.readStream.schema(batch.schema)
      .parquet(streamDir.toString)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("evt_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = s.sql("SELECT event_type, n FROM evt_counts")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batched = batch.groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batched)
    } finally q.stop()
  }

  test("late rows dropped by the watermark are COUNTED by " +
    "LateDataMonitor, not silently lost") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val monitor = new StreamOps.LateDataMonitor(s).attach()
    val input = MemoryStream[Ev]
    // append mode + 2-minute watermark: state evicts, late input drops
    val q = StreamOps.windowedTypeCounts(input.toDF(), "ts",
        watermark = "2 minutes")
      .writeStream.format("memory").queryName("late_counts")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0))
      q.processAllAvailable()
      // watermark is now 00:08; these two are far older -> dropped
      input.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "click", 2.0),
        Ev(Timestamp.valueOf("2024-01-01 00:02:00"), "click", 3.0))
      q.processAllAvailable()
      // listener delivery is async; give the bus a moment
      var dropped = 0L
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (dropped == 0L && System.nanoTime() < deadline) {
        // coalesce: sum() is null while the async listener bus hasn't
        // delivered any metrics yet — the poll must retry, not NPE
        dropped = monitor.metrics
          .filter(col("query") === "late_counts")
          .agg(coalesce(sum("rows_dropped_late"), lit(0L)))
          .collect()(0).getLong(0)
        if (dropped == 0L) Thread.sleep(200)
      }
      assert(dropped == 2L,
        s"both late rows must be accounted for, got $dropped")
    } finally { q.stop(); monitor.detach() }
  }

  test("x12p histogram sketch merges by ADDITION across foreachBatch " +
    "micro-batches: streamed quantiles equal the one-shot batch sketch") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val histPath = java.nio.file.Files
      .createTempDirectory("graft_hist_stream").toString + "/hist"
    val width = 10.0
    val batches = Seq(
      Seq(5.0, 7.0, 12.0),
      Seq(15.0, 22.0, 25.0, 31.0),
      Seq(44.0, 58.0, 5.5))
    def ev(v: Double) =
      Ev(Timestamp.valueOf("2024-01-01 00:00:01"), "x", v)

    val input = MemoryStream[Ev]
    val q = input.toDF().writeStream
      .foreachBatch(StreamOps.histogramForeachBatch(histPath, "value",
        width))
      .start()
    try batches.foreach { vs =>
      input.addData(vs.map(ev): _*)
      q.processAllAvailable() // force one micro-batch per group
    } finally q.stop()

    // merged state == the one-shot histogram over ALL values (addition
    // across micro-batch partials loses nothing)
    val all = batches.flatten
    val merged = s.read.parquet(histPath).collect()
      .map(r => r.getAs[Long]("b") -> r.getAs[Long]("n")).toMap
    val oneShot = all.groupBy(v => math.floor(v / width).toLong)
      .map { case (b, vs) => b -> vs.size.toLong }
    assert(merged == oneShot)

    // streamed quantile picks == brute cumulative scan over the same
    // histogram (x12p's definition: smallest bucket with cum >= q*N)
    val qs = Seq(0.5, 0.9, 0.99)
    def brute(qq: Double): Long = {
      var cum = 0L
      oneShot.toSeq.sortBy(_._1).collectFirst {
        case (b, n) if { cum += n; cum.toDouble >= qq * all.size } => b
      }.get
    }
    val got = StreamOps.histogramQuantiles(s, histPath, width, qs)
      .collect()
      .map(r => r.getAs[Double]("q") -> r.getAs[Long]("bucket")).toMap
    assert(got == qs.map(qq => qq -> brute(qq)).toMap)
  }

  test("Misra-Gries summary merges across foreachBatch micro-batches: " +
    "stream candidates keep the no-false-negative guarantee and the " +
    "state recount equals the one-shot batch x18 answer") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_mg_stream").toString + "/mg"
    // zipf-ish vocabulary (w_i appears ~600/i times), packed into docs
    // and split across 3 micro-batches; capacity far below the 30
    // distinct terms so per-batch eviction AND cross-batch merge trim
    // both fire
    val rnd = new scala.util.Random(31)
    val tokens = (1 to 30).flatMap(i => Seq.fill(600 / i)(s"w$i"))
    val docs = rnd.shuffle(tokens).grouped(20).zipWithIndex
      .map { case (tk, i) => (i.toLong, tk.mkString(" ")) }.toSeq
    val batches = docs.grouped((docs.size + 2) / 3).toSeq
    def doc(d: (Long, String)) =
      Doc(d._1, Timestamp.valueOf("2024-01-01 00:00:01"), d._2)
    val cap = 9
    val input = MemoryStream[Doc]
    val q = input.toDF().writeStream
      .foreachBatch(StreamOps.heavyHittersForeachBatch(statePath,
        "text", cap))
      .start()
    try batches.foreach { b =>
      input.addData(b.map(doc): _*)
      q.processAllAvailable()
    } finally q.stop()

    val truth = tokens.groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val n = tokens.size.toLong
    val buf = StreamOps.heavyHittersState(s, statePath)
    assert(buf.n == n, "total token count must be exact across batches")
    assert(buf.counts.size <= cap)
    val bound = n / (cap + 1)
    truth.filter(_._2 > bound).foreach { case (t, c) =>
      assert(buf.counts.contains(t),
        s"stream summary dropped heavy term $t (freq $c > $bound)")
    }
    val phi = 0.1
    val corpus = docs.toDF("doc_id", "text")
    val streamed = StreamOps.heavyHittersFromState(s, statePath, corpus,
        "text", phi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchAnswer = graft.operators.TextAnalysis.heavyHitters(corpus,
        "text", phi, cap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val brute = truth.filter { case (_, c) =>
      c.toDouble > phi * n.toDouble }
    assert(streamed == brute, "state recount diverged from brute force")
    assert(batchAnswer == brute, "batch x18 diverged from brute force")
  }

  test("streaming Count-Min state: the folded grid is BIT-EQUAL to the " +
    "one-shot sketch of all batches (linear sketch), estimates match, " +
    "and a retried batch id is a no-op") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_cms_stream").toString + "/cms"
    val (depth, width) = (4, 16)
    val rnd = new scala.util.Random(47)
    val tokens = (1 to 25).flatMap(i => Seq.fill(400 / i)(s"tok$i"))
    val docs = rnd.shuffle(tokens).grouped(15).zipWithIndex
      .map { case (tk, i) => (i.toLong, tk.mkString(" ")) }.toSeq
    val batches = docs.grouped((docs.size + 2) / 3).toSeq
    def doc(d: (Long, String)) =
      Doc(d._1, Timestamp.valueOf("2024-01-01 00:00:01"), d._2)
    val sink = StreamOps.cmsForeachBatch(statePath, "text", depth, width)
    val input = MemoryStream[Doc]
    val q = input.toDF().writeStream.foreachBatch(sink).start()
    try batches.foreach { b =>
      input.addData(b.map(doc): _*)
      q.processAllAvailable()
    } finally q.stop()

    // retried LAST batch id is a no-op (marker idempotence — the only
    // retry shape foreachBatch produces)
    val before = s.read.parquet(statePath)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    sink(batches.last.map(d => doc(d)).toDF(), (batches.size - 1).toLong)
    val after = s.read.parquet(statePath)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(after == before, "retried batchId must not re-fold")

    // folded state == one-shot grid over the whole corpus, cell by cell
    val corpus = docs.toDF("doc_id", "text")
    val oneShot = graft.operators.TextAnalysis
      .cmsTokenSketch(corpus, "text", depth, width)
      .head().getSeq[Long](0)
    (0 until depth).foreach { r =>
      (0 until width).foreach { b =>
        assert(before.getOrElse((r, b), 0L) == oneShot(r * width + b),
          s"cell ($r,$b) diverged")
      }
    }

    // any-time estimates: est >= exact for seen tokens, 0-floor works
    val exact = tokens.groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val est = StreamOps.cmsEstimateFromState(s, statePath,
        exact.keys.toSeq :+ "never-seen-token", depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(est(t) >= n, s"estimate undercounts $t")
    }
    assert(est("never-seen-token") >= 0L)
  }

  test("streaming quality quota: the (source, quality) histogram merges " +
    "by addition across micro-batches, the state decision equals the " +
    "one-shot l26h form, and a retried batch id is a no-op") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val histPath = java.nio.file.Files
      .createTempDirectory("graft_quota_stream").toString + "/qhist"
    // source sa exercises keep (q6 fits), edge-drop (q5 straddles), and
    // drop (q3 past budget); source sb's edge bucket holds two equal-
    // quality docs from DIFFERENT micro-batches, so the decision needs
    // the merged histogram plus the per-doc id tiebreak
    val batches = Seq(
      Seq(SrcDoc(1L, "sa", "a b c d e f"), SrcDoc(10L, "sb", "p q r s")),
      Seq(SrcDoc(2L, "sa", "a b c d e"), SrcDoc(11L, "sb", "t u v w")),
      Seq(SrcDoc(3L, "sa", "a b c"), SrcDoc(12L, "sb", "x y")))
    val input = MemoryStream[SrcDoc]
    val q = input.toDF().writeStream
      .foreachBatch(StreamOps.quotaForeachBatch(histPath, "source",
        "doc_id", "text"))
      .start()
    try batches.foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable() // one micro-batch per group
    } finally q.stop()

    val corpus = batches.flatten
      .map(d => (d.doc_id, d.source, d.text))
      .toDF("doc_id", "source", "text")
    def keptSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("kept")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    val streamed = StreamOps.quotaFromState(s, histPath, corpus,
      "source", "doc_id", "text", budgetPerSource = 6L)
    val oneShot = graft.operators.CorpusAssembly
      .qualityQuotaSelectHistogram(corpus, "source", "doc_id", "text", 6L)
    val exact = graft.operators.CorpusAssembly
      .qualityQuotaSelect(corpus, "source", "doc_id", "text", 6L)
    assert(keptSet(streamed) == Set(1L, 10L),
      s"sa keeps its q6 doc, sb keeps the lower-id edge doc: " +
        s"${keptSet(streamed)}")
    assert(keptSet(streamed) == keptSet(oneShot))
    assert(keptSet(streamed) == keptSet(exact))

    // a RETRIED micro-batch (same id, after a sink failure) must not
    // double-merge: the live state's batch marker short-circuits it
    val before = s.read.parquet(histPath).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    StreamOps.quotaForeachBatch(histPath, "source", "doc_id", "text")(
      Seq((99L, "sa", "zz yy xx ww")).toDF("doc_id", "source", "text"),
      2L)
    val after = s.read.parquet(histPath).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before, "retried batch id 2 must be a no-op")
  }

  test("streaming temperature mixing: the (group, hash-bucket) histogram " +
    "merges by addition and the state decision equals BOTH one-shot " +
    "mixing forms on the materialized stream") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val histPath = java.nio.file.Files
      .createTempDirectory("graft_mix_stream").toString + "/mhist"
    // skewed groups split across micro-batches: sa 12 docs, sb 3 —
    // sqrt reweighting must down-weight sa's keep rate vs sb's
    val docs = (1L to 12L).map(i => SrcDoc(i, "sa", "x")) ++
      (101L to 103L).map(i => SrcDoc(i, "sb", "x"))
    val batches = docs.grouped(5).toSeq
    val input = MemoryStream[SrcDoc]
    val q = input.toDF().writeStream
      .foreachBatch(StreamOps.mixForeachBatch(histPath, "source",
        "doc_id", nBuckets = 8))
      .start()
    try batches.foreach { b =>
      input.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()

    val corpus = docs.map(d => (d.doc_id, d.source))
      .toDF("doc_id", "source")
    def keptSet(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("kept")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    val streamed = keptSet(StreamOps.mixFromState(s, histPath, corpus,
      "source", "doc_id", totalTarget = 8L, nBuckets = 8))
    val oneShot = keptSet(graft.operators.CorpusAssembly
      .temperatureMixSelectHistogram(corpus, "source", "doc_id", 8L,
        nBuckets = 8))
    val exact = keptSet(graft.operators.CorpusAssembly
      .temperatureMixSelect(corpus, "source", "doc_id", 8L))
    assert(streamed == oneShot && streamed == exact,
      s"streamed=$streamed oneShot=$oneShot exact=$exact")
    assert(streamed.nonEmpty && streamed.size < docs.size,
      "both kept and dropped docs must occur")
  }

  test("streaming incremental dedup: the delta-log hash index equals " +
    "the one-shot l22 flags replayed snapshot-by-snapshot, and a " +
    "retried micro-batch is a byte-identical no-op") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_dedup_stream").toString
    val indexPath = root + "/index"
    val flagsPath = root + "/flags"
    val standing = Seq(
      (100L, "Hello  World"), (101L, "standing corpus text"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (1L, " hello world "),   // dup of standing (normalized)
      (2L, "fresh batch one")) // new
    val b2 = Seq(
      (3L, "FRESH BATCH ONE"), // dup of b1's doc 2 (earlier stream batch)
      (4L, "Hello  World"),    // dup of standing
      (5L, "brand new again")) // new

    val input = MemoryStream[Doc]
    val sink = StreamOps.dedupIndexForeachBatch(indexPath, flagsPath,
      "doc_id", "text")
    // seed the standing corpus as delta d=0 by the same code path
    sink(standing, 0L)
    val q = input.toDF().drop("ts")
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame,
                                   id: Long) =>
        sink(df, id + 1) // batch ids 1.. after the standing seed
      }.start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:01")
      input.addData(b1.map { case (i, tx) => Doc(i, t, tx) }: _*)
      q.processAllAvailable()
      input.addData(b2.map { case (i, tx) => Doc(i, t, tx) }: _*)
      q.processAllAvailable()
    } finally q.stop()

    def flagsOf(path: String) = s.read.parquet(path)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("dup_of_existing")).toMap
    // streamed flags == the one-shot batch operator replayed against
    // the standing corpus as it stood when each batch arrived
    val f1 = flagsOf(s"$flagsPath/batch=1")
    val f2 = flagsOf(s"$flagsPath/batch=2")
    assert(f1 == Map(1L -> 1L, 2L -> 0L))
    assert(f1 == graft.operators.Dedup
      .incrementalDupFlags(standing, b1.toDF("doc_id", "text"),
        "doc_id", "text")
      .select("doc_id", "dup_of_existing")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(f2 == Map(3L -> 1L, 4L -> 1L, 5L -> 0L))
    assert(f2 == graft.operators.Dedup
      .incrementalDupFlags(
        standing.unionByName(b1.toDF("doc_id", "text")),
        b2.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "dup_of_existing")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

    // the index is the union of deltas == one-shot distinct over all
    // content ever seen, each hash in exactly one delta
    val index = StreamOps.dedupIndex(s, indexPath).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(index.length == index.map(_._1).distinct.length)
    val allDocs = standing
      .unionByName(b1.toDF("doc_id", "text"))
      .unionByName(b2.toDF("doc_id", "text"))
    val expectedHashes = allDocs.select(
        sha2(graft.operators.Dedup.normalizeText(col("text")), 256))
      .collect().map(_.getString(0)).toSet
    assert(index.map(_._1).toSet == expectedHashes)

    // RETRY: re-running batch 2 must reproduce byte-identical state —
    // same flags, same delta, nothing double-inserted
    sink(b2.toDF("doc_id", "text"), 2L)
    assert(flagsOf(s"$flagsPath/batch=2") == f2,
      "retried batch changed its flags")
    val again = StreamOps.dedupIndex(s, indexPath).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(again.sorted.toSeq == index.sorted.toSeq,
      "retried batch changed the index")

    // COMPACTION is purely physical: deltas 0..1 merge into one dir,
    // rows keep their original first_batch, the index set is unchanged,
    // and a subsequent batch still flags/appends correctly
    StreamOps.compactStoreTiered(s, indexPath, StreamOps.LsmStore.dedup,
      upTo = 1L)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(indexPath))
      .map(_.getPath.getName).filter(_.startsWith("d=")).sorted
    assert(dirs.toSeq == Seq("d=2", "d=c1"), dirs.mkString(","))
    val compacted = StreamOps.dedupIndex(s, indexPath).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(compacted.sorted.toSeq == index.sorted.toSeq,
      "compaction changed the logical index")
    val b3 = Seq((6L, "fresh batch one"), (7L, "post compact new"))
    sink(b3.toDF("doc_id", "text"), 3L)
    assert(flagsOf(s"$flagsPath/batch=3") == Map(6L -> 1L, 7L -> 0L))
    assert(StreamOps.dedupIndex(s, indexPath).count() ==
      index.length + 1, "batch 3 must add exactly its one new hash")
  }

  test("tiered dedup sink: flags and index equal the never-compacted " +
    "run over 20 batches, plain deltas stay cadence-bounded, segments " +
    "tier-merge instead of rewriting one base, and a post-compaction " +
    "retry is absorbed", graft.SlowProof) {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dedup_tiered").toString
    val plainSink = StreamOps.dedupIndexForeachBatch(
      s"$root/pidx", s"$root/pflags", "doc_id", "text")
    val tierSink = StreamOps.dedupIndexForeachBatchTiered(
      s"$root/tidx", s"$root/tflags", "doc_id", "text",
      maxDeltas = 3, fanout = 2)
    val pool = Seq("alpha text", "beta text", "gamma text", "delta text",
      "epsilon text", "zeta text", "eta text", "theta text")
    val rnd = new scala.util.Random(29)
    val batches = (1L to 20L).map { b =>
      b -> (1 to 3).map(i =>
        (b * 100 + i, pool(rnd.nextInt(pool.length))))
        .toDF("doc_id", "text")
    }
    for ((b, df) <- batches) {
      plainSink(df, b)
      tierSink(df, b)
      assert(StreamOps.plainDeltaDirCount(s, s"$root/tidx") <= 3,
        s"plain-delta cadence bound broken after batch $b")
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def dirs(path: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("d=")).toSeq.sorted
    // the never-compacted run lists one dir per batch; the tiered run
    // must list FAR fewer (deltas bounded by the cadence, segments by
    // the geometric merge), and at least one tier merge must have
    // actually fired (a d=c...t... segment, or segments collapsed to
    // one) — otherwise this test would pass vacuously with phase 2 off
    assert(dirs(s"$root/pidx").length == 20)
    val tdirs = dirs(s"$root/tidx")
    assert(tdirs.length <= 8, s"tiered dirs unbounded: $tdirs")
    val segs = tdirs.filter(_.startsWith("d=c"))
    assert(segs.nonEmpty, "no compacted segment exists")
    assert(segs.exists(_.contains("t")) || segs.length == 1,
      s"no tier merge ever fired: $segs")
    def flags(path: String) = s.read.parquet(path)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("dup_of_existing")).toMap
    for ((b, _) <- batches)
      assert(flags(s"$root/tflags/batch=$b") ==
        flags(s"$root/pflags/batch=$b"), s"batch $b flags drifted")
    // an all-duplicate batch publishes an EMPTY delta, which must be
    // compacted like any other (else one listed dir leaks per such
    // batch) — non-vacuity: the seeded stream has one
    assert(batches.exists { case (b, _) =>
      flags(s"$root/tflags/batch=$b").values.forall(_ == 1L) },
      "no all-duplicate batch in the stream")
    def index(path: String) = StreamOps.dedupIndex(s, path)
      .select("content_hash", "first_batch").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
    assert(index(s"$root/tidx") == index(s"$root/pidx"),
      "tiered compaction changed the logical index")
    // retry a mid-stream batch whose delta was long since compacted:
    // flags byte-identical, duplicate rows absorbed by the next merge
    val f9 = flags(s"$root/tflags/batch=9")
    tierSink(batches(8)._2, 9L)
    assert(flags(s"$root/tflags/batch=9") == f9,
      "post-compaction retry changed flags")
    assert(index(s"$root/tidx") == index(s"$root/pidx"),
      "post-compaction retry changed the logical index")
  }

  test("windowed counts with watermark aggregate per minute") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.windowedTypeCounts(input.toDF(), "ts")
      .writeStream.format("memory").queryName("wincounts")
      .outputMode("complete").start()
    try {
      input.addData(
        Ev(Timestamp.valueOf("2024-01-01 00:00:10"), "click", 1.0),
        Ev(Timestamp.valueOf("2024-01-01 00:00:20"), "click", 2.0),
        Ev(Timestamp.valueOf("2024-01-01 00:01:10"), "click", 4.0))
      q.processAllAvailable()
      val out = s.sql("SELECT event_type, n, value_sum FROM wincounts")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(out == Set(("click", 2L, 3.0), ("click", 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming ANN index: cell-partitioned delta log equals the " +
    "one-shot assignment, retries are byte-identical, and the search " +
    "path statically prunes to the probed cells") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val indexPath = java.nio.file.Files
      .createTempDirectory("graft_ann_stream").toString + "/index"
    val all = graft.core.Tables
      .embeddings(s, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => EmbRow(r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_.vec_id)
    assert(all.length >= 30, s"need a real corpus, got ${all.length}")
    // index structure fixed at bootstrap: centroids from the initial
    // corpus (the first slice), exactly how a production index runs
    val seed = all.take(all.length / 3)
    val centroids = graft.operators.Similarity.sampleCentroids(
      seed.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding",
      nCells = 6).cache()
    val sink = StreamOps.annIndexForeachBatch(indexPath, centroids,
      "vec_id", "embedding")
    sink(seed.toSeq.toDF("vec_id", "embedding"), 0L) // bootstrap delta
    val rest = all.drop(all.length / 3)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[EmbRow]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(df, id + 1)
      }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    def assignments(df: org.apache.spark.sql.DataFrame) = df
      .select(col("n_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val streamed = assignments(StreamOps.annIndex(s, indexPath))
    val allDf = all.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id").as("n_id"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", graft.operators.Similarity.norm("cv"))
    val oneShot = assignments(graft.operators.Similarity
      .assignCells(allDf, "cv", "cn", centroids, "cell", take = 1))
    assert(streamed == oneShot,
      "batch boundaries must not change cell assignments")
    assert(streamed.map(_._1).size == all.length, "every vector indexed")
    assert(streamed.map(_._2).size > 1, "a one-cell index is vacuous")

    // RETRY batch 2: byte-identical no-op
    sink(b2.toSeq.toDF("vec_id", "embedding"), 2L)
    assert(assignments(StreamOps.annIndex(s, indexPath)) == streamed)

    // search equals the batch IVF query path over the same index, and
    // the index scan prunes to the probed cell directories
    val queries = all.take(5).toSeq.toDF("vec_id", "embedding")
    val got = StreamOps.annSearchFromIndex(s, indexPath, queries,
      "vec_id", "embedding", centroids, k = 3, nProbe = 2)
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val qDf = queries.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", graft.operators.Similarity.norm("qv"))
    val probedRef = graft.operators.Similarity
      .assignCells(qDf, "qv", "qn", centroids, "cell", take = 2)
    val joinedRef = graft.operators.Similarity
      .assignCells(allDf, "cv", "cn", centroids, "cell", take = 1)
      .join(probedRef, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", graft.operators.Similarity.dot("qv", "cv")
        / (col("qn") * col("cn")))
    val want = graft.operators.Similarity.rankTopKByCosine(joinedRef, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(gotRows == want,
      "streamed-index search must equal the batch IVF query path")
    val planned = got.queryExecution.executedPlan.toString
    assert(planned.contains("PartitionFilters") &&
      planned.contains("cell"),
      s"probed cells must prune the scan:\n${planned.take(1200)}")
  }

  test("streaming IVF-PQ index: the codes-only delta log search equals " +
    "the batch ivfPqTopK bit for bit, stores NO vectors, and prunes to " +
    "the probed cells") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val indexPath = java.nio.file.Files
      .createTempDirectory("graft_annpq_stream").toString + "/index"
    val all = graft.core.Tables
      .embeddings(s, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => EmbRow(r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_.vec_id)
    val allDf = all.toSeq.toDF("vec_id", "embedding")
    // structure fixed at bootstrap: centroids AND the PQ model — both
    // from the full fixture corpus with the portable rank so the batch
    // comparison below shares them exactly
    val centroids = graft.operators.Similarity.sampleCentroids(
      allDf, "vec_id", "embedding", nCells = 6,
      centroidRank = graft.operators.Similarity.portableCentroidRank)
      .cache()
    val model = graft.operators.Pq.fit(allDf, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 8,
      rank = graft.operators.Similarity.portableCentroidRank)
    val sink = StreamOps.annPqIndexForeachBatch(indexPath, centroids,
      model, "vec_id", "embedding")
    val (b1, b2) = all.splitAt(all.length / 2)
    val input = MemoryStream[EmbRow]
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(df, id)
      }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    // the log stores codes, not vectors
    val idx = StreamOps.annPqIndex(s, indexPath)
    assert(idx.columns.toSet == Set("n_id", "codes", "cell"))
    assert(idx.count() == all.length)

    val queries = all.take(5).toSeq.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("n_id"), r.getAs[Double]("adc_ip"))).toSet
    val got = StreamOps.annPqSearchFromIndex(s, indexPath, queries,
      "vec_id", "embedding", centroids, model, k = 3, nProbe = 2)
    val gotRows = rows(got)
    // batch reference: ivfPqTopK over the same corpus shares the
    // centroid sample (portable rank over the same ids) and the model
    val want = rows(graft.operators.Similarity.ivfPqTopK(allDf, queries,
      "vec_id", "embedding", k = 3, model, nCells = 6, nProbe = 2,
      centroidRank = graft.operators.Similarity.portableCentroidRank))
    assert(gotRows == want,
      "streamed-index ADC search must equal the batch IVF-PQ path")
    val planned = got.queryExecution.executedPlan.toString
    assert(planned.contains("PartitionFilters") &&
      planned.contains("cell"),
      s"probed cells must prune the scan:\n${planned.take(1200)}")
  }

  test("streaming edit-distance index: the cumulative pair log equals " +
    "one-shot PassJoin, including longer-partner-arrives-later and " +
    "short-tier pairs; retry is inert") {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_eddist_stream").toString
    val indexPath = root + "/index"
    val pairsPath = root + "/pairs"
    val k = 4
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about spark query planning"),
      (10L, "ab")) // short doc
    val b1 = Seq(
      // near-dup of 1 (3 substitutions: dog -> cat), SAME length
      (3L, "the quick brown fox jumps over the lazy cat tonight"),
      // LONGER near-dup of 1 (3 inserts) — standing partner is shorter
      (4L, "the quick brown fox jumps over the lazy dog tonight!!!"),
      (11L, "abx")) // short near-dup of 10
    val b2 = Seq(
      // SHORTER near-dup of 4 (arrives after its longer partner):
      // 4's pairs with this doc need batch-PROBES x standing-SEGS,
      // while 4 itself found 1 via batch-SEGS x standing-PROBES
      (5L, "the quick brown fox jumps over the lazy dog tonight!"),
      (12L, "a")) // short, pairs with 10 and 11
    val sink = StreamOps.edDistIndexForeachBatch(indexPath, pairsPath,
      k, "doc_id", "text")
    val batches = Seq(b0, b1, b2)
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF("doc_id", "text"), i.toLong)
    }
    def pairLog(): Set[(Long, Long, Long)] = s.read.parquet(pairsPath)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("dist"))).toSet
    val streamed = pairLog()
    val allDocs = batches.flatten.toDF("doc_id", "text")
    val oneShot = graft.operators.Dedup
      .editDistanceJoinPass(allDocs, "doc_id", "text", k)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("dist"))).toSet
    assert(streamed == oneShot,
      s"streamed=$streamed\noneShot=$oneShot")
    // the interesting pairs actually exist (the test is non-vacuous)
    def has(a: Long, b: Long) = streamed.exists(p =>
      (p._1, p._2) == ((a, b)))
    assert(has(1L, 4L), "longer partner arriving later")
    assert(has(4L, 5L), "shorter partner arriving later")
    assert(has(1L, 3L) && has(10L, 11L) && has(10L, 12L),
      "same-length, and short-tier cross-batch pairs")
    // retry of the last batch is byte-identical
    sink(b2.toDF("doc_id", "text"), 2L)
    assert(pairLog() == streamed, "retried batch changed the pair log")

    // compaction is purely physical: deltas 0..1 merge, and a
    // subsequent batch still finds its standing partners through the
    // compacted dirs
    StreamOps.compactStoreTiered(s, indexPath, StreamOps.LsmStore.edDist,
      upTo = 1L)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val segDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$indexPath/segs"))
      .map(_.getPath.getName).filter(_.startsWith("d=")).sorted
    assert(segDirs.toSeq == Seq("d=2", "d=c1"), segDirs.mkString(","))
    val b3 = Seq( // another same-length near-dup of 1 (in batch 0)
      (6L, "the quick brown fox jumps over the hazy dog tonight"))
    sink(b3.toDF("doc_id", "text"), 3L)
    val allDocs4 = (batches.flatten ++ b3).toDF("doc_id", "text")
    val oneShot4 = graft.operators.Dedup
      .editDistanceJoinPass(allDocs4, "doc_id", "text", k)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("dist"))).toSet
    assert(pairLog() == oneShot4,
      "post-compaction batch lost standing partners")
  }

  test("streaming near-dup index: the union of per-batch pair logs " +
    "equals one-shot MinHash-LSH, pairs land in the later member's " +
    "arrival batch; retry and compaction are inert") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_neardup_stream").toString
    val indexPath = root + "/index"
    val pairsPath = root + "/pairs"
    // ten-token docs: 1~2~5 one near-dup family, 3~4 another, 6 alone
    val t1 = "a b c d e f g h i j"
    val t3 = "p q r s t u v w x y"
    val standing = Seq((1L, t1), (3L, t3)).toDF("doc_id", "text")
    val b1 = Seq((2L, t1 + " k"), (6L, "m n o zz q2 r2 s2 t2 u2 v2"))
    val b2 = Seq((5L, t1 + " l"), (4L, t3 + " z"))
    val all = Seq((1L, t1), (3L, t3)) ++ b1 ++ b2

    val sink = StreamOps.nearDupIndexForeachBatch(indexPath, pairsPath,
      "doc_id", "text")
    sink(standing, 0L)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(df, id + 1)
      }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    def pairsOf(path: String) = s.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p1 = pairsOf(s"$pairsPath/batch=1")
    val p2 = pairsOf(s"$pairsPath/batch=2")
    val oneShot = graft.operators.Dedup
      .minHashLshPairs(all.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(p1.union(p2) == oneShot,
      s"streamed pair log must equal the one-shot operator: " +
        s"streamed=${p1.union(p2)} oneShot=$oneShot")
    assert(p1.map(p => (p._1, p._2)) == Set((1L, 2L)),
      "batch 1 pairs = exactly those whose later member arrived in it")
    assert(p2.map(p => (p._1, p._2)) == Set((1L, 5L), (2L, 5L), (3L, 4L)),
      "batch 2 pairs = cross-batch AND within-family closures")

    // RETRY batch 2: byte-identical pair log, no state double-insert
    sink(b2.toDF("doc_id", "text"), 2L)
    assert(pairsOf(s"$pairsPath/batch=2") == p2,
      "retried batch changed its pairs")

    // compaction is purely physical: standing reads unchanged, a later
    // batch still finds its near-dups against the compacted index
    val shBefore = StreamOps.readLog(s, indexPath, StreamOps.LsmStore.nearDup,
        "shingles")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSet
    StreamOps.compactStoreTiered(s, indexPath,
      StreamOps.LsmStore.nearDup, upTo = 1L)
    val shAfter = StreamOps.readLog(s, indexPath, StreamOps.LsmStore.nearDup,
        "shingles")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      .toSet
    assert(shAfter == shBefore, "compaction changed the logical index")
    sink(Seq((7L, t3 + " z2")).toDF("doc_id", "text"), 3L)
    val p3 = pairsOf(s"$pairsPath/batch=3").map(p => (p._1, p._2))
    assert(p3 == Set((3L, 7L), (4L, 7L)),
      s"post-compaction batch must still match the standing corpus: $p3")
  }

  test("streaming filter funnel: standing counters equal the one-shot " +
    "operator over everything seen; retry is inert") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_funnel_stream").toString + "/state"
    val rules = Seq(
      "min_len" -> (length(col("text")) >= 8),
      "has_vowel" -> col("text").rlike("[aeiou]"))
    val b1 = Seq((1L, "alpha beta gam"), (2L, "shrt"))
    val b2 = Seq((3L, "bcdfghjklmnp"), (4L, "another long one"))
    val sink = StreamOps.funnelForeachBatch(statePath, rules)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(sink).start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    def stateRows() = s.read.parquet(statePath)
      .select("rule_idx", "rule", "n_failing", "n_killed_here",
        "n_survivors")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val got = stateRows()
    val oneShot = graft.operators.TextAnalysis
      .filterFunnel((b1 ++ b2).toDF("doc_id", "text"), rules)
      .collect().map(r => (r.getAs[Long]("rule_idx"),
        r.getAs[String]("rule"), r.getAs[Long]("n_failing"),
        r.getAs[Long]("n_killed_here"), r.getAs[Long]("n_survivors")))
      .toSet
    assert(got == oneShot,
      s"streamed state must equal one-shot: $got vs $oneShot")
    // retry the last batch: marker makes it a no-op
    sink(b2.toDF("doc_id", "text"), 1L)
    assert(stateRows() == got, "retried batch double-counted")
  }

  test("streaming prefix-filter index: the union of per-batch pair logs " +
    "equals the one-shot exact tau-join even for post-seed vocabulary " +
    "(frozen order, df=0 arm); retry and compaction are inert") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft_prefix_stream").toString
    val indexPath = root + "/index"
    val pairsPath = root + "/pairs"
    val t1 = "a b c d e f g h i j"
    val t3 = "p q r s t u v w x y"
    // batch 2's family (docs 8~9) uses vocabulary the seed never saw —
    // every shingle ranks df=0 in the frozen order, the drift arm
    val tNew = "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"
    val standing = Seq((1L, t1), (3L, t3)).toDF("doc_id", "text")
    val b1 = Seq((2L, t1 + " k"), (6L, "m n o zz q2 r2 s2 t2 u2 v2"))
    val b2 = Seq((5L, t1 + " l"), (4L, t3 + " z"), (8L, tNew),
      (9L, tNew + " q9"))
    val all = Seq((1L, t1), (3L, t3)) ++ b1 ++ b2
    val tau = 0.5

    val sink = StreamOps.prefixDupIndexForeachBatch(indexPath, pairsPath,
      "doc_id", "text", threshold = tau)
    sink(standing, 0L)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(df, id + 1)
      }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    def pairsOf(path: String) = s.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p1 = pairsOf(s"$pairsPath/batch=1")
    val p2 = pairsOf(s"$pairsPath/batch=2")
    val oneShot = graft.operators.Dedup
      .prefixFilterJaccardPairs(all.toDF("doc_id", "text"), "doc_id",
        "text", n = 3, threshold = tau, hashedShingles = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val exact = graft.operators.Dedup
      .ngramJaccardPairs(all.toDF("doc_id", "text"), "doc_id", "text",
        n = 3, threshold = tau, hashedShingles = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(oneShot == exact, "one-shot prefix filter must equal the " +
      "full inverted-index join (sanity)")
    assert(p1.union(p2) == exact,
      s"streamed pair log must equal the exact tau-join: " +
        s"streamed=${p1.union(p2)} exact=$exact")
    assert(p2.exists(p => p._1 == 8L && p._2 == 9L),
      "the post-seed-vocabulary pair (both docs df=0 under the frozen " +
        "order) must still be found")
    assert(p1.map(p => (p._1, p._2)).forall(p => p._2 == 2L || p._2 == 6L),
      "batch-1 pairs carry a batch-1 later member")

    // RETRY batch 2: byte-identical pair log, no state double-insert
    sink(b2.toDF("doc_id", "text"), 2L)
    assert(pairsOf(s"$pairsPath/batch=2") == p2,
      "retried batch changed its pairs")

    // compaction is purely physical
    val pxBefore = StreamOps.readLog(s, indexPath, StreamOps.LsmStore.prefixDup,
        "prefixes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    StreamOps.compactStoreTiered(s, indexPath,
      StreamOps.LsmStore.prefixDup, upTo = 1L)
    val pxAfter = StreamOps.readLog(s, indexPath, StreamOps.LsmStore.prefixDup,
        "prefixes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pxAfter == pxBefore, "compaction changed the logical index")
    sink(Seq((7L, t3 + " z2")).toDF("doc_id", "text"), 3L)
    val p3 = pairsOf(s"$pairsPath/batch=3").map(p => (p._1, p._2))
    assert(p3.contains((3L, 7L)),
      s"post-compaction batch must still match the standing corpus: $p3")

    // RE-DELIVERY (at-least-once source duplicate): doc 2 arrives again
    // in a NEW batch — it must not pair with its own standing copy
    sink(Seq((2L, t1 + " k")).toDF("doc_id", "text"), 4L)
    val p4 = pairsOf(s"$pairsPath/batch=4").map(p => (p._1, p._2))
    assert(p4.forall(p => p._1 != p._2),
      s"a re-delivered doc id must not emit a (d, d) self-pair: $p4")
  }

  test("streaming line-frequency state: folded df equals one-shot, " +
    "state-driven filtering equals the one-shot operator, retry and " +
    "sum-compaction are inert") {
    import s.implicits._
    implicit val sq = s.sqlContext
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_linefreq_stream").toString + "/state"
    val hdr = "nav home menu"
    val b0 = Seq((1L, s"$hdr\nalpha"), (2L, s"$hdr\nbeta"))
    val b1 = Seq((3L, s"$hdr\ngamma\nshared quote"))
    val b2 = Seq((4L, s"$hdr\nshared quote\ndelta"), (5L, hdr))
    val all = b0 ++ b1 ++ b2
    val sink = StreamOps.lineFreqForeachBatch(statePath, "doc_id", "text")
    sink(b0.toDF("doc_id", "text"), 0L)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        sink(df, id + 1)
      }.start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    def freqMap() = StreamOps.lineFreq(s, statePath).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShotFreq = graft.operators.Dedup.lineDocFreq(
        graft.operators.Dedup.lineTable(all.toDF("doc_id", "text"),
          "doc_id", "text", "\n", hashedLineKeys = true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(freqMap() == oneShotFreq,
      "standing df must equal the one-shot corpus statistic")

    def cleaned(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept_lines"),
          r.getAs[String]("clean_text")))).toMap
    val viaState = cleaned(StreamOps.lineFreqFilterWithState(
      all.toDF("doc_id", "text"), "doc_id", "text", maxDocFreq = 2,
      statePath))
    val oneShot = cleaned(graft.operators.Dedup.lineFrequencyFilter(
      all.toDF("doc_id", "text"), "doc_id", "text", maxDocFreq = 2,
      hashedLineKeys = true))
    assert(viaState == oneShot,
      s"state-driven filter diverged: $viaState vs $oneShot")
    assert(viaState(5L)._3 == "", "all-boilerplate doc must clean to ''")

    // retry the last batch: overwrite of its own dir is idempotent
    sink(b2.toDF("doc_id", "text"), 2L)
    assert(freqMap() == oneShotFreq, "retried batch double-counted")

    // compaction sums, never changes the logical state
    StreamOps.compactStoreTiered(s, statePath,
      StreamOps.LsmStore.lineFreq, upTo = 1L)
    assert(freqMap() == oneShotFreq, "compaction changed the fold")
    val dirs = new java.io.File(statePath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d="))
    assert(dirs.exists(_.getName == "d=c1") && dirs.length == 2,
      s"expected compacted dir + live batch-2 delta, got " +
        dirs.map(_.getName).toSeq)
  }

  test("near-dup index hot-bucket cap: over-cap buckets emit only " +
    "star-against-representative pairs; a generous cap equals uncapped") {
    import s.implicits._
    def freshRoot() = java.nio.file.Files
      .createTempDirectory("graft_neardup_cap").toString
    val hotFamily = (10L to 17L).map(i => (i, "hot boiler plate a b c d e"))
    val distinctDocs = Seq((1L, "k l m n o p q r"),
      (2L, "s2 t2 u2 v2 w2 x2 y2 z2"))
    val batch = (hotFamily ++ distinctDocs).toDF("doc_id", "text")

    def pairsWith(cap: Int): Set[(Long, Long)] = {
      val root = freshRoot()
      StreamOps.nearDupIndexForeachBatch(s"$root/i", s"$root/p",
        "doc_id", "text", maxBucket = cap)(batch, 0L)
      s.read.parquet(s"$root/p/batch=0").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val uncapped = pairsWith(Int.MaxValue)
    assert(uncapped.size == 28, s"8 identical docs -> 28 pairs: $uncapped")
    val capped = pairsWith(4)
    assert(capped == (11L to 17L).map(i => (10L, i)).toSet,
      s"over-cap bucket must collapse to star-against-min-id: $capped")
    assert(pairsWith(100) == uncapped,
      "a cap nothing exceeds must change nothing")

    // RE-DELIVERY: doc 1 arrives again in batch 1 (both capped and
    // uncapped candidate arms) — no (d, d) self-pair against its own
    // standing copy
    for (cap <- Seq(Int.MaxValue, 4)) {
      val root = freshRoot()
      val sink = StreamOps.nearDupIndexForeachBatch(s"$root/i", s"$root/p",
        "doc_id", "text", maxBucket = cap)
      sink(batch, 0L)
      sink(Seq((1L, "k l m n o p q r")).toDF("doc_id", "text"), 1L)
      val redelivered = s.read.parquet(s"$root/p/batch=1").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(redelivered.forall(p => p._1 != p._2),
        s"cap=$cap: re-delivered doc must not self-pair: " +
          redelivered.toSeq)
    }
  }

  test("streaming dup clusters: incremental labels equal one-shot " +
    "components over the cumulative pair stream; a late pair merges " +
    "two standing clusters; retry is inert") {
    import s.implicits._
    val ccPath = java.nio.file.Files
      .createTempDirectory("graft_dupcc_stream").toString + "/cc"
    val sink = StreamOps.dupClusterForeachBatch(ccPath)
    val b1 = Seq((1L, 2L), (5L, 6L))
    val b2 = Seq((7L, 8L), (2L, 3L)) // grows {1,2} by 3
    val b3 = Seq((3L, 5L)) // MERGES {1,2,3} with {5,6} -> min 1

    def streamed(): Map[Long, Long] =
      StreamOps.dupClusters(s, ccPath).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def oneShot(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val cc = graft.operators.GraphRank.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      cc.unpersist(blocking = false)
      got
    }

    var seen = Seq.empty[(Long, Long)]
    for ((b, id) <- Seq(b1, b2, b3).zipWithIndex) {
      sink(b.toDF("doc_a", "doc_b"), id.toLong)
      seen ++= b
      assert(streamed() == oneShot(seen),
        s"after batch $id the incremental labels must equal one-shot " +
          s"components over all ${seen.size} pairs")
    }
    assert(streamed()(6L) == 1L, "the merge must relabel the absorbed " +
      "cluster's members, not just the touched endpoints")

    val before = streamed()
    sink(b3.toDF("doc_a", "doc_b"), 2L) // retry the merge batch
    assert(streamed() == before, "retried batch changed labels")
  }

  test("streaming DSIR scores each batch against the PRE-batch " +
    "distribution (at-arrival); counts fold additively; a retried " +
    "published batch is skipped whole") {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dsir_stream").toString
    val statePath = root + "/state"
    val scoresPath = root + "/scores"
    val sink = StreamOps.dsirForeachBatch(statePath, scoresPath,
      "doc_id", "text", col("is_tgt"), buckets = 512, topKPerBatch = 2)

    // seed: target speaks alpha/beta, raw-only docs speak zeta/eta
    val b0 = Seq((1L, "alpha beta alpha beta", true),
      (2L, "zeta eta zeta eta", false), (3L, "zeta eta", false))
      .toDF("doc_id", "text", "is_tgt")
    sink(b0, 0L)
    def scoresOf(b: Long) = s.read.parquet(s"$scoresPath/batch=$b")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    val s0 = scoresOf(0L)
    assert(s0.values.forall(_._1 == 0.0),
      "against an empty state every score is the degenerate 0")

    // batch 1 scored against b0's distribution: raw-exclusive vocab
    // scores negative, target vocab ~0 (raw contains the target), an
    // unseen token contributes exactly 0 (no-evidence neutrality)
    val b1 = Seq((10L, "alpha beta", false), (11L, "zeta eta", false),
      (12L, "qq rr", false)).toDF("doc_id", "text", "is_tgt")
    sink(b1, 1L)
    val s1 = scoresOf(1L)
    assert(s1(11L)._1 < 0.0, "raw-exclusive vocab must score negative")
    assert(s1(10L)._1 == 0.0 && s1(12L)._1 == 0.0,
      s"target-shared and unseen vocab are neutral here: $s1")
    assert(s1(10L)._2 == 1L && s1(12L)._2 == 1L && s1(11L)._2 == 0L,
      "top-2 of the batch by (avg, id)")

    // state = cumulative counts over both batches
    val state = s.read.parquet(statePath)
      .agg(sum("rc").cast("long"), sum("tc").cast("long")).head()
    assert(state.getLong(0) == 16L, s"raw tokens 10+6: $state")
    assert(state.getLong(1) == 4L, "target tokens from doc 1 only")

    // retry after publish: the marker short-circuits the whole batch
    val bytes = new java.io.File(s"$scoresPath/batch=1")
      .listFiles().map(_.lastModified()).toSet
    sink(b1, 1L)
    assert(new java.io.File(s"$scoresPath/batch=1")
      .listFiles().map(_.lastModified()).toSet == bytes,
      "retried published batch must not rewrite its scores")
  }

  test("pcaMomentForeachBatch: streamed state is bit-identical to " +
    "one-shot momentSums over the cumulative corpus, the derived model " +
    "equals the batch fit, and retries are inert") {
    import s.implicits._
    import graft.operators.Pca
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_pca_stream").toString + "/state"
    val dim = 4
    val sink = StreamOps.pcaMomentForeachBatch(statePath, "v", dim)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j", "sxy", "sx", "sy", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val b0 = Seq(Seq(0.1, 0.2, -0.3, 0.4), Seq(-1.0, 0.5, 0.25, 0.0),
      Seq(0.125, -0.0625, 0.5, -0.5)).map(Tuple1(_)).toDF("v")
    val b1 = Seq(Seq(0.9, -0.8, 0.7, -0.6)).map(Tuple1(_)).toDF("v")
    sink(b0, 0L)
    assert(cells(s.read.parquet(statePath)) ==
      cells(Pca.momentSums(b0, "v", dim)),
      "state after one batch == that batch's moments")
    sink(b1, 1L)
    val cum = b0.unionByName(b1)
    val want = cells(Pca.momentSums(cum, "v", dim))
    assert(cells(s.read.parquet(statePath)) == want,
      "folded state == one-shot moments over everything streamed")
    sink(b1, 1L) // retry after publish: marker short-circuits
    assert(cells(s.read.parquet(statePath)) == want, "retry inert")
    val sm = StreamOps.pcaModelFromState(s, statePath, dim)
    val bm = Pca.fit(cum, "v", dim)
    assert(sm.n == bm.n && sm.mean.sameElements(bm.mean) &&
      sm.eigenvalues.sameElements(bm.eigenvalues) &&
      sm.components.zip(bm.components).forall {
        case (a, b) => a.sameElements(b) },
      "streaming-state model is THE batch model, bit for bit")
    sink(Seq.empty[Tuple1[Seq[Double]]].toDF("v"), 2L)
    assert(cells(s.read.parquet(statePath)) == want,
      "empty batch is a no-op")
  }

  test("streaming WARC ingest: per-batch responses and quarantine == " +
    "the one-shot operator per batch; retry overwrites in place") {
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_warc_stream").toString
    val respPath = base + "/responses"
    val qPath = base + "/quarantine"
    def rec(t: String, block: String, magic: String = "WARC/1.0") =
      magic + "\r\nWARC-Type: " + t +
        "\r\nContent-Type: application/http" +
        "\r\nContent-Length: " + block.length + "\r\n\r\n" + block +
        "\r\n\r\n"
    def http(status: String, body: String) =
      "HTTP/1.1 " + status + "\r\nContent-Type: text/html\r\n\r\n" +
        "<html><body><p>" + body + "</p></body></html>"
    val b1 = Seq(
      (1L, rec("response", http("200 OK", "alpha"))),
      (2L, rec("response", http("404 Not Found", "gone"))),
      (3L, rec("response", http("200 OK", "x"), magic = "WARX/1.0")))
    val b2 = Seq(
      (4L, rec("response", http("201 Created", "beta"))),
      (5L, "WARC/1.0\r\nWARC-Type: response")) // truncated header
    def toBin(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "w")
      .select(col("doc_id"), col("w").cast("binary").as("w"))
    val sink = StreamOps.warcIngestForeachBatch(respPath, qPath,
      "doc_id", "w")
    sink(toBin(b1), 1L)
    sink(toBin(b2), 2L)
    def texts(path: String) = s.read.parquet(path).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(texts(s"$respPath/batch=1") == Map(1L -> "alpha"),
      "batch 1: 200-response text only (404 gated, corrupt quarantined)")
    assert(texts(s"$respPath/batch=2") == Map(4L -> "beta"))
    def quar(path: String) = s.read.parquet(path).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("error")).toMap
    assert(quar(s"$qPath/batch=1") == Map(3L -> "bad-magic"))
    assert(quar(s"$qPath/batch=2") == Map(5L -> "truncated-header"))
    // streamed == the one-shot operator on the same batch
    val oneShot = graft.operators.Warc
      .responseTexts(toBin(b1), "doc_id", "w").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(texts(s"$respPath/batch=1") == oneShot)
    // retry: same batch id, byte-identical replacement, no cross-batch
    sink(toBin(b1), 1L)
    assert(texts(s"$respPath/batch=1") == Map(1L -> "alpha"))
    assert(texts(s"$respPath/batch=2") == Map(4L -> "beta"),
      "a batch-1 retry must not touch batch 2")
  }

  test("incremental crawl-directory ingest: each tick ingests only NEW " +
    ".warc.gz files; union over ticks == one-shot file reader; a crash " +
    "before the log publish replays the tick byte-identically") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_warc_ticks").toString
    val crawl = base + "/crawl"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(crawl))
    val respPath = base + "/responses"
    val qPath = base + "/quarantine"
    val statePath = base + "/processed"
    def writeFile(name: String, ids: Seq[Long]): Unit = {
      val out = new java.io.FileOutputStream(s"$crawl/$name")
      ids.foreach { i =>
        val body = s"<html><body><p>doc $i words here</p></body></html>"
        val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          body
        val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: http://x/$i\r\n" +
          "Content-Type: application/http\r\n" +
          s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n" +
          http + "\r\n\r\n").getBytes("UTF-8")
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(rec); g.close()
        out.write(bos.toByteArray)
      }
      out.close()
    }
    writeFile("a.warc.gz", Seq(1L, 2L))
    writeFile("b.warc.gz", Seq(3L))
    def tick() = StreamOps.warcFilesIngestTick(s, s"$crawl/*.warc.gz",
      respPath, qPath, statePath)
    assert(tick() == 2L, "tick 0 ingests both files")
    assert(tick() == 0L, "nothing new -> no-op tick")
    def texts(): Set[String] = s.read.parquet(respPath)
      .select("target_uri").collect().map(_.getString(0)).toSet
    assert(texts() == Set("http://x/1", "http://x/2", "http://x/3"))
    // a LATE file arrives; only it is ingested, into tick=1
    writeFile("c.warc.gz", Seq(4L))
    assert(tick() == 1L)
    assert(texts() == (1 to 4).map(i => s"http://x/$i").toSet)
    assert(s.read.parquet(s"$respPath/tick=1")
      .select("target_uri").collect().map(_.getString(0)).toSeq ==
      Seq("http://x/4"), "tick 1 carries ONLY the late file")
    // union over ticks == the one-shot file reader
    val oneShot = graft.sources.WarcFiles
      .responseTexts(s, s"$crawl/*.warc.gz")
      .select("target_uri", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val streamed = s.read.parquet(respPath)
      .select("target_uri", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == oneShot)
    // crash replay: park the log back one version (outputs for tick 2
    // already written), re-run -> same tick recomputed, same totals
    writeFile("d.warc.gz", Seq(5L))
    val stateBackup = base + "/processed_backup"
    def cp(src: String, dst: String): Unit = {
      import scala.jdk.CollectionConverters._
      val sp = java.nio.file.Paths.get(src)
      java.nio.file.Files.walk(sp).iterator().asScala.toSeq.foreach { p =>
        val t = java.nio.file.Paths.get(dst)
          .resolve(sp.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    cp(statePath, stateBackup)
    assert(tick() == 1L) // ingests d.warc.gz as tick 2, publishes log
    // simulate the crash window: restore the PRE-publish log
    def rmrf(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val pp = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(pp))
        java.nio.file.Files.walk(pp).iterator().asScala.toSeq
          .reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    rmrf(statePath)
    cp(stateBackup, statePath)
    assert(tick() == 1L, "replayed tick re-ingests the same file")
    assert(texts() == (1 to 5).map(i => s"http://x/$i").toSet,
      "no duplication after the replay")
    assert(s.read.parquet(respPath).count() == 5L)
  }

  test("streaming merge-trainer word state: BPE and WordPiece merges " +
    "from the standing state == batch training over everything " +
    "streamed; retries inert") {
    import s.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_merge_words").toString + "/words"
    val sink = StreamOps.mergeWordsForeachBatch(statePath, "text")
    val b1 = Seq((1L, "abab abab! Cd-cd"), (2L, "abab cd"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "abcd ABCD abab"), (4L, "dddd e"))
      .toDF("doc_id", "text")
    sink(b1, 1L)
    sink(b2, 2L)
    sink(b2, 2L) // retry after publish: marker short-circuits
    val all = b1.unionByName(b2)
    val gotB = StreamOps.bpeMergesFromState(s, statePath, 5)
      .map(m => (m.rank, m.a, m.b))
    val wantB = graft.operators.Bpe.train(all, "text", 5)
      .map(m => (m.rank, m.a, m.b))
    assert(gotB == wantB, "state-trained BPE != batch BPE")
    val gotW = StreamOps.wordPieceMergesFromState(s, statePath, 5)
      .map(m => (m.rank, m.a, m.b))
    val wantW = graft.operators.WordPiece.train(all, "text", 5)
      .map(m => (m.rank, m.a, m.b))
    assert(gotW == wantW, "state-trained WordPiece != batch WordPiece")
  }

  test("streaming novelty rate: per-batch union growth from the " +
    "standing KMV signature == one-shot estimates on the same " +
    "prefixes; an all-repeat batch reads ~zero novel; retries inert") {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_novelty").toString
    val k = 512
    val sink = StreamOps.noveltyForeachBatch(
      s"$root/sig", s"$root/metrics", "k", k)
    val b1 = (0L until 20000L).toDF("k")
    val b2 = (15000L until 40000L).toDF("k") // 5k repeats, 25k... 20k new
    val b3 = (0L until 20000L).toDF("k")     // ALL repeats
    sink(b1, 1L)
    sink(b2, 2L)
    sink(b2, 2L) // retry after publish
    sink(b3, 3L)
    def metric(b: Long) = s.read.parquet(s"$root/metrics/batch=$b")
      .collect()(0)
    val m2 = metric(2L)
    // one-shot references via the batch estimator on the same data
    def est(df: org.apache.spark.sql.DataFrame): Double = {
      val rows = graft.operators.DistinctSketch.kminHashes(df, col("k"), k)
        .orderBy("h").collect().map(_.getLong(0))
      if (rows.length < k) rows.length.toDouble
      else (k - 1).toDouble / (rows.last.toDouble / math.pow(2.0, 64) + 0.5)
    }
    assert(m2.getDouble(2) == est(b1), "union-before == one-shot(b1)")
    assert(m2.getDouble(3) == est(b1.unionByName(b2)),
      "union-after == one-shot(b1 ∪ b2)")
    // novelty ≈ 20k new keys, within the k=512 error envelope (~3/√k)
    val novel2 = m2.getDouble(4)
    assert(math.abs(novel2 - 20000.0) <= 0.15 * 40000.0,
      s"batch-2 novelty estimate off: $novel2")
    val novel3 = metric(3L).getDouble(4)
    assert(novel3 <= 0.05 * 40000.0,
      s"all-repeat batch must read ~zero novel: $novel3")
  }

  test("streaming media near-dup: cross-batch signature matches land " +
    "in ONE standing cluster (including an old id LARGER than the " +
    "new one), hot hashes capped, retries inert") {
    import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_media_stream").toString
    val sink = StreamOps.mediaNearDupForeachBatch(
      s"$root/sig", s"$root/cc", threshold = 0.5)
    def sig(id: Long, hs: Long*) =
      hs.map(h => (id, h))
    // batch 1: items 10 and 99 unrelated; batch 2: item 50 duplicates
    // item 99's signature (old id 99 > new id 50 — the orientation a
    // naive a<b candidate filter drops), item 60 half-overlaps item 10
    val b1 = (sig(10L, 1L, 2L, 3L, 4L) ++ sig(99L, 7L, 8L, 9L))
      .toDF("id", "fhash")
    val b2 = (sig(50L, 7L, 8L, 9L) ++ sig(60L, 1L, 2L, 3L, 5L))
      .toDF("id", "fhash")
    sink(b1, 1L)
    sink(b2, 2L)
    sink(b2, 2L) // retry after publish
    val got = StreamOps.componentsFromState(s, s"$root/cc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 50 ~ 99 at J=1 (cross-batch, old id larger); 60 ~ 10 at J=3/5
    assert(got(99L) == 50L && got(50L) == 50L,
      s"cross-batch dup with larger old id missed: $got")
    assert(got(60L) == 10L && got(10L) == 10L, s"overlap pair: $got")
    // hot-hash cap: a third batch item sharing ONLY a hash present on
    // every item must not join anything under the cap
    val hotSink = StreamOps.mediaNearDupForeachBatch(
      s"$root/sig2", s"$root/cc2", threshold = 0.2, maxDf = 2)
    hotSink((sig(1L, 42L, 100L) ++ sig(2L, 42L, 200L))
      .toDF("id", "fhash"), 1L)
    hotSink(sig(3L, 42L, 300L).toDF("id", "fhash"), 2L)
    val fs2 = new java.io.File(s"$root/cc2")
    val capped =
      if (!fs2.exists()) Map.empty[Long, Long]
      else StreamOps.componentsFromState(s, s"$root/cc2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!capped.contains(3L),
      s"hot-hash-only match must stay unclustered under the cap: $capped")
  }

  test("incremental connected components: streamed cluster state == " +
    "one-shot CC over all edges streamed, including a cross-batch " +
    "merge of two standing clusters; retries inert") {
    import s.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_cc_stream").toString + "/cc"
    val sink = StreamOps.componentsForeachBatch(statePath,
      "doc_a", "doc_b")
    // batch 1: clusters {1,2,3} and {10,11}; batch 2: grows {1,2,3}
    // by 4 and plants {20,21}; batch 3: BRIDGES the two standing
    // clusters (3-10) — the case where per-batch-only labels go wrong
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val b2 = Seq((3L, 4L), (20L, 21L)).toDF("doc_a", "doc_b")
    val b3 = Seq((3L, 10L)).toDF("doc_a", "doc_b")
    sink(b1, 1L)
    sink(b2, 2L)
    sink(b2, 2L) // retry after publish: marker short-circuits
    val mid = StreamOps.componentsFromState(s, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mid == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    sink(b3, 3L)
    val got = StreamOps.componentsFromState(s, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = graft.operators.GraphRank.connectedComponents(
      b1.unionByName(b2).unionByName(b3), "doc_a", "doc_b")
    val want = oneShot.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    oneShot.unpersist(blocking = false)
    assert(got == want,
      s"incremental labels drifted from one-shot CC: $got vs $want")
    assert(got(11L) == 1L,
      "the bridge must relabel the whole absorbed cluster")
  }

  test("streaming distinct-sketch state: estimates from the standing " +
    "state == one-shot batch sketching over everything streamed; " +
    "retries inert (union is idempotent AND marker-gated)") {
    import s.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_hll_stream").toString + "/sk"
    val sink = StreamOps.distinctSketchForeachBatch(statePath, "tick", "k")
    val rnd = new scala.util.Random(3)
    def mk(tickLo: Int, tickHi: Int, n: Int) =
      Seq.fill(n)((tickLo + rnd.nextInt(tickHi - tickLo + 1)).toLong ->
        rnd.nextInt(5000).toLong)
        .toDF("tick", "k")
    val b1 = mk(1, 2, 4000)
    val b2 = mk(2, 4, 4000) // tick 2 spans batches: state must UNION it
    sink(b1, 1L)
    def stateBytes(): Map[Long, Seq[Byte]] =
      s.read.parquet(statePath).select("tick", "sk").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val tick1AfterB1 = stateBytes()(1L)
    sink(b2, 2L)
    val afterB2 = stateBytes()
    sink(b2, 2L) // retry after publish: marker short-circuits
    // retry inertness is EXACT: the marker short-circuits before any
    // union, so the state bytes cannot move
    assert(stateBytes() == afterB2, "retry must leave state untouched")
    // b2 carries no tick-1 rows, so the selective fold must pass tick
    // 1's sketch through BYTE-IDENTICAL (a gratuitous union pass can
    // move its estimate — Datasketches HIP is merge-topology-
    // sensitive; the round-16 local-cluster run caught exactly this)
    assert(afterB2(1L) == tick1AfterB1,
      "untouched tick's sketch bytes must not change")
    val got = StreamOps.distinctEstimatesFromState(s, statePath)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.operators.DistinctSketch.cumulativeEstimates(
      graft.operators.DistinctSketch.tickSketches(
        b1.unionByName(b2), "tick", "k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    // Estimates across DIFFERENT merge topologies (incremental fold
    // vs one-shot aggregate) agree within sketch tolerance, never
    // bitwise: lgK=12 RSE is ~1.6%, two estimates of the same set sit
    // within ~2 RSE of each other
    got.foreach { case (tick, est) =>
      val w = want(tick)
      assert(math.abs(est - w) <= 0.03 * w,
        s"tick $tick: state estimate $est vs one-shot $w drifted >3%")
    }
  }

  test("streaming unigram-LM word state folds by addition; vocabulary " +
    "from state == batch training over everything streamed; retries " +
    "and empty batches inert") {
    import s.implicits._
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_uvlm_stream").toString + "/words"
    val sink = StreamOps.unigramWordsForeachBatch(statePath, "text")
    val b1 = Seq((1L, "abab abab cd"), (2L, "abab cd cd"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "abcd abcd abab"), (4L, "dddd"))
      .toDF("doc_id", "text")
    sink(b1, 1L)
    sink(b2, 2L)
    sink(b2, 2L) // retry after publish: marker short-circuits
    val state = s.read.parquet(statePath)
      .collect().map(r => r.getAs[String]("word") -> r.getAs[Long]("wf"))
      .toMap
    assert(state == Map("abab" -> 4L, "cd" -> 3L, "abcd" -> 2L,
      "dddd" -> 1L), state.toString)
    val fromState = StreamOps
      .unigramVocabFromState(s, statePath, seedTop = 10, vocabTop = 4,
        iters = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = graft.operators.UnigramLm
      .train(b1.unionByName(b2), "text", seedTop = 10, vocabTop = 4,
        iters = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromState == oneShot,
      "state-trained vocabulary must equal the batch trainer's")
    sink(Seq.empty[(Long, String)].toDF("doc_id", "text"), 3L)
    val after = s.read.parquet(statePath)
      .collect().map(r => r.getAs[String]("word") -> r.getAs[Long]("wf"))
      .toMap
    assert(after == state, "empty batch is a no-op")
  }

  test("streaming funnel + retention states: dashboards from state == " +
    "the one-shot x26/x27 operators over everything streamed, under " +
    "OUT-OF-ORDER arrival (late earlier-day events shift cohorts)") {
    import s.implicits._
    val day = 86400000000L
    // deliberately out of order: user 1's view arrives AFTER its
    // click (stage mins must still order them); user 3's day-0 event
    // arrives last (its cohort must SHIFT and day 9 must fall out of
    // the 8-day window); user 2 never converts past view
    val batches = Seq(
      Seq((1L, "click", 5L * day + 7L), (2L, "view", 1L * day),
        (3L, "purchase", 9L * day)),
      Seq((1L, "view", 5L * day), (3L, "click", 2L * day),
        (2L, "view", 3L * day)),
      Seq((1L, "purchase", 6L * day), (3L, "view", 0L),
        (2L, "click", 1L * day - 1L))) // click BEFORE view: no convert
    val stages = Seq("view", "click", "purchase")
    val root = java.nio.file.Files
      .createTempDirectory("graft_retention_stream").toString
    // the |users|-scale shape: O(batch) delta appends under tiered
    // compaction, dashboards computed from the deltas at read
    val fdPath = s"$root/funnel_delta"
    val rdPath = s"$root/retention_delta"
    val fdSink = StreamOps.tieredForeachBatch(fdPath,
      StreamOps.LsmStore.stageFunnel("user_id", stages), maxDeltas = 2)(
      StreamOps.stageFunnelForeachBatchDelta(fdPath, "user_id",
        "event_type", "ts_us", stages))
    val rdSink = StreamOps.tieredForeachBatch(rdPath,
      StreamOps.LsmStore.retention, maxDeltas = 2)(
      StreamOps.retentionForeachBatchDelta(rdPath, "user_id", "ts_us"))
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("user_id", "event_type", "ts_us")
      fdSink(df, i.toLong); rdSink(df, i.toLong)
    }
    val all = batches.flatten.toDF("user_id", "event_type", "ts_us")

    def row1(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect()(0).toSeq.map(_.asInstanceOf[Long])
    def streamedFunnel() = row1(StreamOps.stageFunnelFromDeltas(s, fdPath,
      "user_id", stages))
    val oneShotFunnel = row1(graft.operators.Retention.funnelCounts(
      graft.operators.Retention.stageMins(all, "user_id", "event_type",
        "ts_us", stages), stages))
    val funnel = streamedFunnel()
    assert(funnel == oneShotFunnel)
    // users 1 and 3 convert fully (stage mins end up ordered despite
    // arrival order); user 2's click lands just BEFORE its earliest
    // view and stops at the view stage
    assert(funnel == Seq(3L, 3L, 2L, 2L))

    def retMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getLong(2)).toMap
    def streamedRet() = retMap(StreamOps.retentionFromDeltas(s, rdPath))
    val oneShotRet = retMap(graft.operators.Retention.retentionTable(
      graft.operators.Retention.retentionState(
        graft.operators.Retention.activeDays(all, "user_id", "ts_us"))))
    val ret = streamedRet()
    assert(ret == oneShotRet)
    // user 3 cohort shifted to day 0 by the LAST batch: day 2 stays
    // (offset 2), day 9 fell out (offset 9 > 7); user 2's near-
    // midnight click lands on day 0, its view on days 1 and 3
    assert(ret((0L, 0L)) == 2L, ret.toString)
    assert(ret((0L, 2L)) == 1L)
    assert(!ret.contains((0L, 9L)))

    // every listed delta dir, compacted segments included
    def listedDirs(path: String) = new java.io.File(path).listFiles()
      .map(_.getName)
      .filter(n => n.startsWith("d=") && !n.contains("__staging"))
    assert(listedDirs(fdPath).length <= 2,
      "funnel delta-dir count must stay bounded")
    assert(listedDirs(rdPath).length <= 2,
      "retention delta-dir count must stay bounded")

    // retry idempotence: replaying the last batch changes nothing
    val lastDf = batches.last.toDF("user_id", "event_type", "ts_us")
    fdSink(lastDf, 2L); rdSink(lastDf, 2L)
    assert(streamedFunnel() == oneShotFunnel)
    assert(streamedRet() == oneShotRet)
    // retry a batch whose delta was already compacted away: its
    // re-created d=1 sits next to the compacted segment that already
    // holds its rows, and the reads must not count them twice
    fdSink(batches(1).toDF("user_id", "event_type", "ts_us"), 1L)
    rdSink(batches(1).toDF("user_id", "event_type", "ts_us"), 1L)
    assert(streamedFunnel() == oneShotFunnel)
    assert(streamedRet() == oneShotRet)
  }
}
