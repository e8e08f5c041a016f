package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Anomalies, Cleaning, TextAnalysis}
import graft.operators.Anomalies.AnomalyRule

/** Structured Streaming surface (SURVEY §2.13 notes the reference is
  * batch-only; this is the additive streaming capability BASELINE's north
  * star asks for).
  *
  * Every transform here is a pure Column expression or a standard
  * windowed aggregation, so the SAME operator code runs on batch and
  * streaming frames — the cleaning/anomaly cores contain no collect(),
  * which is what makes them streaming-safe. Tested end-to-end with a
  * MemoryStream source in StreamingSpec.
  */
object StreamOps {

  /** Clean + flag an event stream: the batch cleaning rules and anomaly
    * registry applied unchanged to a streaming DataFrame.
    */
  def cleanAndFlag(events: DataFrame, rules: Seq[AnomalyRule]): DataFrame =
    Anomalies.flag(
      events.withColumn("event_type",
        Cleaning.cleanNonEmptyString(col("event_type"), "unknown")),
      rules)

  /** Windowed per-type counts with a watermark for late data: the
    * streaming equivalent of the batch dashboard aggregates. `tsCol` must
    * be a TimestampType column.
    */
  def windowedTypeCounts(events: DataFrame, tsCol: String,
                         window: String = "1 minute",
                         watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("value_sum"))

  /** Streaming exact dedup: the l1 content-hash dedup as a stream
    * operator. Each document is keyed by the sha-256 of its normalized
    * text; `dropDuplicatesWithinWatermark` keeps per-key state only until
    * the event-time watermark passes, so state is BOUNDED (the unbounded
    * alternative, dropDuplicates on a stream, retains every key forever —
    * a guaranteed OOM on a 100 TB ingest). Duplicates arriving within the
    * watermark window are suppressed; a re-crawl after the window emits
    * again and is the batch layer's job (exactly how production ingest
    * dedup splits responsibilities).
    */
  def streamingExactDedup(docs: DataFrame, textCol: String, tsCol: String,
                          watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_hash",
        sha2(graft.operators.Dedup.normalizeText(col(textCol)), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream INTERVAL join: each purchase matches the same user's
    * signup events from the preceding `lookback`. Both sides carry
    * watermarks and the join condition bounds event time on both sides —
    * the two things Structured Streaming needs to EXPIRE buffered rows;
    * without them a stream-stream join's state grows without bound.
    */
  def purchasesWithSignups(events: DataFrame, tsCol: String = "ts",
                           lookback: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col(tsCol).as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        col("user_id").as("su_user"), col(tsCol).as("s_ts"))
      .withWatermark("s_ts", watermark)
    purchases.join(signups,
        col("user_id") === col("su_user") &&
          col("s_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
          col("s_ts") <= col("p_ts"))
      .select("purchase_id", "user_id", "p_ts", "signup_id", "s_ts",
        "value")
  }

  /** Streaming SCD2 warehouse maintenance: a foreachBatch body that
    * merges each micro-batch of dimension updates into the parquet dim
    * via [[graft.operators.ScdMerge]] — the standard pattern for
    * streaming upserts into a batch store (read current state, merge,
    * rewrite).
    *
    * The rewrite is CRASH-SAFE: the merged dim is written to a staging
    * sibling first, the live dir is parked at `__prev`, and the staging
    * dir is renamed into place (rename is atomic per directory on
    * HDFS-like filesystems). A failure mid-write — or a foreachBatch
    * retry after a lost executor — leaves either the prior version live
    * or parked at `__prev`, never a half-written (or deleted) dim; a
    * direct `mode("overwrite")` on the live path would delete the only
    * copy before a non-atomic write. Writing to a separate path also
    * makes reading-while-rewriting legal without a lineage checkpoint.
    * A production deployment would swap the parquet dir for a
    * transactional table format and this body is the only code that
    * changes.
    */
  def scd2ForeachBatch(dimPath: String, naturalKey: String,
                       compareCols: Seq[String],
                       asOfForBatch: Long => String)
      : (DataFrame, Long) => Unit =
    snapshotSink(dimPath) { (batch, current, batchId) =>
      graft.operators.ScdMerge.merge(
        current.getOrElse(throw new IllegalStateException(
          s"scd2ForeachBatch: no dim to merge into at $dimPath")),
        batch, naturalKey, compareCols,
        asOf = asOfForBatch(batchId), closeMissing = false)
    }

  /** The one rewrite-per-batch sink, shared by every BOUNDED standing
    * state here (the SCD2 dim, histograms, counters, sketches, cluster
    * labels). It skips an empty batch and a batch the live state's
    * `_GRAFT_BATCH` marker says was already absorbed; otherwise
    * `fold(batch, prior, batchId)` — `prior` is the live state, None
    * before the first publish — becomes the new state through
    * [[publishAtomic]], marked with the batch id. Corpus-sized states
    * take the delta-log shape instead ([[LsmStore]]).
    */
  private def snapshotSink(statePath: String)(
      fold: (DataFrame, Option[DataFrame], Long) => DataFrame)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      if (!appliedBatch(spark, statePath).contains(batchId)) {
        val live = new org.apache.hadoop.fs.Path(statePath)
        val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (fs.exists(live)) Some(spark.read.parquet(statePath)) else None
        publishAtomic(spark, statePath, fold(batch, prior, batchId),
          Some(batchId))
      }
    }
  }

  /** The additive fold most snapshot states share: the batch's partial
    * state `part` alone on the first batch, else prior ∪ part with
    * each of `sums` summed by `keys`. */
  private def sumByKeys(prior: Option[DataFrame], part: DataFrame,
                        keys: Seq[String], sums: String*): DataFrame =
    prior.fold(part) { p =>
      val aggs = sums.map(c => sum(c).as(c))
      p.unionByName(part).groupBy(keys.head, keys.tail: _*)
        .agg(aggs.head, aggs.tail: _*)
    }

  /** Stage-then-rename publish of a rewritten parquet state dir (shared
    * by the foreachBatch sinks). Leaves either the prior version live or
    * parked at `__prev` on any failure — never a half-written state. A
    * missing live dir (first batch of a fresh state) publishes directly.
    *
    * `batchId` makes a RETRIED micro-batch idempotent: the id is
    * written as a `_GRAFT_BATCH` marker file inside the staged dir (so
    * marker and data publish in the same atomic rename; Spark's parquet
    * reader ignores underscore-prefixed files), and
    * [[appliedBatch]] lets a sink skip a batch the live state already
    * absorbed. Without it, a foreachBatch retry after a sink failure
    * re-MERGES the same rows — fine for the overwrite-style SCD2 state,
    * silently double-counting for the additive histogram/MG states.
    */
  private def publishAtomic(spark: org.apache.spark.sql.SparkSession,
                            livePath: String, merged: DataFrame,
                            batchId: Option[Long] = None): Unit = {
    val live = new org.apache.hadoop.fs.Path(livePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(livePath + "__staging")
    val prev = new org.apache.hadoop.fs.Path(livePath + "__prev")
    merged.write.mode("overwrite").parquet(staging.toString)
    batchId.foreach { id =>
      val out = fs.create(
        new org.apache.hadoop.fs.Path(staging, "_GRAFT_BATCH"), true)
      try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    }
    fs.delete(prev, true)
    if (fs.exists(live) && !fs.rename(live, prev))
      throw new java.io.IOException(
        s"publishAtomic: cannot park $live at $prev")
    if (!fs.rename(staging, live)) {
      fs.rename(prev, live) // roll back: restore the prior version
      throw new java.io.IOException(
        s"publishAtomic: cannot publish $staging to $live")
    }
    fs.delete(prev, true)
  }

  /** The micro-batch id the live state last absorbed, if the state
    * exists and was published with one. */
  private def appliedBatch(spark: org.apache.spark.sql.SparkSession,
                           livePath: String): Option[Long] = {
    val marker = new org.apache.hadoop.fs.Path(livePath, "_GRAFT_BATCH")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](64)
        var n = in.read(tmp)
        while (n > 0) { bos.write(tmp, 0, n); n = in.read(tmp) }
        new String(bos.toByteArray, "UTF-8").trim.toLongOption
      } finally in.close()
    }
  }

  /** Streaming percentiles via the x12p mergeable histogram sketch
    * (queries/Extras.scala x12p): each micro-batch reduces to fixed-width
    * bucket counts `(b, n)` and merges into the persistent histogram by
    * ADDITION — the property that makes the sketch the 100 TB/streaming
    * percentile path (state is O(buckets) regardless of rows streamed,
    * where exact percentile() would need every value ever seen). The
    * merged state is published with the same crash-safe staging rename
    * as the SCD2 sink.
    */
  def histogramForeachBatch(histPath: String, valueCol: String,
                            bucketWidth: Double)
      : (DataFrame, Long) => Unit =
    snapshotSink(histPath) { (batch, prior, _) =>
      sumByKeys(prior, batch
        .select(floor(col(valueCol) / lit(bucketWidth)).cast("long")
          .as("b"))
        .groupBy("b").agg(count(lit(1)).as("n")), Seq("b"), "n")
    }

  /** Streaming filter-funnel accounting — the l58 observability
    * counters ([[graft.operators.TextAnalysis.filterFunnel]]) folded
    * across micro-batches: per batch the one-pass counters compute
    * over the batch alone, and the standing per-rule table merges by
    * elementwise sum. Counts over disjoint batches form a monoid —
    * funnel attribution is decided per DOCUMENT (which rules it
    * passes), so batch boundaries cannot change any counter and the
    * standing state always equals the one-shot operator over
    * everything seen (StreamOpsSpec pins this). State is |rules| rows;
    * the rewrite-per-batch histogram-sink pattern (staged atomic
    * publish + batch marker) is the right shape.
    */
  def funnelForeachBatch(statePath: String,
                         rules: Seq[(String, org.apache.spark.sql.Column)])
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, _) =>
      sumByKeys(prior,
        graft.operators.TextAnalysis.filterFunnel(batch, rules),
        Seq("rule_idx", "rule"), "n_failing", "n_killed_here",
        "n_survivors")
    }

  /** STREAMING ordered-funnel state (x26's activation dashboard
    * maintained at ingest): the standing state is per-user
    * earliest-timestamp-per-stage ([[graft.operators.Retention.stageMins]]),
    * which merges across batches by MIN — order-insensitive, so
    * late/out-of-order events land exactly where the one-shot query
    * would put them, and the dashboard is computed from the state by
    * the SAME code x26 runs ([[stageFunnelFromDeltas]]). The state is
    * per-USER, i.e. corpus-sized, so it is a delta log, not a
    * rewritten snapshot: each batch appends ONLY its own partial
    * stage-mins to `statePath/d=<batchId>` (O(batch) writes,
    * mode-overwrite = retry-idempotent, the dedup-index LSM shape);
    * the standing mins are the min-merge of the deltas at read time,
    * and min-merge absorbs any duplicate rows a crashed compaction
    * leaves. [[tieredForeachBatch]] over [[LsmStore.stageFunnel]]
    * bounds the listed-dir count exactly like the dedup index.
    */
  def stageFunnelForeachBatchDelta(statePath: String, userCol: String,
                                   typeCol: String, tsCol: String,
                                   stages: Seq[String])
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      graft.operators.Retention
        .stageMins(batch, userCol, typeCol, tsCol, stages)
        .write.mode("overwrite").parquet(s"$statePath/d=$batchId")
    }
  }

  /** Standing per-user stage mins from the delta log (min of mins),
    * and the x26 dashboard row from them. */
  def stageFunnelMinsFromDeltas(spark: org.apache.spark.sql.SparkSession,
                                statePath: String, userCol: String,
                                stages: Seq[String]): DataFrame =
    stageMinsMerge(
      readLog(spark, statePath, LsmStore.stageFunnel(userCol, stages)),
      userCol, stages)

  /** Min-of-mins by user: folds any union of stage-min rows (batch
    * partials, deltas, duplicates) into the standing mins. */
  private def stageMinsMerge(rows: DataFrame, userCol: String,
                             stages: Seq[String]): DataFrame = {
    val aggs = stages.map(t => min(s"t_$t").as(s"t_$t"))
    rows.groupBy(userCol).agg(aggs.head, aggs.tail: _*)
  }

  def stageFunnelFromDeltas(spark: org.apache.spark.sql.SparkSession,
                            statePath: String, userCol: String,
                            stages: Seq[String]): DataFrame =
    graft.operators.Retention.funnelCounts(
      stageFunnelMinsFromDeltas(spark, statePath, userCol, stages),
      stages)

  /** STREAMING retention-cohort state (x27 at ingest): per-user
    * (cohort_day, 8-bit active-day mask) — two longs per user forever,
    * closed under merge (see [[graft.operators.Retention]]: an
    * earlier-day arrival shifts existing days to HIGHER offsets, some
    * permanently out of the window, exactly as the one-shot filter
    * would). Per-user means corpus-sized, so this is a delta log like
    * the funnel above: each batch appends its OWN (cohort_day, mask)
    * partial state; the standing state is re-reduced from the deltas'
    * exploded day pairs at read ([[retentionStateFromDeltas]]).
    * Duplicate day pairs from retries/crashed compactions are absorbed
    * by the distinct() in the re-reduce.
    */
  def retentionForeachBatchDelta(statePath: String, userCol: String,
                                 tsUsCol: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      import graft.operators.Retention
      Retention.retentionState(Retention.activeDays(batch, userCol,
          tsUsCol))
        .write.mode("overwrite").parquet(s"$statePath/d=$batchId")
    }
  }

  def retentionStateFromDeltas(spark: org.apache.spark.sql.SparkSession,
                               statePath: String): DataFrame =
    retentionMerge(readLog(spark, statePath, LsmStore.retention))

  /** The distinct re-reduce: any union of retention states (deltas,
    * segments, duplicates) back to one (cohort_day, mask) per user. */
  private def retentionMerge(rows: DataFrame): DataFrame = {
    import graft.operators.Retention
    Retention.retentionState(Retention.stateDays(rows).distinct())
  }

  /** The x27 activation dashboard from the standing retention state. */
  def retentionFromDeltas(spark: org.apache.spark.sql.SparkSession,
                          statePath: String): DataFrame =
    graft.operators.Retention.retentionTable(
      retentionStateFromDeltas(spark, statePath))

  /** STREAMING line-frequency state for boilerplate removal
    * ([[graft.operators.Dedup.lineFrequencyFilter]]'s corpus statistic
    * as an append-only delta log): each micro-batch reduces to its own
    * per-line-key distinct-doc counts and appends them to
    * `statePath/d=<batchId>/` — O(batch) writes, the dedup-index LSM
    * shape — and the standing document frequency of a line is the SUM
    * of its deltas ([[lineFreq]]). Distinct-doc counts over batches
    * sum exactly when a doc id appears in ONE batch (the ingest
    * contract every delta-log sink here shares); a re-delivered doc id
    * inflates its lines' df by the duplicate count — the conservative
    * direction for a boilerplate KILL threshold. Retries are
    * idempotent by construction (mode-overwrite of the batch's own
    * dir; no read of prior state feeds the output). Line keys are
    * always hashed (8-byte standing keys — the state is long-lived by
    * definition).
    */
  def lineFreqForeachBatch(statePath: String, idCol: String,
                           textCol: String, delim: String = "\n")
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      graft.operators.Dedup
        .lineDocFreq(graft.operators.Dedup.lineTable(
          batch, idCol, textCol, delim, true)) // hashed line keys
        .withColumn("d", col("line_df")).drop("line_df")
        .withColumn("first_batch", lit(batchId))
        .write.mode("overwrite").parquet(s"$statePath/d=$batchId")
    }
  }

  /** The standing line document-frequency table (`lk`, `line_df`) —
    * the sum-fold over all published deltas. Empty-schema frame when
    * no batch has run (callers joining against it see no hot lines).
    */
  def lineFreq(spark: org.apache.spark.sql.SparkSession,
               statePath: String): DataFrame =
    readLog(spark, statePath, LsmStore.lineFreq)
      .groupBy("lk").agg(sum("d").as("line_df"))

  /** Boilerplate-filter a document frame against the STANDING
    * line-frequency state: the same decision/reassembly stage as the
    * one-shot operator, with the corpus statistic read from the delta
    * log — so a cleaning job can run per-batch (or on any subset)
    * without recomputing corpus-wide line counts.
    */
  def lineFreqFilterWithState(docs: DataFrame, idCol: String,
                              textCol: String, maxDocFreq: Long,
                              statePath: String, delim: String = "\n")
      : DataFrame =
    graft.operators.Dedup.lineFilterAgainst(
      graft.operators.Dedup.lineTable(docs, idCol, textCol, delim,
        true), // hashed line keys
      lineFreq(docs.sparkSession, statePath),
      maxDocFreq, delim, idCol)

  /** Streaming vocabulary heavy hitters via the mergeable Misra–Gries
    * summary (x18's sketch, graft.functions.MisraGries): each
    * micro-batch reduces to its own <= capacity summary, which merges
    * into the persisted one with the PODS merge rule — state stays
    * O(capacity) rows however much text streams through, and the
    * merged summary keeps MG's no-false-negative guarantee over the
    * WHOLE stream (the merge is order-independent in what it
    * guarantees, so batch boundaries don't matter). State rows are
    * (term, c) plus one (null, n) total row, published with the same
    * crash-safe staging rename as the SCD2/histogram sinks.
    */
  def heavyHittersForeachBatch(statePath: String, textCol: String,
                               capacity: Int)
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, _) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val mg = new graft.functions.MisraGries(capacity)
      val part = batch
        .select(explode(graft.operators.TextAnalysis.tokens(textCol))
          .as("t"))
        .as[String].select(mg.toColumn.name("s")).head()
      val merged = prior.fold(part)(p => mg.merge(mgBuf(p), part))
      (merged.counts.toSeq.map { case (t, c) => (Option(t), c) } :+
        ((Option.empty[String], merged.n))).toDF("term", "c")
    }

  /** Streaming Count-Min frequency state (l51's sketch, maintained
    * incrementally): each micro-batch reduces to its own depth x width
    * grid through [[graft.operators.TextAnalysis.cmsTokenSketch]], and
    * the grids ADD — CM is a linear sketch, so the folded state after
    * any number of batches is BIT-EQUAL to the one-shot sketch of their
    * union (StreamOpsSpec pins it), unlike the Misra-Gries state above
    * whose guarantee (not value) survives merging. State is (r, bucket,
    * cnt) rows, at most depth*width of them however much text streams
    * through, published with the crash-safe staged rename and
    * batch-marker idempotence.
    */
  def cmsForeachBatch(statePath: String, textCol: String, depth: Int,
                      width: Int): (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, _) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val grid = graft.operators.TextAnalysis
        .cmsTokenSketch(batch, textCol, depth, width)
        .head().getSeq[Long](0)
      val part = (for {
        r <- 0 until depth; b <- 0 until width
        c = grid(r * width + b) if c != 0L
      } yield (r, b, c)).toDF("r", "bucket", "cnt")
      sumByKeys(prior, part, Seq("r", "bucket"), "cnt")
    }

  /** Any-time point estimates from the [[cmsForeachBatch]] state: one
    * row per input token with its min-over-rows counter (absent cells
    * count 0 — a token the stream never saw estimates 0 unless it
    * collides everywhere). Tokens fan out to `depth` (r, bucket) keys
    * and left-join the state — O(tokens * depth) work, state-sized
    * reads, nothing corpus-sized anywhere.
    */
  def cmsEstimateFromState(spark: org.apache.spark.sql.SparkSession,
                           statePath: String, tokens: Seq[String],
                           depth: Int, width: Int): DataFrame = {
    import spark.implicits._
    val state = spark.read.parquet(statePath)
    val probes = tokens.toDF("token")
      .withColumn("h", expr("poly_hash(token)"))
      .select(col("token"), col("h"),
        explode(array((0 until depth).map(lit): _*)).as("r"))
      .withColumn("bucket", (0 until depth).foldLeft(lit(-1L)) {
        case (acc, r) => when(col("r") === r,
          expr(graft.functions.CountMin.bucketSql("h", r, width)))
          .otherwise(acc)
      })
    probes.join(state, Seq("r", "bucket"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Streaming per-source quality quota: the l26h histogram, maintained
    * incrementally. Each micro-batch reduces to its own (source,
    * quality) token histogram — O(distinct qualities) rows, however
    * many documents stream through — and merges into the persisted one
    * by ADDITION (the x12p property), published with the crash-safe
    * staged rename and idempotent under foreachBatch retries via the
    * batch marker. The state is budget-INDEPENDENT: the budget applies
    * at decision time ([[quotaFromState]]), so one stream serves any
    * number of quota policies.
    */
  def quotaForeachBatch(histPath: String, sourceCol: String, idCol: String,
                        textCol: String)
      : (DataFrame, Long) => Unit =
    snapshotSink(histPath) { (batch, prior, _) =>
      sumByKeys(prior, graft.operators.CorpusAssembly
          .scoreDocs(batch, sourceCol, idCol, textCol)
          .groupBy(sourceCol, "quality")
          .agg(sum("n_tokens").as("tokens")),
        Seq(sourceCol, "quality"), "tokens")
    }

  /** Streaming unigram-LM word-frequency state (l72's training input,
    * maintained at ingest): the trainer reads NOTHING but the
    * `(word, wf)` table, and word frequencies fold by ADDITION — the
    * same mergeable-state property the histogram/CMS/PCA sinks use.
    * Each micro-batch reduces to its own word table (O(distinct
    * words), not O(tokens)) and merges into the persisted one;
    * published with the crash-safe staged rename, idempotent under
    * retries via the batch marker. [[unigramVocabFromState]] then
    * trains ANY vocabulary configuration from the standing state —
    * train-at-any-time without re-scanning the corpus, and the spec
    * pins state-trained == batch-trained over everything streamed.
    */
  def unigramWordsForeachBatch(statePath: String, textCol: String,
                               maxWordLen: Int = 16)
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, _) =>
      sumByKeys(prior,
        graft.operators.UnigramLm.wordTable(batch, textCol, maxWordLen),
        Seq("word"), "wf")
    }

  /** Train a unigram-LM vocabulary from the standing word-frequency
    * state — equal to [[graft.operators.UnigramLm.train]] over every
    * document streamed so far.
    */
  def unigramVocabFromState(spark: org.apache.spark.sql.SparkSession,
                            statePath: String, seedTop: Int,
                            vocabTop: Int, iters: Int): DataFrame =
    graft.operators.UnigramLm.trainFromWords(
      spark.read.parquet(statePath).select("word", "wf"),
      seedTop, vocabTop, iters)

  /** Streaming merge-trainer word-frequency state — the
    * [[unigramWordsForeachBatch]] discipline for the MERGE tokenizer
    * families (BPE and WordPiece share the `[a-z]+` lowercase
    * pre-tokenizer, which differs from the unigram family's
    * whitespace words — hence a separate state, or the two
    * pre-tokenizers would silently conflate). Word counts fold by
    * addition; each micro-batch reduces to O(its distinct words);
    * crash-safe staged publish, batch-marker idempotent.
    * [[bpeMergesFromState]] / [[wordPieceMergesFromState]] then learn
    * ANY merge budget from the standing state without a corpus
    * re-scan.
    */
  def mergeWordsForeachBatch(statePath: String, textCol: String)
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, _) =>
      sumByKeys(prior, batch
          .select(explode(expr(TextAnalysis.wordsSql(textCol))).as("word"))
          .groupBy("word").agg(count(lit(1)).cast("long").as("cnt")),
        Seq("word"), "cnt")
    }

  /** BPE merges from the standing word-frequency state — equal to
    * [[graft.operators.Bpe.train]] over every document streamed so
    * far. */
  def bpeMergesFromState(spark: org.apache.spark.sql.SparkSession,
                         statePath: String,
                         nMerges: Int): Seq[graft.operators.Bpe.Merge] =
    graft.operators.Bpe.trainFromWords(
      spark.read.parquet(statePath).select("word", "cnt"), nMerges)

  /** WordPiece merges from the standing state — equal to
    * [[graft.operators.WordPiece.train]] over everything streamed. */
  def wordPieceMergesFromState(spark: org.apache.spark.sql.SparkSession,
                               statePath: String, nMerges: Int)
      : Seq[graft.operators.Bpe.Merge] =
    graft.operators.WordPiece.trainFromWords(
      spark.read.parquet(statePath).select("word", "cnt"), nMerges)

  /** Standing dup-CLUSTER state maintained at ingest — INCREMENTAL
    * connected components, the step between the standing near-dup PAIR
    * logs (the MinHash/PassJoin/pHash indexes) and "keep one doc per
    * cluster" that previously needed a full-history CC run per
    * arrival. State: the (node, component) label table. Per batch, the
    * existing state compresses to STAR EDGES (node → its component —
    * min-label-equivalent to every edge ever seen, diameter ≤ 2), and
    * [[graft.operators.GraphRank.connectedComponents]] runs over
    * star ∪ new-batch edges only: O(|V| + |batch|) per arrival instead
    * of O(all pairs ever), converging in O(1) pointer-jump rounds on
    * the star part. Correctness: CC(star(L) ∪ B) == CC(all edges so
    * far) because star(L) preserves exactly L's connectivity and min
    * labels are stable under the compression (components are labeled
    * by their minimum node id, which the star keeps as a member).
    * StreamOpsSpec pins state == one-shot CC over everything streamed,
    * including cross-batch merges of previously separate clusters, and
    * retry inertness.
    */
  def componentsForeachBatch(statePath: String,
                             srcCol: String, dstCol: String)
      : (DataFrame, Long) => Unit = {
    // connectedComponents returns its labels cached and the publish
    // reads them, so the sink releases them once the batch is done
    var labels = Option.empty[DataFrame]
    val sink = snapshotSink(statePath) { (batch, prior, _) =>
      val fresh = batch.select(
        col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      val edges = prior.fold(fresh)(_
        .filter(col("node") =!= col("component"))
        .select(col("node").as("src"), col("component").as("dst"))
        .unionByName(fresh))
      val l = graft.operators.GraphRank
        .connectedComponents(edges, "src", "dst")
      labels = Some(l)
      // singletons of the OLD state that gained no new edge keep
      // their self-label: CC only returns nodes WITH an edge, and a
      // previously-singleton node has none in the reduced graph
      prior.fold(l.select("node", "component"))(_.select("node")
        .unionByName(l.select("node")).distinct()
        .join(l, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("component"), col("node")).as("component")))
    }
    (batch, batchId) =>
      try sink(batch, batchId)
      finally { labels.foreach(_.unpersist(blocking = false)); labels = None }
  }

  /** The standing cluster labels — equal to one-shot
    * [[graft.operators.GraphRank.connectedComponents]] over every
    * edge streamed so far (plus self-labeled singletons retained from
    * earlier batches). */
  def componentsFromState(spark: org.apache.spark.sql.SparkSession,
                          statePath: String): DataFrame =
    spark.read.parquet(statePath).select("node", "component")

  /** Standing KMV corpus signature + per-batch NOVELTY rate — "how
    * much of this crawl batch is actually new?" answered at ingest
    * without joining anything: the state is ONE k-row signature of
    * everything streamed so far ([[graft.operators.DistinctSketch
    * .kminHashes]] semantics — the k smallest distinct key hashes,
    * merged per batch by concat→distinct→k-smallest, which is exactly
    * the union's k-min set); per batch the sink appends a metrics row
    * (batch distinct estimate, union estimate before/after, novelty =
    * the union GROWTH — the estimate of keys never seen before).
    * At 100 TB the state and the per-batch cost are both O(k) beyond
    * the batch's own signature scan. Marker-idempotent like every
    * standing state here; StreamOpsSpec pins streamed novelty ==
    * one-shot overlap estimates on the same prefixes.
    */
  def noveltyForeachBatch(statePath: String, metricsPath: String,
                          keyCol: String, k: Int)
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val fresh = graft.operators.DistinctSketch
        .kminHashes(batch, col(keyCol), k).localCheckpoint(true)
      val priorSig = prior.map(_.select("h")).getOrElse(fresh.limit(0))
      val merged = priorSig.unionByName(fresh).distinct()
        .orderBy(col("h")).limit(k).localCheckpoint(true)
      def estOf(sig: DataFrame): Double = {
        val rows = sig.orderBy(col("h")).collect().map(_.getLong(0))
        if (rows.length < k) rows.length.toDouble
        else (k - 1).toDouble /
          (rows.last.toDouble / math.pow(2.0, 64) + 0.5)
      }
      val before = estOf(priorSig)
      val after = estOf(merged)
      val batchEst = estOf(fresh)
      Seq((batchId, batchEst, before, after,
          math.max(0.0, after - before)))
        .toDF("batch", "est_batch_distinct", "est_union_before",
          "est_union_after", "est_novel")
        .write.mode("overwrite").parquet(s"$metricsPath/batch=$batchId")
      merged
    }

  /** Standing MEDIA near-dup clusters maintained at ingest — the full
    * streaming composition of the modality-shared signature machinery:
    * per batch, each item's signature hashes (video frame pHashes,
    * audio energy shingles — any (id, fhash) signature) append to a
    * delta-log signature index (`indexPath/d=<batchId>`), new-vs-
    * standing near-dup PAIRS come from one fhash equi-join of the
    * batch's signatures against the full log (set-Jaccard ≥
    * `threshold`, `maxDf` hot-hash cap — the [[graft.operators
    * .Multimodal.videoNearDupPairs]] semantics with the batch side
    * fixed), and the pairs feed [[componentsForeachBatch]]'s
    * incremental star-edge cluster state at `clustersPath`. Per-batch
    * cost: O(batch signatures + matching log rows + |V| star edges) —
    * no full-history pair recompute, no all-pairs anywhere.
    *
    * Idempotency: the signature delta is keyed by batch dir (a retry
    * overwrites byte-identical rows), pair derivation reads only
    * deltas with id < batchId for the standing side plus the batch's
    * own rows (so a retry sees the identical inputs), and the cluster
    * state is marker-gated by [[componentsForeachBatch]] itself.
    */
  def mediaNearDupForeachBatch(indexPath: String, clustersPath: String,
                               threshold: Double, maxDf: Int = Int.MaxValue)
      : (DataFrame, Long) => Unit = { (batchSig, batchId) =>
    if (!batchSig.isEmpty) {
      val spark = batchSig.sparkSession
      val fresh = batchSig.select(col("id").cast("long").as("id"),
        col("fhash").cast("long").as("fhash")).distinct()
        .withColumn("d", lit(batchId)).localCheckpoint(true)
      // standing = deltas from EARLIER batches only (retry-stable)
      val prior = readLog(spark, indexPath, LsmStore.mediaSignatures)
        .filter(col("d") < batchId)
      val all = prior.unionByName(fresh)
      val live = all.join(
        all.groupBy("fhash").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("fhash"), Seq("fhash"))
      val sizes = live.groupBy("id").agg(count(lit(1)).as("n"))
      // candidates: batch side × full live set (old-old pairs were
      // emitted by their own batches). The pair is normalized
      // (least, greatest) — an a<b filter on the raw orientation would
      // silently drop every old-new pair whose OLD id is the larger
      // one — and the intersection counts DISTINCT hashes because a
      // new-new pair reaches the join in both orientations.
      val b = live.join(fresh.select(col("id").as("id")).distinct(), "id")
      val inter = b.select(col("fhash"), col("id").as("idb"))
        .join(live.select(col("fhash"), col("id").as("ida")), "fhash")
        .filter(col("ida") =!= col("idb"))
        .groupBy(least(col("ida"), col("idb")).as("id_a"),
          greatest(col("ida"), col("idb")).as("id_b"))
        .agg(countDistinct(col("fhash")).as("inter"))
      val pairs = inter
        .join(sizes.select(col("id").as("id_a"), col("n").as("na")),
          "id_a")
        .join(sizes.select(col("id").as("id_b"), col("n").as("nb")),
          "id_b")
        .filter(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")
          >= threshold)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      // MATERIALIZE the pairs before touching the delta dir: on a
      // retry the lazy pair plan references the existing d=<batchId>
      // files through readLog, and the overwrite below deletes
      // them out from under it (FILE_NOT_EXIST at cluster-fold time)
      val pairsM = pairs.localCheckpoint(true)
      // publish the signature delta FIRST (so a crash between the two
      // writes leaves a re-derivable state), then fold the pairs into
      // the standing cluster labels
      fresh.select("id", "fhash", "d").write.mode("overwrite")
        .parquet(s"$indexPath/d=$batchId")
      componentsForeachBatch(clustersPath, "doc_a", "doc_b")(
        pairsM, batchId)
    }
  }

  /** Standing per-tick HLL distinct sketches maintained at ingest
    * (the [[graft.operators.DistinctSketch]] state as a streaming
    * fold): each micro-batch's per-tick sketches union into the state
    * table by register-max — associative, commutative, AND idempotent
    * on the represented SET, so besides the marker short-circuit the
    * merge itself is retry-tolerant. Only ticks PRESENT in the batch
    * are folded; untouched ticks pass through byte-identical — their
    * estimates must not move when unrelated data arrives, and a
    * gratuitous union pass CAN move them (Datasketches' HIP estimator
    * is merge-topology-sensitive; see the DistinctSketch object doc).
    * State stays ≤|ticks| fixed-size binary rows no matter how much
    * history streamed; cumulative estimates come from
    * [[distinctEstimatesFromState]] without any corpus rescan.
    */
  def distinctSketchForeachBatch(statePath: String, tickCol: String,
                                 keyCol: String, lgK: Int = 12)
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, _) =>
      val part = graft.operators.DistinctSketch
        .tickSketches(batch, tickCol, keyCol, lgK)
      // Fold ONLY the ticks present in this batch. Ticks the batch
      // doesn't touch pass through BYTE-IDENTICAL — re-passing them
      // through the union gadget is not just wasted work, it can
      // CHANGE their estimates: Datasketches' HIP estimator is
      // insertion-order-sensitive, so a union pass's result depends
      // on merge topology (partition layout), which the round-16
      // local-cluster run proved by drifting an untouched tick's
      // estimate by 0.5% when default parallelism changed.
      prior.fold(part) { standing =>
        val batchTicks = part.select("tick")
        val folded = standing
          .join(batchTicks, Seq("tick"), "left_semi")
          .unionByName(part)
          .groupBy("tick").agg(hll_union_agg(col("sk")).as("sk"))
        standing.join(batchTicks, Seq("tick"), "left_anti")
          .unionByName(folded)
      }
    }

  /** Cumulative distinct estimates from the standing sketch state —
    * equal to [[graft.operators.DistinctSketch.cumulativeEstimates]]
    * over everything streamed so far (StreamOpsSpec pins it). */
  def distinctEstimatesFromState(spark: org.apache.spark.sql.SparkSession,
                                 statePath: String): DataFrame =
    graft.operators.DistinctSketch.cumulativeEstimates(
      spark.read.parquet(statePath).select("tick", "sk"))

  /** Streaming WARC crawl ingest — the m4 container parse (operators/
    * Warc) as a foreachBatch sink: each micro-batch of raw WARC
    * payloads splits into records once, good HTTP responses land as
    * extracted page text under `responsesPath/batch=<id>`, corrupt
    * file tails under `quarantinePath/batch=<id>`. The sink is
    * STATELESS by the operator's nature (every record's fate is
    * decided by its own bytes — no standing index to consult), so
    * idempotency is per-batch directory overwrite: a retried batch
    * recomputes byte-identical outputs and replaces its own two dirs,
    * touching no other batch's. Downstream stages (the l71 curation
    * chain) read the responses dirs as an ordinary parquet source.
    */
  def warcIngestForeachBatch(responsesPath: String, quarantinePath: String,
                             idCol: String, warcCol: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      // parse once, consume twice
      val recs = graft.operators.Warc.records(batch, idCol, warcCol)
        .persist()
      try {
        graft.operators.Warc.responseTextsFromRecords(recs, idCol)
          .write.mode("overwrite")
          .parquet(s"$responsesPath/batch=$batchId")
        recs.filter(col("error").isNotNull)
          .select(col(idCol), col("rec_idx"), col("error"))
          .write.mode("overwrite")
          .parquet(s"$quarantinePath/batch=$batchId")
      } finally { recs.unpersist(); () }
    }
  }

  /** Incremental crawl-DIRECTORY ingest — the arrival form of
    * [[graft.sources.WarcFiles]]: each tick lists the glob, ingests
    * only files not yet in the processed-files log, writes their
    * extracted response texts under `responsesPath/tick=<n>` and
    * quarantine rows under `quarantinePath/tick=<n>`, then publishes
    * the updated log atomically with the tick as its batch marker.
    * Returns the number of files ingested (0 = nothing new, log
    * untouched).
    *
    * Contract: files are IMMUTABLE ONCE VISIBLE (object-store
    * semantics — a CommonCrawl-style bucket lists a file only when
    * complete; on a filesystem, writers must stage-and-rename).
    * Identity is the path; the log also records the size seen.
    *
    * Idempotency is the delta-log discipline: outputs land in
    * tick-keyed dirs BEFORE the log publishes, so a crash between the
    * two replays the same tick — same fresh-file set (the log is
    * unchanged), same tick number ([[appliedBatch]] of the log), same
    * dirs overwritten byte-identically. Prior ticks are never touched
    * (append-only publishing). Driver state is bounded by file COUNT
    * (the [[graft.sources.WarcFiles.listFiles]] argument), never data.
    */
  def warcFilesIngestTick(spark: org.apache.spark.sql.SparkSession,
                          glob: String, responsesPath: String,
                          quarantinePath: String, statePath: String,
                          splitBytes: Long =
                            graft.sources.WarcFiles.DefaultSplitBytes): Long = {
    import graft.sources.WarcFiles
    val tick = appliedBatch(spark, statePath).map(_ + 1L).getOrElse(0L)
    val live = new org.apache.hadoop.fs.Path(statePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val processed: Set[String] =
      if (fs.exists(live))
        spark.read.parquet(statePath).select("path")
          .collect().map(_.getString(0)).toSet
      else Set.empty
    val fresh = WarcFiles.listFiles(spark, glob)
      .filterNot(f => processed(f._1))
    if (fresh.isEmpty) return 0L
    val recs = WarcFiles.recordsForFiles(spark, fresh, splitBytes)
      .persist()
    try {
      WarcFiles.responseTextsFromRecords(recs)
        .write.mode("overwrite").parquet(s"$responsesPath/tick=$tick")
      recs.filter(col("error").isNotNull)
        .select(col("path"), col("member_off"), col("error"))
        .write.mode("overwrite").parquet(s"$quarantinePath/tick=$tick")
    } finally { recs.unpersist(); () }
    // log publishes LAST: a crash before this line replays the tick
    import spark.implicits._
    val freshDf = fresh.toDF("path", "size")
      .withColumn("ingest_tick", lit(tick))
    val merged =
      if (fs.exists(live))
        spark.read.parquet(statePath)
          .select("path", "size", "ingest_tick")
          .unionByName(freshDf)
      else freshDf
    publishAtomic(spark, statePath, merged, Some(tick))
    fresh.size.toLong
  }

  /** Streaming temperature-based source mixing: the l29h (group,
    * hash-bucket) count histogram maintained incrementally — purely
    * additive state (group counts are the per-group bucket sums, so
    * one histogram carries everything the sqrt reweighting and the
    * bucket classification need). Crash-safe staged publish, idempotent
    * under retries via the batch marker; `totalTarget` applies at
    * decision time ([[mixFromState]]), so one stream serves any
    * number of mixing policies.
    */
  def mixForeachBatch(histPath: String, groupCol: String, idCol: String,
                      nBuckets: Int = 64)
      : (DataFrame, Long) => Unit =
    snapshotSink(histPath) { (batch, prior, _) =>
      sumByKeys(prior, graft.operators.CorpusAssembly
          .mixBucketHistogram(batch, groupCol, idCol, nBuckets),
        Seq(groupCol, "__b"), "__n")
    }

  /** The mixing decision for everything streamed so far: sqrt-reweighted
    * targets and bucket classes from the merged state, edge buckets
    * resolved over `corpus` (the materialized stream). Equals the
    * one-shot [[graft.operators.CorpusAssembly.temperatureMixSelectHistogram]]
    * on the same corpus — same state+view split as [[quotaFromState]].
    * `nBuckets` must match the sink's.
    */
  def mixFromState(spark: org.apache.spark.sql.SparkSession,
                   histPath: String, corpus: DataFrame, groupCol: String,
                   idCol: String, totalTarget: Long,
                   nBuckets: Int = 64): DataFrame =
    graft.operators.CorpusAssembly.temperatureMixFromHistogram(
      corpus, spark.read.parquet(histPath), groupCol, idCol,
      totalTarget, nBuckets)

  /** Streaming incremental EXACT dedup — the l28/l22 standing-corpus
    * content-hash index maintained as streaming state, closing the one
    * stage of the composed ingest pipeline the streaming family didn't
    * cover.
    *
    * The state is an APPEND-ONLY DELTA LOG, not a rewritten snapshot:
    * `indexPath/d=<batchId>/` holds the distinct content hashes FIRST
    * seen in that micro-batch (`(content_hash, first_batch)` rows, the
    * batch's hashes anti-joined against every earlier delta). That is
    * the right shape for insert-only corpus-sized state — the
    * histogram/MG sinks rewrite their whole state per batch because it
    * is O(buckets) small, but a 100 TB corpus's hash index cannot be
    * rewritten per micro-batch; appending ONLY the batch's new hashes
    * makes per-batch write cost O(batch), leaves every earlier delta
    * immutable, and keeps the full index = the union of deltas (LSM
    * discipline; periodic compaction of old deltas is the standard
    * follow-up and touches nothing semantic. The growing file count,
    * not data volume, is what compaction bounds).
    *
    * Idempotency needs NO batch marker here, by construction: every
    * read of the index (the `known` set for flags, and the anti-join
    * building the delta) filters to `first_batch < batchId`, so a
    * retried batch sees exactly the pre-batch state no matter how far
    * the failed attempt got, recomputes byte-identical outputs, and
    * overwrites its own two directories (`d=<batchId>` and
    * `flagsPath/batch=<batchId>`) in place. A later high-batch delta
    * never changes an earlier batch's flags — flags are decided AT
    * ARRIVAL, matching the daily-ingest semantics of l22/l28 (and the
    * spec pins streamed flags == replaying the one-shot batch operator
    * snapshot by snapshot).
    */
  def dedupIndexForeachBatch(indexPath: String, flagsPath: String,
                             idCol: String, textCol: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val before = dedupIndex(spark, indexPath)
        .filter(col("first_batch") < batchId)
      graft.operators.Dedup
        .incrementalDupFlagsFromIndex(before, batch, idCol, textCol)
        .write.mode("overwrite").parquet(s"$flagsPath/batch=$batchId")
      batch
        .select(sha2(graft.operators.Dedup.normalizeText(col(textCol)),
          256).as("content_hash"))
        .distinct()
        .join(before, Seq("content_hash"), "left_anti")
        .withColumn("first_batch", lit(batchId))
        .write.mode("overwrite").parquet(s"$indexPath/d=$batchId")
    }
  }

  /** Plain (uncompacted) delta-dir count — `d=<digits>` only, staging
    * and compacted segments excluded: the tiered trigger counts THIS,
    * because compacted segments legitimately accumulate
    * (O(fanout·log batches) of them) and counting them would make the
    * trigger fire every batch forever once enough segments exist. */
  def plainDeltaDirCount(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String): Int = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0
    else fs.listStatus(root)
      .count(s => s.isDirectory && isPlainDelta(s.getPath.getName))
  }

  /** [[dedupIndexForeachBatch]] with SIZE-TIERED compaction: after each
    * publish, once `maxDeltas` plain deltas exist they fold into a NEW
    * segment and old segments are never touched; segments then merge
    * geometrically (when `fanout` segments share a size class they
    * merge into the next class), so each hash row is rewritten once
    * per class it passes through — O(log B) over the stream's life,
    * where rewriting one base per firing costs O(B/maxDeltas) per row
    * (SCALE_r15 §12 measures the per-batch wall slope that causes at
    * 1,000 batches) — while the index read still lists ≤ maxDeltas
    * deltas + O(fanout·log B) segments. Compaction preserves each
    * row's `first_batch`, so at-arrival flags replay byte-identically;
    * a batch RETRY that lands after its delta was compacted re-creates
    * `d=<batchId>`, which the segment manifests resolve as consumed.
    * Every merge publishes via [[publishSegment]]'s rename-aside
    * discipline, so committed hashes stay reader-visible at every
    * instant and a checkpoint-replayed compaction absorbs (never
    * deletes) a previously published segment.
    */
  def dedupIndexForeachBatchTiered(indexPath: String, flagsPath: String,
                                   idCol: String, textCol: String,
                                   maxDeltas: Int, fanout: Int = 4)
      : (DataFrame, Long) => Unit =
    tieredForeachBatch(indexPath, LsmStore.dedup, maxDeltas, fanout)(
      dedupIndexForeachBatch(indexPath, flagsPath, idCol, textCol))

  /** One `d=<batchId>` delta log: the column schema of its rows (what
    * [[readLog]] returns, as an empty frame, before the first delta)
    * and, for a log the tiered compactor serves, its
    * DUPLICATE-TOLERANT fold, which merges any union of the log's rows
    * (the compacted dirs plus whatever a crash or replay left behind)
    * given the compaction's `upTo`. A `cellPartitioned` log's deltas
    * are written `partitionBy("cell")` (the ANN indexes).
    */
  final case class DeltaLog(
      schema: StructType,
      fold: Option[(DataFrame, Long) => DataFrame] = None,
      cellPartitioned: Boolean = false)

  /** An LSM delta-log store described as data: each of its logs by the
    * sub-directory under the store root that holds its deltas, "" for
    * the root itself. [[readLog]] reads any log of any store;
    * [[compactStoreTiered]] compacts every log of a store whose logs
    * all have folds; [[tieredForeachBatch]] fires it behind a sink.
    */
  final case class LsmStore(logs: (String, DeltaLog)*) {
    def log(sub: String): DeltaLog =
      logs.collectFirst { case (`sub`, l) => l }.getOrElse(
        throw new IllegalArgumentException(
          s"no log '$sub' in store logs ${logs.map(_._1).mkString(",")}"))
  }

  /** Every delta-log store: logs, schemas and folds. */
  object LsmStore {
    /** A schema from a tuple type — the column types and nullability
      * the `Seq.empty[T].toDF(names)` form gives. */
    private def cols[T <: Product: TypeTag](names: String*): StructType =
      StructType(Encoders.product[T].schema.fields.zip(names)
        .map { case (f, n) => f.copy(name = n) })
    private def minFirstBatch(schema: StructType, key: String) =
      DeltaLog(schema, Some((rows: DataFrame, _: Long) =>
        rows.groupBy(key).agg(min("first_batch").as("first_batch"))))
    private def distinctBy(schema: StructType, keys: String*) =
      DeltaLog(schema, Some((rows: DataFrame, _: Long) =>
        rows.dropDuplicates(keys)))
    private val shingleSets =
      cols[(Long, Seq[Long], Long)]("doc", "sh", "first_batch")

    /** [[dedupIndexForeachBatch]]: min `first_batch` per hash. */
    val dedup = LsmStore("" -> minFirstBatch(
      cols[(String, Long)]("content_hash", "first_batch"), "content_hash"))
    /** [[dupSpanIndexForeachBatch]]: min `first_batch` per gram key. */
    def dupSpan(hashedGramKeys: Boolean) = LsmStore("" -> minFirstBatch(
      if (hashedGramKeys) cols[(Long, Long)]("gk", "first_batch")
      else cols[(String, Long)]("gk", "first_batch"), "gk"))
    /** [[nearDupIndexForeachBatch]]: payloads are identical per key
      * by construction, so crash leftovers just drop. */
    val nearDup = LsmStore(
      "shingles" -> distinctBy(shingleSets, "doc"),
      "buckets" -> distinctBy(cols[(Long, Int, Long, Long)](
        "doc", "band", "bucket", "first_batch"), "doc", "band"))
    /** [[prefixDupIndexForeachBatch]] (the frozen `order/` table is no
      * log): a doc carries MANY prefix rows, so that key must include
      * the shingle or a merge would collapse a prefix to one row. */
    val prefixDup = LsmStore(
      "prefixes" -> distinctBy(cols[(Long, Long, Long, Long)](
        "doc", "m", "shingle", "first_batch"), "doc", "shingle"),
      "shingles" -> distinctBy(shingleSets, "doc"))
    /** [[edDistIndexForeachBatch]]'s segment, probe and text logs. */
    val edDist = {
      val keys = cols[(Long, Long, Long)]("doc", "key", "first_batch")
      LsmStore("segs" -> distinctBy(keys, "doc", "key"),
        "probes" -> distinctBy(keys, "doc", "key"),
        "texts" -> distinctBy(cols[(Long, String, Int, Long)](
          "doc", "txt", "len", "first_batch"), "doc"))
    }
    /** [[lineFreqForeachBatch]] folds by ADDITION, so it is the store
      * that needs the segment manifests' exactly-once resolution. */
    val lineFreq = LsmStore("" -> DeltaLog(
      cols[(Long, Long, Long)]("lk", "d", "first_batch"),
      Some((rows: DataFrame, upTo: Long) =>
        rows.groupBy("lk").agg(sum("d").as("d"))
          .withColumn("first_batch", lit(upTo)))))
    /** [[stageFunnelForeachBatchDelta]]: min-of-mins by user. The
      * empty-log schema is the x26 stream's: long user ids and
      * epoch-microsecond stage times. */
    def stageFunnel(userCol: String, stages: Seq[String]) =
      LsmStore("" -> DeltaLog(
        StructType((userCol +: stages.map(t => s"t_$t"))
          .map(StructField(_, LongType))),
        Some((rows: DataFrame, _: Long) =>
          stageMinsMerge(rows, userCol, stages))))
    /** [[retentionForeachBatchDelta]]: the distinct re-reduce. */
    val retention = LsmStore("" -> DeltaLog(
      cols[(Long, Long, Long)]("user_id", "cohort_day", "mask"),
      Some((rows: DataFrame, _: Long) => retentionMerge(rows))))

    // logs no caller compacts: a schema only
    /** [[dupClusterForeachBatch]]'s label log. */
    val dupCluster = LsmStore("" -> DeltaLog(
      cols[(Long, Long, Long)]("node", "component", "as_of")))
    /** [[mediaNearDupForeachBatch]]'s signature index. */
    val mediaSignatures = LsmStore("" -> DeltaLog(
      cols[(Long, Long, Long)]("id", "fhash", "d")))
    /** [[annIndexForeachBatch]]'s cell-partitioned vector index. */
    val ann = LsmStore("" -> DeltaLog(
      cols[(Long, Seq[Double], Double, Long)]("n_id", "cv", "cn", "cell"),
      cellPartitioned = true))
    /** [[annPqIndexForeachBatch]]'s cell-partitioned code index. */
    val annPq = LsmStore("" -> DeltaLog(
      cols[(Long, Seq[Long], Long)]("n_id", "codes", "cell"),
      cellPartitioned = true))
  }

  /** The one delta-log reader: the live union of log `sub` of `store`
    * under `root` (every dir [[liveDeltaDirs]] resolves), or, before
    * the first delta, an empty frame of the log's schema — a
    * LocalRelation, so a first batch's anti-join against it folds away
    * at planning. A cell-partitioned log reads as ONE relation rooted
    * at the log (`basePath`): both hive-style levels (`d=N`, `cell=K`)
    * surface as partition columns, which is what lets a cell filter
    * prune directories across ALL deltas at once; the batch level is a
    * physical detail the reader drops.
    */
  def readLog(spark: org.apache.spark.sql.SparkSession, root: String,
              store: LsmStore, sub: String = ""): DataFrame = {
    val log = store.log(sub)
    val path = logPath(root, sub)
    val dirs = liveDeltaDirs(spark, path)
    if (dirs.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        log.schema)
    else if (log.cellPartitioned)
      spark.read.option("basePath", path).parquet(dirs: _*).drop("d")
    else spark.read.parquet(dirs: _*)
  }

  /** The one tiered sink: `sink` appends each batch's deltas under
    * `root`; once the store's first log holds `maxDeltas` PLAIN deltas
    * (a sink writes one delta per log per batch, so one count stands
    * for all) every log compacts through [[compactStoreTiered]]. */
  def tieredForeachBatch(root: String, store: LsmStore, maxDeltas: Int,
                         fanout: Int = 4)(sink: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit = {
    require(maxDeltas >= 2, s"maxDeltas must be >= 2, got $maxDeltas")
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    (batch, batchId) => {
      sink(batch, batchId)
      val spark = batch.sparkSession
      if (plainDeltaDirCount(spark, logPath(root, store.logs.head._1))
          >= maxDeltas)
        compactStoreTiered(spark, root, store, upTo = batchId, fanout)
    }
  }

  private def logPath(root: String, sub: String): String =
    if (sub.isEmpty) root else s"$root/$sub"

  /** The size-tiered LSM compactor — the one compaction path of every
    * [[LsmStore]]. For each log of `store`, with that log's fold:
    *
    *  - phase 1: every PLAIN delta `d=<id>` with id <= upTo folds into
    *    one NEW segment `d=c<upTo>`; previously compacted segments are
    *    untouched (folding them into one base on every firing costs
    *    O(B²/maxDeltas) writes — SCALE_r15 §12);
    *  - phase 2: while any size class (floor(log_fanout(bytes))) holds
    *    >= fanout segments, that class folds into one `d=c<upTo>t<n>`
    *    segment — geometric merging, so a row is rewritten once per
    *    class it passes through, O(log batches) total.
    *
    * Eligibility is by DIRECTORY NAME (the id a retry-idempotent
    * foreachBatch wrote), not a per-dir `max(first_batch)` scan — one
    * listStatus instead of one Spark job per listed delta per trigger
    * check. An empty delta (all-dup batch) is eligible like any other.
    *
    * Every merge publishes through [[publishSegment]], whose
    * rename-ASIDE discipline leaves every row reader-visible at every
    * instant — there is NO crash window in which committed state can
    * be lost (the round-15 tiered form's delete-then-rename had one:
    * a replayed compaction could delete a previously published target
    * whose hashes the replayed sources no longer carried). Leftover
    * `__replaced` dirs from a crash are recovered at entry and
    * tolerated by every reader in between (readers exclude only
    * `__staging`; duplicate rows are absorbed by each store's
    * duplicate-tolerant fold).
    */
  def compactStoreTiered(spark: org.apache.spark.sql.SparkSession,
                         root: String, store: LsmStore, upTo: Long,
                         fanout: Int = 4): Unit = {
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    require(store.logs.forall(_._2.fold.isDefined),
      "compactStoreTiered: every log of the store needs a fold")
    for ((sub, DeltaLog(_, Some(fold), _)) <- store.logs) {
      val log = logPath(root, sub)
      val logDir = new org.apache.hadoop.fs.Path(log)
      val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(logDir)) {
        recoverSegments(fs, logDir)
        val merge = (dirs: Seq[String]) =>
          fold(spark.read.parquet(dirs: _*), upTo)

        // phase 1: plain deltas -> one new segment (old segments
        // untouched). Post-recovery every listed plain is LIVE, so the
        // merge consumes each row exactly once — sound for additive
        // folds.
        val plain = fs.listStatus(logDir)
          .filter(s => s.isDirectory && isPlainDelta(s.getPath.getName))
          .map(_.getPath)
          .filter(p => p.getName.stripPrefix("d=").toLong <= upTo)
        if (plain.length >= 2)
          publishSegment(fs, log, plain.toSeq, s"d=c$upTo",
            plainFloor = upTo)(merge)

        // phase 2: geometric segment merging by size class
        var mergeN = 0
        var again = true
        while (again) {
          val segs = fs.listStatus(logDir)
            .filter(s => s.isDirectory &&
              s.getPath.getName.startsWith("d=c") &&
              !s.getPath.getName.contains("__staging") &&
              !s.getPath.getName.contains("__replaced"))
            .map(s => (s.getPath,
              fs.getContentSummary(s.getPath).getLength.max(1L)))
          val byClass = segs.groupBy { case (_, bytes) =>
            (math.log(bytes.toDouble) / math.log(fanout.toDouble)).toInt
          }
          byClass.find(_._2.length >= fanout) match {
            case Some((_, members)) =>
              mergeN += 1
              publishSegment(fs, log, members.map(_._1).toSeq,
                s"d=c${upTo}t$mergeN", plainFloor = Long.MinValue)(merge)
            case None => again = false
          }
        }
      }
    }
  }

  /** Per-segment manifest (`_GRAFT_SEG`, underscore-prefixed so parquet
    * scans skip it): line 1 = this segment's unique id, line 2 = the
    * plains-consumed watermark (every plain delta `d=<id>` with id <=
    * watermark is contained in this segment, directly or transitively),
    * remaining lines = the segment ids this merge consumed. Together
    * these make every crash/replay state RESOLVABLE for EVERY fold —
    * including the ADDITIVE lineFreq sum, where "duplicate rows are
    * absorbed by the read" is false: a consumed dir left on disk (halt
    * between publish and source deletes, or a checkpoint replay
    * re-creating the last batch's delta after a segment subsumed it)
    * is EXCLUDED from reads and deleted at the next compactor entry,
    * by id — never by name, since names (`d=c<upTo>t<n>`, replayed
    * `d=<batchId>`) legitimately recur across replays.
    */
  private case class SegMeta(segid: String, plainsUpTo: Long,
                             consumed: Seq[String])

  private def segMetaPath(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir, "_GRAFT_SEG")

  private def readSegMeta(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path)
      : Option[SegMeta] = {
    val p = segMetaPath(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
      if (lines.length < 2) None
      else Some(SegMeta(lines(0), lines(1).toLong, lines.drop(2).toSeq))
    }
  }

  private def writeSegMeta(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path,
                           meta: SegMeta): Unit = {
    val out = fs.create(segMetaPath(dir), true)
    try out.write(
      (meta.segid +: meta.plainsUpTo.toString +: meta.consumed)
        .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def isPlainDelta(name: String): Boolean =
    name.matches("d=[0-9]+")

  /** All `d=*` dirs under `root` (staging excluded) with their
    * manifests, plus the consumed-id set and plain watermark implied
    * by the manifests PRESENT — the shared resolution every reader
    * and the recovery sweep use. */
  private def segListing(fs: org.apache.hadoop.fs.FileSystem,
                         root: org.apache.hadoop.fs.Path)
      : (Seq[(org.apache.hadoop.fs.Path, Option[SegMeta])],
         Set[String], Long) = {
    if (!fs.exists(root)) return (Seq.empty, Set.empty, Long.MinValue)
    val dirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("d=") &&
        !s.getPath.getName.contains("__staging"))
      .map(s => (s.getPath, readSegMeta(fs, s.getPath))).toSeq
    val metas = dirs.flatMap(_._2)
    val consumed = metas.flatMap(_.consumed).toSet
    val watermark =
      if (metas.isEmpty) Long.MinValue else metas.map(_.plainsUpTo).max
    (dirs, consumed, watermark)
  }

  /** A present dir is CONSUMED (content already inside some present
    * segment) iff it is a plain delta at or below the watermark, or a
    * segment whose id a present manifest lists. Transitive across
    * crash pile-ups without closure: a consumed-but-present segment
    * still carries its own manifest, so its sources resolve too. */
  private def isConsumed(entry: (org.apache.hadoop.fs.Path,
                                 Option[SegMeta]),
                         consumed: Set[String],
                         watermark: Long): Boolean = entry match {
    case (p, _) if isPlainDelta(p.getName) =>
      p.getName.stripPrefix("d=").toLong <= watermark
    case (_, Some(m)) => consumed.contains(m.segid)
    case _ => false
  }

  /** The LIVE delta dirs of a store: every reader-visible dir minus
    * the consumed ones. This is the listing [[readLog]] goes through — it makes reads correct (not merely
    * duplicate-tolerant) in every crash/replay state, which the
    * ADDITIVE stores require. Stores never touched by the tiered
    * compactor have no manifests, so this degrades to the plain
    * listing. */
  private def liveDeltaDirs(spark: org.apache.spark.sql.SparkSession,
                            root: String): Seq[String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (dirs, consumed, watermark) = segListing(fs, rootPath)
    dirs.filterNot(isConsumed(_, consumed, watermark))
      .map(_._1.toString)
  }

  /** Crash-FREE merged-segment publish: the merge output replaces
    * `name` with every LIVE row reader-visible (exactly once, per the
    * manifest resolution) at EVERY intermediate instant.
    *
    * Order: (1) a pre-existing target or `__replaced` leftover —
    * which a checkpoint replay or crash can produce, holding rows the
    * current sources no longer carry — is ALWAYS absorbed as a merge
    * source (disjointness with the other sources is guaranteed by the
    * recovery sweep, so even additive folds absorb correctly);
    * (2) the merge is staged under `<name>__staging` (reader-excluded,
    * overwrite-safe) with a manifest recording a fresh segid, the
    * consumed segids, and the inherited plain watermark; (3) the old
    * target is renamed ASIDE to `<name>__replaced` — reader-resolvable
    * by its segid, never deleted while it is the only copy; (4) staging
    * renames onto the target; (5) only now are the aside and the
    * merged sources deleted. A halt at any point leaves every live row
    * in exactly one manifest-resolved dir; the next compactor entry
    * finishes the deletes ([[recoverSegments]]).
    */
  private def publishSegment(fs: org.apache.hadoop.fs.FileSystem,
                             root: String,
                             sources: Seq[org.apache.hadoop.fs.Path],
                             name: String, plainFloor: Long)(
      merge: Seq[String] => DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$root/$name")
    val aside = new org.apache.hadoop.fs.Path(s"$root/${name}__replaced")
    val extras = Seq(target, aside).filter(p =>
      fs.exists(p) && !sources.exists(_.getName == p.getName))
    val withExtras = sources ++ extras
    // every non-plain source needs a segid so a crash-left copy stays
    // resolvable; a segment written without a manifest (a test
    // fixture) lacks one — assign it in place (underscore file,
    // invisible to scans)
    val sourceMetas = withExtras.map { p =>
      if (isPlainDelta(p.getName)) None
      else Some(readSegMeta(fs, p).getOrElse {
        val m = SegMeta(java.util.UUID.randomUUID().toString,
          Long.MinValue, Seq.empty)
        writeSegMeta(fs, p, m)
        m
      })
    }
    val meta = SegMeta(
      java.util.UUID.randomUUID().toString,
      (plainFloor +: sourceMetas.flatten.map(_.plainsUpTo)).max,
      sourceMetas.flatten.map(_.segid))
    val staging = new org.apache.hadoop.fs.Path(s"$root/${name}__staging")
    merge(withExtras.map(_.toString)).write.mode("overwrite")
      .parquet(staging.toString)
    writeSegMeta(fs, staging, meta)
    if (fs.exists(target)) {
      // a stale aside was already absorbed into the live target (its
      // segid is in the target's manifest) — drop before re-parking
      fs.delete(aside, true)
      if (!fs.rename(target, aside))
        throw new java.io.IOException(s"compact: cannot park $target")
    }
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"compact: cannot publish $target")
    // CRASH-INJECTION POINT (RestartSpec): halt between the publish
    // rename and the source deletes — the replay window the manifest
    // discipline exists for. Inert unless the test property names
    // this exact segment.
    if (sys.props.get("graft.test.haltAfterSegmentPublish")
        .contains(name)) {
      Console.out.println(s"COMPACT halting post-publish segment=$name")
      Console.flush()
      Runtime.getRuntime.halt(43)
    }
    fs.delete(aside, true)
    val keep = Set(target.getName, aside.getName)
    withExtras.filterNot(p => keep(p.getName)).foreach(fs.delete(_, true))
  }

  /** Entry-time recovery: (1) `__replaced` leftovers — if the target
    * was published the aside is consumed (drop it), otherwise the
    * aside IS the pre-merge target (restore its name); (2) finish any
    * crashed merge's source deletes by dropping every CONSUMED dir the
    * manifests resolve. After this sweep every row lives in exactly
    * one dir, which is what lets a re-fired merge absorb a published
    * target safely under EVERY fold, sums included. */
  private def recoverSegments(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path): Unit = {
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.endsWith("__replaced"))
      .foreach { s =>
        val tgt = new org.apache.hadoop.fs.Path(root,
          s.getPath.getName.stripSuffix("__replaced"))
        if (fs.exists(tgt)) fs.delete(s.getPath, true)
        else if (!fs.rename(s.getPath, tgt))
          throw new java.io.IOException(
            s"compact: cannot recover ${s.getPath}")
      }
    val (dirs, consumed, watermark) = segListing(fs, root)
    dirs.filter(isConsumed(_, consumed, watermark))
      .foreach(d => fs.delete(d._1, true))
  }

  /** The full standing hash index: the union of all published deltas
    * (each hash appears in exactly one — the delta build anti-joins
    * history). Empty frame when no delta exists yet.
    */
  def dedupIndex(spark: org.apache.spark.sql.SparkSession,
                 indexPath: String): DataFrame =
    readLog(spark, indexPath, LsmStore.dedup)

  /** Streaming fixed-n duplicated-SPAN dedup —
    * [[graft.operators.Dedup.dupSpanRemoval]] maintained incrementally
    * against a standing corpus. This is RISKS row 15's documented
    * policy made real: suffix ranks are GLOBAL, so l77's exact grid
    * has no cheap per-batch increment — between grid releases,
    * arriving batches get fixed-n span flags AT ARRIVAL (the l22
    * discipline: a batch doc's position is flagged iff its n-token
    * window already occurs in the standing corpus, or in >= 2 docs of
    * the batch itself; standing docs keep the flags they got when THEY
    * arrived), and the exact data-adaptive grid recomputes per release
    * (SCALE_r16.md §3 prices the crossover).
    *
    * State is the dedup-index LSM shape applied to gram keys:
    * `indexPath/d=<batchId>` holds (gk, first_batch) — the batch's
    * NEW distinct window keys (anti-joined against history, so each
    * key lives in exactly one delta). Per-batch writes are O(batch
    * grams); the standing corpus is never re-signed. Per-batch flag
    * rows land at `flagsPath/batch=<batchId>` BEFORE the delta
    * publish, so every retry order recomputes byte-identical flags
    * from the still-pre-batch standing set (`first_batch < batchId`).
    * [[dupSpanIndexForeachBatchTiered]] adds the shared size-tiered
    * compaction.
    *
    * `hashedGramKeys` defaults TRUE (8-byte standing keys — the state
    * is long-lived by definition; the l23h contract: value-identical
    * output short of 64-bit gram collisions).
    */
  def dupSpanIndexForeachBatch(indexPath: String, flagsPath: String,
                               idCol: String, textCol: String, n: Int,
                               hashedGramKeys: Boolean = true)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import graft.operators.Dedup
      val toks = Dedup.spanToks(batch, idCol, textCol).cache()
      val grams = Dedup.spanGrams(toks, n, hashedGramKeys).cache()
      val standing =
        readLog(spark, indexPath, LsmStore.dupSpan(hashedGramKeys))
          .filter(col("first_batch") < batchId).select("gk")
      val withinDup = grams.groupBy("gk")
        .agg(countDistinct(col("doc")).as("nd"))
        .filter(col("nd") >= 2).select("gk")
      val dupKeys = standing.union(withinDup).distinct()
      val flagged = grams.join(dupKeys, Seq("gk"))
        .groupBy("doc")
        .agg(sort_array(array_distinct(collect_list(col("pos"))))
          .as("starts"))
      Dedup.spanAssemble(toks, flagged, idCol, n)
        .write.mode("overwrite").parquet(s"$flagsPath/batch=$batchId")
      grams.select("gk").distinct()
        .join(standing, Seq("gk"), "left_anti")
        .withColumn("first_batch", lit(batchId))
        .write.mode("overwrite").parquet(s"$indexPath/d=$batchId")
      grams.unpersist(blocking = false)
      toks.unpersist(blocking = false)
    }
  }

  def dupSpanIndexForeachBatchTiered(indexPath: String,
      flagsPath: String, idCol: String, textCol: String, n: Int,
      maxDeltas: Int, hashedGramKeys: Boolean = true, fanout: Int = 4)
      : (DataFrame, Long) => Unit =
    tieredForeachBatch(indexPath, LsmStore.dupSpan(hashedGramKeys),
        maxDeltas, fanout)(
      dupSpanIndexForeachBatch(indexPath, flagsPath, idCol, textCol, n,
        hashedGramKeys))

  /** Streaming incremental NEAR-dup dedup — the MinHash-LSH pair
    * pipeline (l3) maintained against a standing corpus, closing the
    * fuzzy half of the streaming dedup story
    * ([[dedupIndexForeachBatch]] covers exact content hashes only; a
    * production crawl ingest needs each batch checked for NEAR
    * duplicates of everything already kept).
    *
    * State is the [[dedupIndexForeachBatch]] APPEND-ONLY DELTA LOG,
    * two stores under `indexPath`:
    *  - `shingles/d=<batchId>`: (doc, sh ARRAY<LONG>, first_batch) —
    *    each doc's xxhash64-hashed shingle set (the l2bh 8-byte
    *    convention), what exact verification joins against;
    *  - `buckets/d=<batchId>`: (doc, band, bucket, first_batch) — the
    *    doc's LSH cells, what candidate generation joins against.
    * Both per-batch writes are O(batch); the standing corpus is never
    * rewritten or re-signed (signatures derive from the STORED hashes
    * via the same [[graft.operators.Dedup.bandedFromHashes]] the batch
    * operator uses, so batch and streamed candidates are
    * value-identical by construction).
    *
    * Each batch emits to `pairsPath/batch=<id>` every verified pair
    * (doc_a, doc_b, jaccard) whose LATER member arrived in this batch:
    * batch x standing bucket collisions plus within-batch collisions,
    * exact-verified against full shingle sets. The union over batches
    * equals the one-shot [[graft.operators.Dedup.minHashLshPairs]]
    * over the final corpus (StreamOpsSpec pins this), because a pair
    * collides in the stream exactly when it collides in batch and is
    * attributed to the arrival batch of its later member — decided AT
    * ARRIVAL, the l22 semantics.
    *
    * Idempotency by construction: reads filter `first_batch <
    * batchId`, a retried batch sees exactly the pre-batch state and
    * overwrites its own three directories.
    *
    * `maxBucket` is the HOT-BUCKET cap, the l12c star scheme applied
    * to the stream: a bucket whose standing+batch membership exceeds
    * the cap generates only (batch doc, bucket representative) pairs
    * — the representative is the bucket's all-time min id, so it is
    * stable across batches — instead of all pairs. Without it, one
    * boilerplate-heavy bucket (N standing members, m batch arrivals)
    * emits N*m candidates per batch forever: the probed pathological
    * batch (5k mutually-near-dup docs) generated 11M verified pairs
    * in 174 s; the same batch under the cap is bounded by
    * membership, not membership^2. Precision stays exact (every
    * candidate is still verified); recall weakens to pairs reachable
    * through a representative — the standard trade, and the default
    * stays uncapped so the pair-log == one-shot-l3 parity contract
    * holds exactly.
    */
  def nearDupIndexForeachBatch(indexPath: String, pairsPath: String,
                               idCol: String, textCol: String,
                               n: Int = 3, bands: Int = 16,
                               rowsPerBand: Int = 4,
                               threshold: Double = 0.2,
                               maxBucket: Int = Int.MaxValue)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import graft.operators.{Barrier, Dedup}
      val bsh = Barrier.filterAbove(
          batch.select(col(idCol).cast("long").as("doc"),
            Dedup.shingles(textCol, n).as("s0")),
          size(col("s0")) > 0)
        .select(col("doc"),
          expr("transform(s0, t -> xxhash64(t))").as("sh"))
        .cache()
      val banded = Dedup.bandedFromHashes(
        bsh.select(col("doc"), explode(col("sh")).as("h")),
        bands, rowsPerBand).cache()
      val standingSh = readLog(spark, indexPath, LsmStore.nearDup, "shingles")
        .filter(col("first_batch") < batchId)
      val standingBk = readLog(spark, indexPath, LsmStore.nearDup, "buckets")
        .filter(col("first_batch") < batchId)
      val cand0 =
        if (maxBucket == Int.MaxValue) {
          // =!= guard: a doc id re-delivered in a later batch (an
          // at-least-once source duplicate) would otherwise pair with
          // its own standing copy and emit a nonsense (d, d, 1.0)
          // self-pair into the log
          val cross = banded.as("a").join(standingBk.as("b"),
              col("a.band") === col("b.band") &&
                col("a.bucket") === col("b.bucket") &&
                col("a.doc") =!= col("b.doc"))
            .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
              greatest(col("a.doc"), col("b.doc")).as("doc_b"))
          val within = banded.as("a").join(banded.as("b"),
              col("a.band") === col("b.band") &&
                col("a.bucket") === col("b.bucket") &&
                col("a.doc") < col("b.doc"))
            .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
          cross.union(within)
        } else {
          // per-bucket membership over standing UNION batch: one
          // map-side-combinable aggregate on the scan already paid
          val stats = standingBk.select("doc", "band", "bucket")
            .union(banded.select("doc", "band", "bucket"))
            .groupBy("band", "bucket")
            .agg(count(lit(1)).as("cnt"), min("doc").as("rep"))
          val bb = banded.join(stats, Seq("band", "bucket"))
          val underB = bb.filter(col("cnt") <= maxBucket)
            .select("doc", "band", "bucket")
          val crossU = underB.as("a").join(standingBk.as("b"),
              col("a.band") === col("b.band") &&
                col("a.bucket") === col("b.bucket") &&
                col("a.doc") =!= col("b.doc"))
            .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
              greatest(col("a.doc"), col("b.doc")).as("doc_b"))
          val withinU = underB.as("a").join(underB.as("b"),
              col("a.band") === col("b.band") &&
                col("a.bucket") === col("b.bucket") &&
                col("a.doc") < col("b.doc"))
            .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
          val star = bb
            .filter(col("cnt") > maxBucket && col("doc") =!= col("rep"))
            .select(least(col("doc"), col("rep")).as("doc_a"),
              greatest(col("doc"), col("rep")).as("doc_b"))
          crossU.union(withinU).union(star)
        }
      val cand = cand0.distinct()
      val allSh = standingSh.select("doc", "sh")
        .union(bsh.select("doc", "sh"))
      Dedup.verifiedJaccard(cand, allSh, threshold)
        .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
      bsh.withColumn("first_batch", lit(batchId))
        .write.mode("overwrite")
        .parquet(s"$indexPath/shingles/d=$batchId")
      banded.withColumn("first_batch", lit(batchId))
        .write.mode("overwrite")
        .parquet(s"$indexPath/buckets/d=$batchId")
      bsh.unpersist(blocking = false)
      banded.unpersist(blocking = false)
    }
  }

  /** Streaming PREFIX-FILTER near-dup index — the l54 exact-recall
    * Jaccard join ([[graft.operators.Dedup.prefixFilterJaccardPairs]])
    * maintained against a standing corpus: where
    * [[nearDupIndexForeachBatch]] trades recall for bounded candidates
    * (LSH misses a 1-(1-J^r)^b fraction), this index finds EVERY pair
    * with J >= threshold, with candidates bounded by the prefix
    * theorem instead of chance.
    *
    * The theorem needs both members of a pair prefixed under ONE
    * consistent total order — but true global document frequencies
    * drift as the corpus grows. The index therefore FREEZES the order
    * at seed time (`order/` = the first batch's df table; shingles
    * unseen there rank df=0, i.e. rarest-first): completeness holds
    * under ANY fixed total order, so the streamed pair log STILL
    * equals the exact tau-join — drift costs only candidate
    * efficiency (new-vocabulary shingles over-index), never recall
    * (spec pins streamed == one-shot == the capless exact join).
    * Re-freezing on a vocabulary shift is a compaction
    * ([[LsmStore.prefixDup]]) + reseed, the documented operational
    * lever.
    *
    * State under `indexPath`, both append-only delta logs (the
    * [[dedupIndexForeachBatch]] discipline — O(batch) writes, reads
    * filter `first_batch < batchId` so retries are idempotent):
    *  - `prefixes/d=<id>`: (doc, m, shingle) — the doc's rarest-first
    *    prefix under the frozen order plus its full set size `m` (what
    *    candidate generation joins, with the length filter applied in
    *    the join);
    *  - `shingles/d=<id>`: (doc, sh ARRAY<LONG>) — full hashed sets
    *    (what exact verification joins).
    * Per batch: batch-prefix x standing-prefix plus within-batch
    * prefix collisions -> length filter -> exact verify -> pairs land
    * at `pairsPath/batch=<id>` attributed to the later member's
    * arrival (the l22 semantics).
    */
  def prefixDupIndexForeachBatch(indexPath: String, pairsPath: String,
                                 idCol: String, textCol: String,
                                 n: Int = 3, threshold: Double = 0.8)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import graft.operators.{Barrier, Dedup}
      val bsh = Barrier.filterAbove(
          batch.select(col(idCol).cast("long").as("doc"),
            Dedup.shingles(textCol, n).as("s0")),
          size(col("s0")) > 0)
        .select(col("doc"),
          expr("transform(s0, t -> xxhash64(t))").as("sh"))
        .cache()
      // frozen order: written once by the seed batch, atomically
      // (staging + rename — a crashed retry recomputes the identical
      // df table from the same batch, so either publish is correct)
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val orderTarget = new org.apache.hadoop.fs.Path(s"$indexPath/order")
      if (!fs.exists(orderTarget)) {
        val staging =
          new org.apache.hadoop.fs.Path(s"$indexPath/order__staging")
        bsh.select(col("doc"), explode(col("sh")).as("shingle"))
          .groupBy("shingle").agg(count(lit(1)).as("dfreq"))
          .write.mode("overwrite").parquet(staging.toString)
        if (!fs.rename(staging, orderTarget))
          throw new java.io.IOException(s"cannot publish $orderTarget")
      }
      val order = spark.read.parquet(orderTarget.toString)
      val inv = bsh.select(col("doc"),
        size(col("sh")).cast("long").as("m"),
        explode(col("sh")).as("shingle"))
      val p = (col("m") - ceil(lit(threshold) * col("m") - lit(1e-9))
        .cast("long") + lit(1L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc").orderBy(col("dfreq"), col("shingle"))
      val bPrefix = inv.join(order, Seq("shingle"), "left")
        .withColumn("dfreq", coalesce(col("dfreq"), lit(0L)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= p)
        .select("doc", "m", "shingle")
        .cache()
      val standingPx =
        readLog(spark, indexPath, LsmStore.prefixDup, "prefixes")
          .filter(col("first_batch") < batchId)
      val standingSh =
        readLog(spark, indexPath, LsmStore.prefixDup, "shingles")
          .filter(col("first_batch") < batchId)
      def lenOk =
        col("b.m") >= lit(threshold) * col("a.m") - lit(1e-9) &&
          col("a.m") >= lit(threshold) * col("b.m") - lit(1e-9)
      // =!= guard: a re-delivered doc id must not pair with its own
      // standing copy (same rationale as nearDupIndexForeachBatch)
      val cross = bPrefix.as("a").join(standingPx.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc") =!= col("b.doc") && lenOk)
        .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
          greatest(col("a.doc"), col("b.doc")).as("doc_b"))
      val within = bPrefix.as("a").join(bPrefix.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc") < col("b.doc") && lenOk)
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      val cand = cross.union(within).distinct()
      val allSh = standingSh.select("doc", "sh")
        .union(bsh.select("doc", "sh"))
      Dedup.verifiedJaccard(cand, allSh, threshold)
        .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
      bPrefix.withColumn("first_batch", lit(batchId))
        .write.mode("overwrite")
        .parquet(s"$indexPath/prefixes/d=$batchId")
      bsh.withColumn("first_batch", lit(batchId))
        .write.mode("overwrite")
        .parquet(s"$indexPath/shingles/d=$batchId")
      bPrefix.unpersist(blocking = false)
      bsh.unpersist(blocking = false)
    }
  }

  /** Streaming DSIR — importance scoring AT INGEST: each arriving
    * batch is scored against the raw/target hashed-unigram
    * distributions of everything that arrived BEFORE it
    * ([[graft.operators.Dsir.scoreAgainstCounts]] — at-arrival
    * semantics, the l22 discipline), then its tokens fold into the
    * standing counts. State is one O(buckets) (bk, rc, tc) table —
    * bounded, so the rewrite-per-batch histogram-sink pattern (staged
    * atomic publish + batch marker) is the right shape, unlike the
    * corpus-sized delta-log indexes. Per-batch score files land at
    * `scoresPath/batch=<id>` BEFORE the state publish, so a retry in
    * any crash window recomputes byte-identical scores from the
    * still-pre-batch state, and a retry after publish is skipped
    * whole (marker) with the score file already in place.
    */
  def dsirForeachBatch(statePath: String, scoresPath: String,
                       idCol: String, textCol: String,
                       targetPred: org.apache.spark.sql.Column,
                       buckets: Int = 4096, topKPerBatch: Int = 100)
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      import graft.operators.Dsir
      val counts = prior.getOrElse(
        Seq.empty[(Long, Long, Long)].toDF("bk", "rc", "tc"))
      Dsir.scoreAgainstCounts(batch, idCol, textCol, counts,
          buckets, topKPerBatch)
        .write.mode("overwrite").parquet(s"$scoresPath/batch=$batchId")
      sumByKeys(Some(counts), Dsir
          .bucketedTokens(batch, idCol, textCol, targetPred, buckets)
          .groupBy("bk").agg(count(lit(1)).as("rc"),
            sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tc")),
        Seq("bk"), "rc", "tc")
    }

  /** Streaming PCA moment maintenance — keep the exact second-moment
    * cells of [[graft.operators.Pca.momentSums]] as a standing state
    * folded at ingest, so a current PCA model (for projection /
    * reduced-space indexing of everything seen so far) is available at
    * ANY time from a dimension-bounded read, never a corpus pass.
    *
    * The cells are a MONOID: scaled-integer sums merge by elementwise
    * addition, exactly the [[graft.functions.MomentAgg]] merge — so a
    * batch contributes ONE O(d²) frame (2 080 rows at d=64) and the
    * fold is a groupBy-sum over state∪batch. Same histogram-sink
    * rewrite discipline as the DSIR state: atomic publish + batch
    * marker makes retries idempotent, and state size is O(d²)
    * regardless of rows streamed. Exactness makes the streamed state
    * bit-identical to a one-shot [[graft.operators.Pca.momentSums]]
    * over the cumulative corpus (StreamOpsSpec pins this), so the
    * derived model is the same model — no drift between the streaming
    * and batch paths.
    */
  def pcaMomentForeachBatch(statePath: String, vecCol: String, dim: Int,
                            digits: Int = 6)
      : (DataFrame, Long) => Unit =
    snapshotSink(statePath) { (batch, prior, _) =>
      sumByKeys(prior,
        graft.operators.Pca.momentSums(batch, vecCol, dim, digits),
        Seq("i", "j"), "sxy", "sx", "sy", "n")
    }

  /** Current PCA model from the standing moment state — a 2 080-row
    * read plus the driver-side eigensolve; no corpus pass.
    */
  def pcaModelFromState(spark: org.apache.spark.sql.SparkSession,
                        statePath: String, dim: Int, digits: Int = 6,
                        center: Boolean = true)
      : graft.operators.Pca.PcaModel =
    graft.operators.Pca.modelFromMoments(
      spark.read.parquet(statePath)
        .select("i", "j", "sxy", "sx", "sy", "n").collect(),
      dim, digits, center)

  /** Streaming dup-CLUSTER maintenance — incremental connected
    * components over an arriving near-dup pair stream (the
    * [[nearDupIndexForeachBatch]] pair log, or any (doc_a, doc_b)
    * batch), so the standing corpus always carries resolved cluster
    * labels, not just pairs. Labels = component MINIMUM over every
    * pair seen so far — identical to the one-shot
    * [[graft.operators.GraphRank.connectedComponents]] on the
    * cumulative pair set (StreamOpsSpec pins this), including the hard
    * case where a new pair MERGES two standing clusters.
    *
    * Incrementality: existing clusters are STARS in label space (every
    * member points at the cluster min), so merging new pairs needs
    * only the AFFECTED subgraph — the batch pairs, plus one star edge
    * (member -> old label) for every member of a cluster the batch
    * touches. Components over that small graph yields the new labels;
    * everything untouched keeps its label by construction. Per-batch
    * work: one latest-label resolve over the label log (combinable
    * max_by — the one O(index) aggregate, same class as the near-dup
    * index's bucket scan), two broadcast semi-joins to find touched
    * members, and an iterative closure sized by the touched clusters
    * only.
    *
    * State is the same delta-log discipline: `ccPath/d=<batchId>`
    * appends (node, component, as_of) for AFFECTED nodes only
    * (O(touched) per batch); the current label of a node is its
    * max-as_of row; reads filter `as_of < batchId` so retries are
    * idempotent by construction.
    */
  def dupClusterForeachBatch(ccPath: String)
      : (DataFrame, Long) => Unit = { (pairs, batchId) =>
    if (!pairs.isEmpty) {
      val spark = pairs.sparkSession
      val p = pairs.select(col("doc_a").cast("long").as("a"),
        col("doc_b").cast("long").as("b")).distinct().cache()
      // the O(index) latest-label resolve feeds TWO consumers (the
      // touched-label lookup and the member scan) — resolve once
      val cur = latestLabels(readLog(spark, ccPath, LsmStore.dupCluster)
          .filter(col("as_of") < batchId))
        .cache()
      val touched = p.select(col("a").as("node"))
        .union(p.select(col("b").as("node"))).distinct()
      // labels the batch touches (absent nodes are their own label)
      val touchedLbl = touched.join(cur, Seq("node"), "left")
        .select(coalesce(col("component"), col("node")).as("lbl"))
        .distinct()
      // every standing member of a touched cluster, as star edges
      val members = cur.join(
        broadcast(touchedLbl),
        cur("component") === touchedLbl("lbl"))
      val starEdges = members
        .select(col("node").as("a"), col("component").as("b"))
      val subgraph = p.select("a", "b").union(starEdges)
      val relabeled = graft.operators.GraphRank
        .connectedComponents(subgraph, "a", "b")
      relabeled.withColumn("as_of", lit(batchId))
        .write.mode("overwrite").parquet(s"$ccPath/d=$batchId")
      relabeled.unpersist(blocking = false)
      cur.unpersist(blocking = false)
      p.unpersist(blocking = false)
    }
  }

  /** Current cluster labels: each node's max-as_of row. */
  def dupClusters(spark: org.apache.spark.sql.SparkSession,
                  ccPath: String): DataFrame =
    latestLabels(readLog(spark, ccPath, LsmStore.dupCluster))

  private def latestLabels(log: DataFrame): DataFrame =
    log.groupBy("node")
      .agg(max_by(col("component"), col("as_of")).as("component"))

  /** STREAMING vector-index maintenance — the IVF corpus index as an
    * append-only delta log (the dedup-index LSM shape applied to ANN
    * serving): the index STRUCTURE (the centroid table) is fixed at
    * bootstrap — exactly how production vector indexes run, structure
    * trained once, inserts appended — and each micro-batch assigns its
    * new vectors to their nearest cell via the same
    * [[graft.operators.Similarity.assignCells]] the batch operator
    * uses, then writes ONLY those rows to `indexPath/d=<batchId>/`,
    * sub-partitioned BY CELL (`d=N/cell=K/`) so the query path can
    * directory-prune to just the probed cells. Per-batch write cost is
    * O(batch); earlier deltas are immutable; the full index is the
    * union of deltas.
    *
    * Retries are idempotent BY CONSTRUCTION: a batch only ever writes
    * vectors it carries itself (no read of prior state feeds the
    * output), and mode-overwrite replaces the whole `d=<batchId>` dir,
    * so a retried batch rewrites byte-identical content. Duplicate
    * vec_ids ACROSS batches are upstream's dedup problem (the l22
    * index sink), not the index's — both copies are served, as in any
    * real vector store.
    */
  def annIndexForeachBatch(indexPath: String, centroids: DataFrame,
                           idCol: String, vecCol: String)
      : (DataFrame, Long) => Unit = {
    // the index STRUCTURE is fixed for the sink's lifetime, so collect
    // it once here (nCells-bounded) and assign each batch through the
    // fused nearest_cell map expression — the declarative
    // assignCells join+window form multiplies every vector by nCells
    // rows per micro-batch (the sf5 probe measured it dominating the
    // build at 256 cells); NearestCellSpec pins the two paths equal
    val cc = graft.operators.Similarity.collectCentroids(centroids)
    (batch, batchId) =>
      if (!batch.isEmpty) {
        batch.select(col(idCol).as("n_id"),
            col(vecCol).cast("array<double>").as("cv"))
          .withColumn("cn", graft.operators.Similarity.norm("cv"))
          .withColumn("cell", graft.operators.Similarity
            .nearestCellCol(col("cv"), cc))
          // cluster by cell before the dynamic-partition write: without
          // it every scan task writes (and sorts for) up to nCells
          // directories itself — the write, not the assignment, is what
          // dominates the build; one small batch-sized shuffle buys
          // one-file-per-cell-per-batch parallel writes
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$indexPath/d=$batchId")
      }
  }

  /** The full streamed vector index: union of all published deltas,
    * `(n_id, cv, cn, cell)`. Empty frame when no delta exists yet. */
  def annIndex(spark: org.apache.spark.sql.SparkSession,
               indexPath: String): DataFrame =
    readLog(spark, indexPath, LsmStore.ann)

  /** ANN top-k over the streamed index: queries probe their `nProbe`
    * nearest cells against the SAME fixed centroid table, the index
    * scan statically prunes to exactly those cell directories (the
    * probed-cell set is queries×nProbe-bounded, so collecting it
    * driver-side is the one tiny eager job here — it is what turns the
    * join into `PartitionFilters` on the scan, the whole point of the
    * cell-partitioned layout), and exact cosine + the mergeable
    * BoundedTopK ranking finish within the pruned slice. Results equal
    * the batch IVF query path over the same assignments
    * (StreamOpsSpec pins it).
    */
  def annSearchFromIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, queries: DataFrame,
                         idCol: String, vecCol: String,
                         centroids: DataFrame, k: Int,
                         nProbe: Int): DataFrame = {
    import graft.operators.Similarity
    val q = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", Similarity.norm("qv"))
    // collect the probed assignment ONCE (queries×nProbe-bounded — the
    // same eager job that produces the PartitionFilters cell set) and
    // rebuild the broadcast side from the collected rows: joining the
    // original lazy `probed` would re-run the centroid broadcast join +
    // per-query window a second time inside the index join
    val probed = Similarity
      .assignCells(q, "qv", "qn", centroids, "cell", take = nProbe)
    val probedRows = probed.collect()
    val cells = probedRows.map(_.getAs[Long]("cell")).distinct.toSeq
    val probedLocal = spark.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probed.schema)
    val joined = annIndex(spark, indexPath)
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(probedLocal), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        Similarity.dot("qv", "cv") / (col("qn") * col("cn")))
    Similarity.rankTopKByCosine(joined, k)
  }

  /** Streaming IVF-PQ index (the l53 composition as a standing index):
    * like [[annIndexForeachBatch]] but the cell-partitioned delta log
    * stores (n_id, codes) — m SMALL INTEGERS per vector instead of the
    * full-precision array, the 33.7x stored-byte cut measured in
    * SCALE_r12 §20, which at index scale is also the READ cut every
    * probe pays. Assignment is the fused nearest_cell against the
    * sink's fixed centroid table; encoding is the fused pq_encode_all
    * against the sink's fixed PQ model — both map-only, one small
    * cell-clustered shuffle before the partitioned write.
    */
  def annPqIndexForeachBatch(indexPath: String, centroids: DataFrame,
                             model: graft.operators.Pq.Model,
                             idCol: String, vecCol: String)
      : (DataFrame, Long) => Unit = {
    val cc = graft.operators.Similarity.collectCentroids(centroids)
    (batch, batchId) =>
      if (!batch.isEmpty) {
        batch.select(col(idCol).as("n_id"),
            col(vecCol).cast("array<double>").as("cv"))
          .withColumn("cell", graft.operators.Similarity
            .nearestCellCol(col("cv"), cc))
          .withColumn("codes",
            graft.operators.Pq.encodeCol(col("cv"), model))
          .drop("cv")
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$indexPath/d=$batchId")
      }
  }

  /** The streamed code index: union of all published deltas,
    * `(n_id, codes, cell)`. */
  def annPqIndex(spark: org.apache.spark.sql.SparkSession,
                 indexPath: String): DataFrame =
    readLog(spark, indexPath, LsmStore.annPq)

  /** ADC top-k over the streamed code index: probes prune the scan to
    * their cell directories (PartitionFilters, as in
    * [[annSearchFromIndex]]), queries broadcast their ADC lookup
    * tables, every index row scores with m lookups + adds from its
    * codes, and the mergeable BoundedTopK ranks. The scan reads codes
    * only — no full-precision vector is touched anywhere on the probe
    * path; exact re-rank of survivors (Similarity.rerankTopK against
    * the vector store) is the optional final stage. Equals the batch
    * [[graft.operators.Similarity.ivfPqTopK]] over the same corpus,
    * centroids and model (StreamOpsSpec pins it bit for bit).
    */
  def annPqSearchFromIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, queries: DataFrame,
                           idCol: String, vecCol: String,
                           centroids: DataFrame,
                           model: graft.operators.Pq.Model, k: Int,
                           nProbe: Int): DataFrame = {
    import graft.operators.Similarity
    val q = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", Similarity.norm("qv"))
    val probed = Similarity
      .assignCells(q, "qv", "qn", centroids, "cell", take = nProbe)
      .select(col("cell"), col("q_id"),
        call_function("pq_lut", col("qv"), model.flatLit,
          lit(model.dsub), lit(model.ksub)).as("lut"))
    val probedRows = probed.collect()
    val cells = probedRows.map(_.getAs[Long]("cell")).distinct.toSeq
    val probedLocal = spark.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probed.schema)
    val joined = annPqIndex(spark, indexPath)
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(probedLocal), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        call_function("pq_lut_score", col("lut"), col("codes"),
          lit(model.ksub)))
    Similarity.rankTopKByCosine(
        joined.select("q_id", "n_id", "cosine"), k)
      .withColumnRenamed("cosine", "adc_ip")
  }

  /** STREAMING edit-distance dedup index (the PassJoin join as a
    * standing index — the near-dup delta-log shape applied to
    * `levenshtein <= k`): state is three append-only delta logs,
    * `segs/` and `probes/` ((doc, key, first_batch) — the PassJoin
    * segment and probe keys of every indexed doc) and `texts/` (the
    * verification store). A new batch finds
    *
    *  - its shorter-or-equal standing partners: batch PROBES x
    *    standing SEGS (the batch form's direction);
    *  - its LONGER standing partners: batch SEGS x standing PROBES —
    *    the symmetric pigeonhole (a segment of the shorter side also
    *    survives in the longer), where the standing doc's PERSISTED
    *    probe keys are exactly its substrings aimed at partners of the
    *    batch doc's length, so no standing text is rescanned;
    *  - within-batch pairs: batch PROBES x batch SEGS;
    *  - the short tier: batch docs with len <= 2k+1 length-bucket-join
    *    the standing-and-batch shorts;
    *
    * then verifies candidates with the banded threshold levenshtein
    * against the text store and writes (doc_a, doc_b, dist) to
    * `pairsPath/batch=<id>`. Every join involves a batch side, so a
    * pair is emitted exactly once — in the later member's arrival
    * batch — and the cumulative pair log equals the one-shot
    * [[graft.operators.Dedup.editDistanceJoinPass]] over everything
    * seen (StreamOpsSpec pins it). Retries are idempotent: standing
    * reads filter first_batch < batchId and every output dir is
    * overwritten whole. Per-batch state growth: (k+1) segment keys +
    * O(k^2) probe keys + the text row per doc.
    *
    * Cost model (the same honest shape as the near-dup index): the
    * standing SEG and PROBE logs are each SCANNED once per batch
    * (map-side — the batch sides join broadcast-small), no
    * standing-sized shuffle exists anywhere, and everything else is
    * batch-sized. The probe log is the big one (O(k^2) keys/doc), so
    * the per-batch floor grows with corpus KEY VOLUME, not corpus
    * text — SCALE_r12 §21 prices it at a 260k-doc standing corpus.
    */
  def edDistIndexForeachBatch(indexPath: String, pairsPath: String,
                              k: Int, idCol: String, textCol: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import graft.operators.Dedup
      val base = batch.select(col(idCol).cast("long").as("doc"),
          col(textCol).as("txt"), length(col(textCol)).as("len"))
        .cache()
      val bSegs = Dedup.passSegments(base, k).cache()
      // cached: consumed by the within-batch join, the standing-segs
      // join (as the broadcast side) and the probes-log append — three
      // O(k^2)-per-doc explode evaluations otherwise
      val bProbes = Dedup.passProbes(base, k).cache()
      def standing(sub: String): DataFrame =
        readLog(spark, indexPath, LsmStore.edDist, sub)
          .filter(col("first_batch") < batchId)

      def ordered(j: DataFrame): DataFrame = j
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      // Both standing joins BROADCAST the batch side (batch-size
      // bounded: (k+1) seg keys and O(k^2) probe keys per batch doc),
      // so the standing logs are scanned map-side, never shuffled —
      // the near-dup index's bands-over-bucket-scan discipline.
      val within = ordered(
        bProbes.withColumnRenamed("doc", "doc_b")
          .join(bSegs.withColumnRenamed("doc", "doc_a"), Seq("key")))
      val vsShorter = ordered(standing("segs")
        .select(col("doc").as("doc_a"), col("key"))
        .join(broadcast(bProbes.withColumnRenamed("doc", "doc_b")),
          Seq("key")))
      val vsLonger = ordered(standing("probes")
        .select(col("doc").as("doc_b"), col("key"))
        .join(broadcast(bSegs.withColumnRenamed("doc", "doc_a")),
          Seq("key")))

      val allTexts = standing("texts").select("doc", "txt", "len")
        .unionByName(base)
      val bShort = base.filter(col("len") <= 2 * k + 1)
        .withColumn("bkt", floor(col("len") / (k + 1)))
        .select(col("doc"), col("len"),
          explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1))
            .as("bkt"))
      val aShort = allTexts.filter(col("len") <= 2 * k + 1)
        .withColumn("bkt", floor(col("len") / (k + 1)))
      val shortCand = ordered(bShort.as("a")
        .join(aShort.as("b"),
          col("a.bkt") === col("b.bkt") &&
            col("a.doc") =!= col("b.doc") &&
            abs(col("a.len") - col("b.len")) <= k)
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b")))

      val cand = Seq(within, shortCand, vsShorter, vsLonger)
        .reduce(_ unionByName _).distinct()
      val pairs = cand
        .join(allTexts.select(col("doc").as("doc_a"),
          col("txt").as("ta")), Seq("doc_a"))
        .join(allTexts.select(col("doc").as("doc_b"),
          col("txt").as("tb")), Seq("doc_b"))
        .withColumn("dist",
          levenshtein(col("ta"), col("tb"), k).cast("long"))
        .transform(df => graft.operators.Barrier.filterAbove(df,
          col("dist") =!= -1L))
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
          col("dist"))
      pairs.write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")

      bSegs.withColumn("first_batch", lit(batchId))
        .write.mode("overwrite").parquet(s"$indexPath/segs/d=$batchId")
      bProbes.withColumn("first_batch", lit(batchId))
        .write.mode("overwrite").parquet(s"$indexPath/probes/d=$batchId")
      base.withColumn("first_batch", lit(batchId))
        .write.mode("overwrite").parquet(s"$indexPath/texts/d=$batchId")
      bSegs.unpersist(blocking = false)
      bProbes.unpersist(blocking = false)
      base.unpersist(blocking = false)
    }
  }

  /** The quota decision for everything streamed so far: classifies the
    * merged (source, quality) histogram state against `budgetPerSource`
    * and resolves the per-doc kept flags over `corpus` (the
    * materialized stream — e.g. the sink the stream also writes), only
    * consulting doc-level columns where the bucket class alone can't
    * decide (the straddling edge bucket). Equals the one-shot batch
    * [[graft.operators.CorpusAssembly.qualityQuotaSelectHistogram]] on
    * the same corpus — the x18 state+recount split applied to data
    * mixing. (A kept flag is NOT stable batch-to-batch by nature: a
    * later high-quality arrival can push earlier docs over budget —
    * which is why the decision is a view over the state, not an event.)
    */
  def quotaFromState(spark: org.apache.spark.sql.SparkSession,
                     histPath: String, corpus: DataFrame,
                     sourceCol: String, idCol: String, textCol: String,
                     budgetPerSource: Long): DataFrame = {
    val hist = spark.read.parquet(histPath)
      .select(col(sourceCol), col("quality"),
        col("tokens").as("__bucket_tokens"))
    graft.operators.CorpusAssembly.quotaFromHistogram(
      graft.operators.CorpusAssembly
        .scoreDocs(corpus, sourceCol, idCol, textCol),
      hist, sourceCol, idCol, budgetPerSource)
  }

  private def mgBuf(state: DataFrame): graft.functions.MisraGries.Buf = {
    val rows = state.collect()
    graft.functions.MisraGries.Buf(
      rows.filter(!_.isNullAt(0))
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      rows.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L))
  }

  /** The merged stream summary, for inspection/tests. */
  def heavyHittersState(spark: org.apache.spark.sql.SparkSession,
                        statePath: String): graft.functions.MisraGries.Buf =
    mgBuf(spark.read.parquet(statePath))

  /** The exact heavy-hitter answer for everything streamed so far:
    * recounts the state's <= capacity candidates over `corpus` (the
    * materialized stream — e.g. the sink the stream also writes) with
    * x18's exact pass. Equals the one-shot batch
    * [[graft.operators.TextAnalysis.heavyHitters]] on the same corpus
    * whenever phi >= 1/(capacity+1), by the superset guarantee.
    */
  def heavyHittersFromState(spark: org.apache.spark.sql.SparkSession,
                            statePath: String, corpus: DataFrame,
                            textCol: String, phi: Double): DataFrame = {
    val buf = mgBuf(spark.read.parquet(statePath))
    graft.operators.TextAnalysis.recountHeavy(corpus, textCol,
      buf.counts.keys.toSeq.sorted, buf.n, phi)
  }

  /** Quantile estimates from a merged histogram state: x12p's bucket
    * pick (smallest bucket whose cumulative count reaches q*N) over the
    * tiny bucket table — same estimate the batch query would produce
    * over the concatenation of everything streamed so far.
    */
  def histogramQuantiles(spark: org.apache.spark.sql.SparkSession,
                         histPath: String, bucketWidth: Double,
                         quantiles: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = spark.read.parquet(histPath)
    val cum = hist.withColumn("cum",
      sum("n").over(Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val total = hist.agg(sum("n").cast("long").as("nt"))
    cum.crossJoin(total)
      .select(col("b"), col("cum"), col("nt"),
        explode(array(quantiles.map(lit(_)): _*)).as("q"))
      .filter(col("cum").cast("double") >= col("q") * col("nt"))
      .groupBy("q")
      .agg(min("b").cast("long").as("bucket"),
        max("nt").as("n_total"))
      .select(col("q"), col("bucket"),
        (col("bucket").cast("double") * lit(bucketWidth)).as("est_lo"),
        col("n_total"))
  }

  /** Late-data accounting, as DATA (the audit philosophy applied to
    * streams): Structured Streaming silently DROPS rows that arrive
    * older than the watermark — the only trace is the per-batch
    * `numRowsDroppedByWatermark` counter inside StreamingQueryProgress.
    * This listener collects those counters so a pipeline can query its
    * own late-data losses as a DataFrame (join it against the output,
    * alert on it, load it into the warehouse) instead of losing rows
    * invisibly.
    *
    * Usage: `val m = new LateDataMonitor(spark).attach()` before
    * starting queries; `m.metrics` any time after. Listener delivery is
    * asynchronous — call [[org.apache.spark.sql.streaming.StreamingQueryManager]]
    * progress-dependent assertions after the bus has drained (tests
    * retry briefly).
    */
  final class LateDataMonitor(s: org.apache.spark.sql.SparkSession)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val drops =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val dropped =
        e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
      if (dropped > 0)
        drops.add((Option(e.progress.name)
          .getOrElse(e.progress.id.toString), e.progress.batchId, dropped))
    }

    def attach(): this.type = { s.streams.addListener(this); this }
    def detach(): Unit = s.streams.removeListener(this)

    /** One row per (query, micro-batch) that dropped late rows. */
    def metrics: DataFrame = {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      drops.asScala.toSeq
        .toDF("query", "batch_id", "rows_dropped_late")
    }
  }

  /** Input/state/output records for the custom-state operator. */
  final case class KeyedEvent(user_id: Long, ts_us: Long, value: Double)
  final case class UserState(nEvents: Long, valueSum: Double, lastTs: Long)
  final case class UserUpdate(user_id: Long, nEvents: Long,
                              valueSum: Double, lastTs: Long)

  /** Custom keyed state via mapGroupsWithState: a running per-user profile
    * (count, value sum, last event time) maintained across micro-batches —
    * the shape every "aggregate that windows can't express" streaming op
    * takes (processing-time timeout configurable by the caller's trigger).
    */
  def runningUserProfile(events: Dataset[KeyedEvent])
      : Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserUpdate](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[KeyedEvent],
         state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, 0L))
          val updated = batch.foldLeft(prev) { (st, e) =>
            UserState(st.nEvents + 1, st.valueSum + e.value,
              math.max(st.lastTs, e.ts_us))
          }
          state.update(updated)
          UserUpdate(userId, updated.nEvents, updated.valueSum,
            updated.lastTs)
      }
  }

  /** Output mode required by [[runningUserProfile]] sinks. */
  val runningProfileOutputMode: OutputMode = OutputMode.Update()

  final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp,
                              value: Double)
  final case class SessionState(start: Long, lastTs: Long, nEvents: Long,
                                valueSum: Double)
  final case class ClosedSession(user_id: Long, startMs: Long, endMs: Long,
                                 nEvents: Long, valueSum: Double)

  /** Streaming sessionization via flatMapGroupsWithState + EVENT-TIME
    * timeout: a user's session accumulates while events keep arriving
    * within `gapMs` of each other; once the watermark passes
    * lastEvent + gap, the state times out and the CLOSED session is
    * emitted (the batch equivalent is x1_sessionize's gap windows).
    * Requires a watermark on `ts` upstream and Append output mode.
    */
  def sessionize(events: Dataset[TimedEvent], gapMs: Long)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[TimedEvent],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, st.start, st.lastTs,
              st.nEvents, st.valueSum))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(st) if t - st.lastTs <= gapMs =>
                  cur = Some(SessionState(st.start, math.max(st.lastTs, t),
                    st.nEvents + 1, st.valueSum + e.value))
                case Some(st) =>
                  closed ::= ClosedSession(userId, st.start, st.lastTs,
                    st.nEvents, st.valueSum)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.lastTs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
