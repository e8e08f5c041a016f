package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer, trained and applied AS DATAFLOW — the
  * real-merge-table upgrade of the `l9` "BPE-ish" token count (reference
  * tokenizes with whitespace heuristics only; every budget operator
  * downstream — packing, quota, mixing — keys on token counts, so the
  * counts should come from a trained tokenizer).
  *
  * Representation: a word's symbol sequence is ONE delimited string with
  * DOUBLE separators, `||a||b||c||` (symbols never contain `|` — the
  * alphabet is `[a-z]+`), and applying the merge (a,b)->ab is the literal
  * string replacement `|a||b|` -> `|ab|`. Plain `replace` scans
  * left-to-right non-overlapping, and because every symbol boundary
  * carries TWO separators — each match consuming exactly one from each
  * end, leaving the other for the neighboring match — this equals greedy
  * single-pass BPE application even on runs of the same pair (merging
  * (a,a) over `||a||a||a||a||` yields `||aa||aa||`, where a single-sep
  * encoding would stall after the first merge because adjacent pattern
  * occurrences share the boundary character; BpeSpec pins the run cases
  * against a naive reference implementation). The leading `|a` guard
  * means a match can never start mid-symbol, the trailing `b|` guard
  * that it can never end mid-symbol, and the `||||` seam between
  * concatenated words blocks cross-word merges. That one representation
  * choice makes both training and encoding exactly SQL-expressible (the
  * DuckDB oracle below is the same algorithm with the N iterations
  * unrolled into CTEs), all-integer, and engine-portable.
  *
  * Training (classic Sennrich et al. 2016 merge learning, arXiv:1508.07909):
  *  - ONE corpus pass builds the distinct-word count table — the only
  *    corpus-sized job; everything after runs on the vocabulary, which is
  *    heavy-tail-bounded (~1e8 rows at 100 TB, not corpus-sized).
  *  - Each of the `nMerges` bounded driver iterations (the keeper-
  *    resolution loop discipline) is: adjacent-pair counts weighted by
  *    word frequency (map-side-combinable groupBy on the vocab table),
  *    argmax with a TOTAL tie order (count desc, then pair lexicographic —
  *    bit-deterministic under any partitioning), then one `replace` pass
  *    re-materializing the vocab. Per-iteration tables are cached and the
  *    predecessor released once the successor is counted (the Lloyd-
  *    refinement cache discipline).
  *
  * Encoding is MAP-ONLY: the learned merges are baked into a chain of
  * `nMerges` literal `replace` calls (collected to the driver — bounded
  * by `nMerges` rows — and inlined, so the whole encode is one codegen'd
  * projection; no join, no UDF, no shuffle until the caller aggregates).
  * Applying merges in learned rank order is the reference BPE encode.
  *
  * Reference behavior mirrored: `scripts/text_fe.py:31-44` counts tokens
  * by whitespace split only; this operator is the trained-tokenizer
  * extension the survey's LLM-pipeline section calls for.
  */
object Bpe {

  /** Delimiter; never occurs inside a symbol (alphabet is `[a-z]+`). */
  val Sep = "|"

  final case class Merge(rank: Int, a: String, b: String) {
    def merged: String = a + b
  }

  /** `word` -> `||w||o||r||d||` (single-char symbols, double-delimited). */
  private[operators] def delimitSql(wordExpr: String): String =
    s"'$Sep$Sep' || regexp_replace($wordExpr, '(.)', '$$1$Sep$Sep')"

  /** Merge (a,b): the search / replacement literals. */
  private[operators] def searchLit(a: String, b: String): String = s"$Sep$a$Sep$Sep$b$Sep"
  private[operators] def replaceLit(a: String, b: String): String = s"$Sep$a$b$Sep"

  /** The whole-DOC delimited symbol stream, equal by construction to
    * `array_join(transform(words, w -> delimit(w)), '')` but built with
    * THREE whole-string passes instead of an interpreted
    * `regexp_replace` lambda PER WORD (higher-order lambdas evaluate
    * interpreted per element — ~50M regex-engine entries at sf5, the
    * measured hot spot of every encode query): non-letter runs collapse
    * to one  marker (word seams), stray markers at the ends trim
    * off, every letter gains its `||` suffix, markers become the `||||`
    * seam, and the leading `||` completes the frame. The no-letters doc
    * maps to '' (matching the empty-words array_join), guarded through
    * a singleton-transform binding so the trimmed string is computed
    * once, not twice.
    */
  private[operators] def docSeqSql(textCol: String): String = {
    val m = ""
    s"""element_at(transform(array(
          btrim(regexp_replace(lower($textCol), '[^a-z]+', '$m'), '$m')),
        t -> IF(t = '', '', concat('$Sep$Sep', replace(
          regexp_replace(t, '([a-z])', '$$1$Sep$Sep'),
          '$m', '$Sep$Sep')))), 1)"""
  }

  /** Distinct-word frequency table of the corpus: (word, cnt, seq). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(expr(TextAnalysis.wordsSql(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("seq", expr(delimitSql("word")))

  /** Weighted adjacent-pair counts of the current vocab state. */
  private[operators] def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("cnt"),
        expr(s"filter(split(seq, '[$Sep]'), x -> x != '')").as("syms"))
      .select(col("cnt"), explode(expr(
        """zip_with(slice(syms, 1, size(syms) - 1),
                    slice(syms, 2, size(syms) - 1),
                    (x, y) -> struct(x AS a, y AS b))""")).as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum("cnt").as("total"))

  /** Learn the top-`nMerges` merges from `docs`. Deterministic: integer
    * counts, total argmax order, left-to-right replace — the same merge
    * table on any engine, partitioning, or rerun (BpeSpec pins it).
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Seq[Merge] =
    trainCore(wordCounts(docs, textCol), nMerges)

  /** [[train]] from a precomputed `(word, cnt)` frequency table — the
    * streaming standing-state entry ([[graft.streaming.StreamOps]]
    * maintains the word counts at ingest; merges fold from the state
    * without a corpus re-scan, the unigram `trainFromWords`
    * discipline). */
  def trainFromWords(words: DataFrame, nMerges: Int): Seq[Merge] =
    trainCore(words.select(col("cnt"),
      expr(delimitSql("word")).as("seq")), nMerges)

  private def trainCore(wordSeqs: DataFrame, nMerges: Int): Seq[Merge] =
    trainCoreWith(wordSeqs, nMerges)(cur =>
      pairCounts(cur)
        .orderBy(col("total").desc, col("a"), col("b"))
        .limit(1).collect().headOption
        .map(r => (r.getString(0), r.getString(1))))

  /** THE greedy agglomerative merge loop, shared by every merge-scored
    * tokenizer family (BPE's frequency argmax here, [[WordPiece]]'s
    * likelihood argmax) — `argmax` inspects the current (cnt, seq)
    * vocab state and returns the pair to adopt, or None when every
    * word is fully merged.
    *
    * ONE materialized table (the corpus pass); iterations chain their
    * replace()s LAZILY on top of it. A cache-per-iteration +
    * unpersist-previous chain here is a trap: unpersisting the parent
    * invalidates the dependent cache entry (its plan embeds the
    * parent's InMemoryRelation), so every iteration silently re-runs
    * the corpus pass — measured 4.8 s/iteration on a 31-row vocab.
    * Re-applying <= nMerges cheap string replaces per argmax job over
    * the cached vocab is orders cheaper; lineage is snapshotted with
    * an (independent, non-cascading) localCheckpoint every
    * `snapshotEvery` merges to keep the chain short at large N.
    */
  private[operators] def trainCoreWith(wordSeqs: DataFrame, nMerges: Int)(
      argmax: DataFrame => Option[(String, String)]): Seq[Merge] = {
    val merges = Vector.newBuilder[Merge]
    val base = wordSeqs.cache()
    base.count()
    val spark = base.sparkSession
    import spark.implicits._
    // Round 16: the adopted merges enter each round's vocab state as
    // DATA (a broadcast one-row array of (search, replace) pairs,
    // folded left-to-right — exactly the old chained replace()s'
    // order), not as a literal replace-chain in the plan. The literal
    // chain grew the plan per round (O(N^2) total analysis) and its
    // changing constants forced a fresh whole-stage-codegen compile
    // per argmax job; the fold's plan is byte-identical across rounds
    // (compile cache hits) and the snapshotEvery localCheckpoint jobs
    // that bounded the chain are unnecessary and gone. The fold lambda
    // is an interpreted HOF, but it runs over the ≤|vocab|-row word
    // table, never the corpus — the l31 weights-as-data discipline
    // applied to the merge loop.
    var adopted = Vector.empty[(String, String)]
    def cur: DataFrame =
      if (adopted.isEmpty) base.select(col("cnt"), col("seq"))
      else base.crossJoin(broadcast(Seq(Tuple1(adopted)).toDF("__m")))
        .select(col("cnt"), expr(
          "aggregate(__m, seq, (s, mm) -> replace(s, mm._1, mm._2))")
          .as("seq"))
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      argmax(cur) match {
        case None => exhausted = true // every word fully merged
        case Some((a, b)) =>
          merges += Merge(r, a, b)
          adopted = adopted :+ ((searchLit(a, b), replaceLit(a, b)))
          r += 1
      }
    }
    base.unpersist(blocking = false)
    merges.result()
  }

  /** BATCHED merge learning — the production-vocab scale path. [[train]]
    * is exact Sennrich order but pays one Spark job + driver round-trip
    * PER MERGE: measured 1.96 merges/s on the sf5 text-diverse corpus
    * (SCALE_r12.md), i.e. a real 32k-merge vocabulary is ~4.5 h of pure
    * scheduler floor regardless of cluster size. Here each driver round
    * counts pairs ONCE and adopts up to `batch` merges from the frozen
    * snapshot, walking candidates in exact argmax order (count desc,
    * pair lexicographic) and keeping a candidate only if it is SYMBOL-
    * DISJOINT from every merge already adopted this round — neither of
    * its symbols appears in an earlier adoption's inputs or output, nor
    * its output in theirs. Disjointness is what keeps the batch
    * semantically clean: applying (a,b)→ab cannot create, destroy, or
    * overlap an occurrence of a disjoint (c,d), so the adopted pairs'
    * counts are all exact at adoption time and the `batch` replaces
    * commute (applied in rank order regardless).
    *
    * DOCUMENTED DEVIATION from exact Sennrich order: a pair created by
    * an earlier merge of the SAME round (e.g. (x, ab) after (a,b)) can
    * only be adopted next round, so between rounds the learned order
    * can differ from [[train]]'s whenever such a pair would have
    * out-counted a frozen-snapshot candidate. `batch = 1` is exactly
    * [[train]] (BpeSpec pins this on real corpora), ranks stay
    * deterministic, and every adopted pair still carries its true count
    * at adoption time — the standard block-greedy trade.
    */
  def trainBatched(docs: DataFrame, textCol: String, nMerges: Int,
                   batch: Int): Seq[Merge] =
    trainBatchedWith(wordCounts(docs, textCol), nMerges, batch)((cur, k) =>
      pairCounts(cur)
        .orderBy(col("total").desc, col("a"), col("b"))
        .limit(k).collect()
        .map(row => (row.getString(0), row.getString(1))).toSeq)

  /** THE block-greedy loop shared by the merge-scored tokenizer
    * families (BPE's frequency order here, [[WordPiece.trainBatched]]'s
    * likelihood order): `topK(cur, k)` returns the round's top-k
    * candidate pairs in that family's exact argmax order; the loop
    * adopts up to `batch` symbol-disjoint candidates per round. The
    * disjointness argument is family-independent: applying (a,b)→ab
    * cannot create, destroy, or overlap occurrences of a symbol-
    * disjoint (c,d), so a disjoint candidate's PAIR count and both its
    * SYMBOL counts — hence both families' scores — are still exact at
    * adoption time, and the batch's replaces commute.
    */
  private[operators] def trainBatchedWith(
      base0: DataFrame, nMerges: Int, batch: Int)(
      topK: (DataFrame, Int) => Seq[(String, String)]): Seq[Merge] = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val merges = Vector.newBuilder[Merge]
    val base = base0.cache()
    base.count()
    val spark = base.sparkSession
    import spark.implicits._
    // merges-as-data fold — same rationale as trainCoreWith
    var applied = Vector.empty[(String, String)]
    def cur: DataFrame =
      if (applied.isEmpty) base.select(col("cnt"), col("seq"))
      else base.crossJoin(broadcast(Seq(Tuple1(applied)).toDF("__m")))
        .select(col("cnt"), expr(
          "aggregate(__m, seq, (s, mm) -> replace(s, mm._1, mm._2))")
          .as("seq"))
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val want = math.min(batch, nMerges - r + 1)
      // over-fetch: disjointness rejects some candidates, and a
      // rejected candidate stays available next round with a count at
      // least as accurate. 4x covers heavy symbol-sharing rounds; a
      // short fetch just means a smaller adopted batch, never a wrong
      // one.
      val top = topK(cur, 4 * want)
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set[String]()
        val adopted = top.iterator
          .filter { case (a, b) =>
            val ok = !used(a) && !used(b) && !used(a + b)
            if (ok) { used += a; used += b; used += (a + b) }
            ok
          }
          .take(want).toVector
        adopted.foreach { case (a, b) =>
          merges += Merge(r, a, b)
          applied = applied :+ ((searchLit(a, b), replaceLit(a, b)))
          r += 1
        }
      }
    }
    base.unpersist(blocking = false)
    merges.result()
  }

  /** `docs` with `n_words` and `bpe_tokens` columns: the document's
    * token count under the trained merges. One codegen'd projection —
    * the per-doc symbol stream is the concatenation of its delimited
    * words (the `||` seam blocks cross-word merges), each merge is one
    * literal `replace` in rank order, and the final token count is
    * (number of `|` separators) − (number of words), all integer.
    */
  def encodeCounts(docs: DataFrame, textCol: String,
                   merges: Seq[Merge]): DataFrame = {
    val seq0 = docSeqSql(textCol)
    val seqN = merges.sortBy(_.rank).foldLeft(seq0) { (s, m) =>
      s"replace($s, '${searchLit(m.a, m.b)}', '${replaceLit(m.a, m.b)}')"
    }
    // a k-symbol word contributes 2(k+1) separators, so over a doc the
    // symbol total is nSeps/2 - nWords (each merge removes exactly 2)
    docs
      .withColumn("words", expr(TextAnalysis.wordsSql(textCol)))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("__seq", expr(seqN))
      .withColumn("bpe_tokens", expr(
        s"""CAST((length(__seq) - length(replace(__seq, '$Sep', '')))
            DIV 2 - n_words AS BIGINT)"""))
      .drop("words", "__seq")
  }

  /** Deterministic vocabulary of a trained tokenizer: the training
    * alphabet (distinct `[a-z]` chars of the TRAIN corpus, sorted — ids
    * `0..|A|-1`) followed by the merged symbols in learned rank order
    * (id `|A| + rank - 1`) — the id assignment every BPE implementation
    * ships (alphabet first, then merge order). Two merges can produce
    * the same surface string (e.g. (a,bc) and (ab,c) both yield `abc`);
    * for surface-token lookup the FIRST-learned id wins (`min(id)`), so
    * the table is a function of token. Everything is lazy and bounded:
    * the alphabet is ≤26 rows by the pre-tokenizer's `[a-z]+` regex and
    * merges are ≤`nMerges` rows, so the single-partition `row_number`
    * window sits on a frame bounded BY CONSTRUCTION (the
    * `orderedIdBounded` discipline, Gold.scala), never on corpus data.
    */
  def vocabTable(trainDocs: DataFrame, textCol: String,
                 merges: Seq[Merge]): DataFrame = {
    val spark = trainDocs.sparkSession
    import spark.implicits._
    // per-doc array_distinct BEFORE the explode: ≤26 rows per doc reach
    // the distinct shuffle instead of one row per CHARACTER of the
    // corpus (a ~25x row cut the sf5 probe traced the vocab build's
    // straggler task to)
    val alpha = trainDocs
      .select(explode(expr(
        s"array_distinct(regexp_extract_all(lower($textCol), '[a-z]', 0))"))
        .as("token"))
      .distinct()
      .select(lit(0).as("kind"), col("token").as("ord"), col("token"))
    val ms = merges.sortBy(_.rank)
      .map(m => (1, f"${m.rank}%06d", m.merged))
      .toDF("kind", "ord", "token")
    val w = org.apache.spark.sql.expressions.Window.orderBy("kind", "ord")
    alpha.union(ms)
      .withColumn("id", (row_number().over(w) - 1).cast("long"))
      .groupBy("token").agg(min("id").as("token_id"))
  }

  /** The loader hand-off: `(idCol, pos, token_id)` — [[tokens]] joined
    * against the broadcast [[vocabTable]]. Surface symbols absent from
    * the vocabulary (a held-out doc's chars the train split never saw)
    * map to the UNK id `-1` instead of dropping rows — positions stay
    * dense. Broadcast hash join, never a shuffle of the token stream:
    * the vocab is alphabet+merges-bounded (~vocab-size rows at 100 TB,
    * driver/executor-memory-trivial), so this is the scale path; at a
    * 50k-merge production vocab a literal-map projection would blow the
    * codegen method limit, which is why it is a join and not `replace`
    * chaining like the encode.
    */
  def tokenIds(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[Merge], vocab: DataFrame): DataFrame =
    tokens(docs, idCol, textCol, merges)
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("token_id"), lit(-1L)).as("token_id"))

  /** The actual token STREAM of each doc under the trained merges:
    * (idCol, pos, token) rows, pos 1-based over the doc's concatenated
    * word stream. Same map-only replace chain as [[encodeCounts]], then
    * one posexplode — the form a loader hands to a vocab lookup, and a
    * stronger cross-engine pin than counts (l30t hashes every single
    * emitted token).
    */
  def tokens(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val seq0 = docSeqSql(textCol)
    val seqN = merges.sortBy(_.rank).foldLeft(seq0) { (s, m) =>
      s"replace($s, '${searchLit(m.a, m.b)}', '${replaceLit(m.a, m.b)}')"
    }
    docs
      .select(col(idCol),
        expr(s"filter(split($seqN, '[$Sep]'), x -> x != '')").as("__toks"))
      .select(col(idCol), posexplode(col("__toks")).as(Seq("pos", "token")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("token"))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle generation: the SAME algorithm with the training loop
  // unrolled into CTEs (w0 -> p1 -> m1 -> w1 -> ... -> mN), so the
  // driver's cross-engine hash compare covers the trained merge table
  // and the encoded counts end to end.
  // ---------------------------------------------------------------------

  /** CTE chain `tr, wc, w0, p1, m1, w1, ..., pN, mN` (no trailing comma).
    * `trainFilterSql` is the train-split predicate over `documents`.
    * Every chained CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    * since each `w{k}` references `w{k-1}` (directly and through `p{k}`),
    * inlining would expand the documents scan 2^N times. (stripMargin
    * uses `!` as the margin char here because the BPE delimiter IS `|`.)
    */
  def oracleTrainCtes(textCol: String, trainFilterSql: String,
                      nMerges: Int): String = {
    val head =
      s"""tr AS (SELECT $textCol AS t FROM documents
         !  WHERE $trainFilterSql),
         !wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         !  FROM (SELECT unnest(${TextAnalysis.wordsDuckSql("t")}) AS word
         !        FROM tr)
         !  GROUP BY word),
         !w0 AS MATERIALIZED (SELECT cnt,
         !  '$Sep$Sep' || regexp_replace(word, '(.)', '\\1$Sep$Sep', 'g')
         !  AS seq FROM wc)""".stripMargin('!')
    val iters = (1 to nMerges).map { k =>
      s"""p$k AS (SELECT pr.a AS a, pr.b AS b, sum(cnt) AS total FROM
         !  (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         !     i -> struct_pack(a := syms[i], b := syms[i+1]))) AS pr FROM
         !   (SELECT cnt, list_filter(string_split(seq, '$Sep'),
         !      x -> x <> '') AS syms FROM w${k - 1}))
         !  GROUP BY 1, 2),
         !m$k AS MATERIALIZED (SELECT CAST($k AS BIGINT) AS rank, a, b
         !  FROM p$k ORDER BY total DESC, a, b LIMIT 1),
         !w$k AS MATERIALIZED (SELECT cnt, replace(seq,
         !  '$Sep' || m.a || '$Sep$Sep' || m.b || '$Sep',
         !  '$Sep' || m.a || m.b || '$Sep') AS seq
         !  FROM w${k - 1}, m$k m)""".stripMargin('!')
    }
    (head +: iters).mkString(",\n")
  }

  /** Full oracle for the merge-table query: (rank, a, b, merged). */
  def oracleTrainSql(textCol: String, trainFilterSql: String,
                     nMerges: Int): String = {
    val union = (1 to nMerges)
      .map(k => s"SELECT rank, a, b, a || b AS merged FROM m$k")
      .mkString("\nUNION ALL ")
    s"WITH ${oracleTrainCtes(textCol, trainFilterSql, nMerges)}\n$union"
  }

  /** DuckDB replay of [[trainBatched]]: per round, pair counts over the
    * round's vocab snapshot, candidates in exact argmax order (count
    * desc, a, b — the 4×batch over-fetch mirrored), a RECURSIVE-CTE
    * greedy walk adopting symbol-disjoint pairs (neither symbol nor the
    * merged surface may have appeared in an earlier adoption of the
    * round — the same `used` set the Scala side keeps), cumulative
    * ranks across rounds, and the round's ≤`batch` replaces applied as
    * `batch` unrolled slots guarded by a never-occurring sentinel
    * search (symbols are `[a-z]+`, so `~i~` cannot match) for rounds
    * that adopt fewer. The engines must land on the identical
    * (rank, a, b) table.
    *
    * Round shape: conflict rejections make adoption counts corpus-
    * dependent (the sf0.01 gate corpus adopts 5/6/4/1 across four
    * rounds for a 16-merge budget), so the replay unrolls nMerges
    * rounds — the worst case, since an active round adopts at least
    * its first candidate — with each round's quota computed IN SQL as
    * `least(batch, nMerges - merges_so_far)`, exactly the Scala
    * side's `want`. Exhausted rounds (quota 0, or an exhausted pair
    * stream) adopt nothing and pass the vocab through unchanged.
    */
  def oracleTrainBatchedSql(textCol: String, trainFilterSql: String,
                            nMerges: Int, batch: Int): String = {
    val rounds = nMerges
    val head =
      s"""tr AS (SELECT $textCol AS t FROM documents
         !  WHERE $trainFilterSql),
         !wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         !  FROM (SELECT unnest(${TextAnalysis.wordsDuckSql("t")}) AS word
         !        FROM tr)
         !  GROUP BY word),
         !b0 AS MATERIALIZED (SELECT cnt,
         !  '$Sep$Sep' || regexp_replace(word, '(.)', '\\1$Sep$Sep', 'g')
         !  AS seq FROM wc),
         !ms0 AS (SELECT CAST(NULL AS BIGINT) AS rank,
         !  CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b
         !  WHERE false)""".stripMargin('!')
    val iters = (1 to rounds).map { k =>
      // slot i of the unrolled replace chain: the i-th adoption's
      // search/replace literals, or an unmatchable sentinel
      val replaced = (1 to batch).foldLeft("seq") { (acc, i) =>
        val m = s"pk$k.picked[$i]"
        s"""replace($acc,
           !  CASE WHEN len(pk$k.picked) >= $i
           !    THEN '$Sep' || $m.a || '$Sep$Sep' || $m.b || '$Sep'
           !    ELSE '~$i~' END,
           !  CASE WHEN len(pk$k.picked) >= $i
           !    THEN '$Sep' || $m.a || $m.b || '$Sep'
           !    ELSE '' END)""".stripMargin('!')
      }
      s"""wt$k AS (SELECT least($batch,
         !  $nMerges - (SELECT count(*) FROM ms${k - 1})) AS w),
         !pp$k AS (SELECT pr.a AS a, pr.b AS b, sum(cnt) AS total FROM
         !  (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         !     i -> struct_pack(a := syms[i], b := syms[i+1]))) AS pr FROM
         !   (SELECT cnt, list_filter(string_split(seq, '$Sep'),
         !      x -> x <> '') AS syms FROM b${k - 1}))
         !  GROUP BY 1, 2),
         !cand$k AS (SELECT a, b, row_number()
         !    OVER (ORDER BY total DESC, a, b) AS rn
         !  FROM pp$k QUALIFY rn <= 4 * (SELECT w FROM wt$k)),
         !sel$k AS (
         !  SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS used,
         !    CAST([] AS STRUCT(a VARCHAR, b VARCHAR)[]) AS picked
         !  UNION ALL
         !  SELECT q.rn,
         !    CASE WHEN q.ok THEN q.used || [q.a, q.b, q.a || q.b]
         !         ELSE q.used END,
         !    CASE WHEN q.ok THEN list_append(q.picked,
         !           struct_pack(a := q.a, b := q.b))
         !         ELSE q.picked END
         !  FROM (
         !    SELECT c.rn, c.a, c.b, s.used, s.picked,
         !      (len(s.picked) < (SELECT w FROM wt$k)
         !       AND NOT list_contains(s.used, c.a)
         !       AND NOT list_contains(s.used, c.b)
         !       AND NOT list_contains(s.used, c.a || c.b)) AS ok
         !    FROM sel$k s JOIN cand$k c ON c.rn = s.rn + 1) q),
         !pk$k AS MATERIALIZED (SELECT picked FROM sel$k
         !  ORDER BY rn DESC LIMIT 1),
         !ms$k AS MATERIALIZED (SELECT * FROM ms${k - 1}
         !  UNION ALL
         !  SELECT CAST((SELECT count(*) FROM ms${k - 1}) + u.i
         !      AS BIGINT) AS rank,
         !    u.p.a AS a, u.p.b AS b
         !  FROM (SELECT unnest(list_transform(
         !      range(1, len(picked) + 1),
         !      i -> struct_pack(i := i, p := picked[i]))) AS u
         !    FROM pk$k)),
         !b$k AS MATERIALIZED (SELECT cnt, $replaced AS seq
         !  FROM b${k - 1}, pk$k)""".stripMargin('!')
    }
    s"""WITH RECURSIVE ${(head +: iters).mkString(",\n")}
       !SELECT rank, a, b, a || b AS merged FROM ms$rounds"""
      .stripMargin('!')
  }

  /** CTE chain `t0, t1, ..., tN, stream` — the encoded token stream of
    * the `docFilterSql` docs as a reusable CTE (`stream(doc_id, pos,
    * token)`, pos 1-based). Assumes [[oracleTrainCtes]] precede it.
    */
  private def oracleStreamCtes(textCol: String, docFilterSql: String,
                               nMerges: Int): String = {
    val encChain = (1 to nMerges).map { k =>
      s"""t$k AS MATERIALIZED (SELECT doc_id, replace(seq,
         !  '$Sep' || m.a || '$Sep$Sep' || m.b || '$Sep',
         !  '$Sep' || m.a || m.b || '$Sep') AS seq
         !  FROM t${k - 1}, m$k m)""".stripMargin('!')
    }.mkString(",\n")
    s"""t0 AS (SELECT doc_id,
       !  coalesce(list_aggregate(list_transform(
       !    ${TextAnalysis.wordsDuckSql(textCol)}, w ->
       !    '$Sep$Sep' || regexp_replace(w, '(.)', '\\1$Sep$Sep', 'g')),
       !    'string_agg', ''), '') AS seq
       !  FROM documents WHERE $docFilterSql),
       !$encChain,
       !stream AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
       !    u.tok AS token
       !  FROM (SELECT doc_id, unnest(list_transform(
       !      range(1, len(tk) + 1),
       !      i -> struct_pack(pos := i, tok := tk[i]))) AS u
       !    FROM (SELECT doc_id, list_filter(string_split(seq, '$Sep'),
       !        x -> x <> '') AS tk FROM t$nMerges)))""".stripMargin('!')
  }

  /** Full oracle for the token-stream query over `docFilterSql` docs:
    * (doc_id, pos, token), pos 1-based.
    */
  def oracleTokensSql(textCol: String, trainFilterSql: String,
                      docFilterSql: String, nMerges: Int): String =
    s"""WITH ${oracleTrainCtes(textCol, trainFilterSql, nMerges)},
       !${oracleStreamCtes(textCol, docFilterSql, nMerges)}
       !SELECT doc_id, pos, token FROM stream""".stripMargin('!')

  /** Full oracle for the token-ID stream: [[oracleTokensSql]]'s stream
    * left-joined against the deterministic vocabulary (alphabet chars
    * sorted, then merges in rank order; surface collisions resolve to
    * the first-learned id; unseen symbols -> -1), mirroring
    * [[vocabTable]]/[[tokenIds]] exactly.
    */
  def oracleTokenIdsSql(textCol: String, trainFilterSql: String,
                        docFilterSql: String, nMerges: Int): String = {
    val mAll = (1 to nMerges)
      .map(k => s"SELECT rank, a || b AS token FROM m$k")
      .mkString(" UNION ALL ")
    s"""WITH ${oracleTrainCtes(textCol, trainFilterSql, nMerges)},
       !${oracleStreamCtes(textCol, docFilterSql, nMerges)},
       !alpha AS (SELECT DISTINCT
       !    unnest(regexp_extract_all(lower(t), '[a-z]')) AS token FROM tr),
       !vocab0 AS (SELECT 0 AS kind, token AS ord, token FROM alpha
       !  UNION ALL
       !  SELECT 1 AS kind, printf('%06d', rank) AS ord, token
       !  FROM ($mAll)),
       !vocabr AS (SELECT token,
       !    row_number() OVER (ORDER BY kind, ord) - 1 AS id FROM vocab0),
       !vocab AS (SELECT token, CAST(min(id) AS BIGINT) AS token_id
       !  FROM vocabr GROUP BY token)
       !SELECT s.doc_id, s.pos, coalesce(v.token_id, -1) AS token_id
       !FROM stream s LEFT JOIN vocab v ON s.token = v.token"""
      .stripMargin('!')
  }

  /** Full oracle for the encode query: per (lang, split) doc and BPE
    * token totals over ALL documents (train AND held-out splits),
    * `splitSql` being the engine-portable split-assign CASE expression.
    */
  def oracleEncodeSql(textCol: String, trainFilterSql: String,
                      splitSql: String, nMerges: Int): String = {
    val encChain = (1 to nMerges).map { k =>
      s"""e$k AS MATERIALIZED (SELECT lang, split, n_words, replace(seq,
         !  '$Sep' || m.a || '$Sep$Sep' || m.b || '$Sep',
         !  '$Sep' || m.a || m.b || '$Sep') AS seq
         !  FROM e${k - 1}, m$k m)""".stripMargin('!')
    }.mkString(",\n")
    s"""WITH ${oracleTrainCtes(textCol, trainFilterSql, nMerges)},
       !e0 AS MATERIALIZED (SELECT lang, $splitSql AS split,
       !  CAST(len(words) AS BIGINT) AS n_words,
       !  coalesce(list_aggregate(list_transform(words, w ->
       !    '$Sep$Sep' || regexp_replace(w, '(.)', '\\1$Sep$Sep', 'g')),
       !    'string_agg', ''), '') AS seq FROM
       !  (SELECT lang, doc_id,
       !     ${TextAnalysis.wordsDuckSql(textCol)} AS words
       !   FROM documents)),
       !$encChain
       !SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
       !  CAST(sum(n_words) AS BIGINT) AS total_words,
       !  CAST(sum((length(seq) - length(replace(seq, '$Sep', '')))
       !    // 2 - n_words) AS BIGINT) AS bpe_total
       !FROM e$nMerges GROUP BY lang, split""".stripMargin('!')
  }
}
