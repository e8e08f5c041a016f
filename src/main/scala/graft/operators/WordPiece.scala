package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (Schuster & Nakajima 2012, "Japanese and Korean
  * voice search"; the BERT tokenizer family — Devlin et al. 2019): the
  * third tokenizer family next to BPE ([[Bpe]], frequency-scored
  * merges) and unigram-LM ([[UnigramLm]], global-likelihood pruning).
  * WordPiece trains like BPE — greedy agglomerative merges over a
  * word-frequency vocabulary — but scores candidates by the LIKELIHOOD
  * gain score(a,b) = count(ab) / (count(a) · count(b)) instead of raw
  * pair frequency: a merge must earn its slot by mutual information,
  * so frequent-but-independent pairs (the, of-the class) stop winning
  * over genuinely cohesive units. Inference is greedy
  * longest-match-first (the native `wordpiece_pieces` expression,
  * [[graft.plans.GreedyPieces]]) — NOT merge replay and NOT a DP.
  *
  * Shared machinery: the [[Bpe]] pre-tokenizer (`[a-z]+` lowercase),
  * word-frequency table, delimited-sequence representation, merge
  * application, and [[Bpe.vocabTable]] id assignment are reused
  * verbatim — the ONLY training difference is the argmax, which is
  * the honest definition of the family. Simplification shared with
  * the Bpe family: no `##` continuation marker (the pre-tokenizer is
  * `[a-z]+`, word-initial and word-internal positions are not
  * distinguished).
  *
  * Determinism contract: counts are exact integers; the score is ONE
  * exactly-rounded IEEE double division of exactly-rounded products —
  * identical on every engine computing the same expression shape (the
  * BM25 discipline) — and ties break (a, b) lexicographic. The DuckDB
  * mirror (l73) replays every training round as unrolled CTEs with
  * the identical score expression; the encode mirror (l73e) replays
  * the greedy walk as unrolled longest-match steps.
  *
  * Scale shape = [[Bpe.train]]'s: one materialized word-frequency
  * table, per merge one pair-count aggregate + one symbol-count
  * aggregate (both combinable, both over the DISTINCT-word table, not
  * the corpus), lazily chained replaces snapshotted every 8 merges.
  * Encoding is map-only: one compiled hash-set probe per candidate
  * prefix, no shuffle, no regex.
  */
object WordPiece {

  /** Learn the top-`nMerges` likelihood-scored merges. Returns
    * [[Bpe.Merge]] rows (rank, a, b) in learned order. */
  def train(docs: DataFrame, textCol: String,
            nMerges: Int): Seq[Bpe.Merge] =
    trainCore(Bpe.wordCounts(docs, textCol), nMerges)

  /** [[train]] from a precomputed `(word, cnt)` table — the streaming
    * standing-state entry (same contract as [[Bpe.trainFromWords]]). */
  def trainFromWords(words: DataFrame, nMerges: Int): Seq[Bpe.Merge] =
    trainCore(words.select(col("cnt"),
      expr(Bpe.delimitSql("word")).as("seq")), nMerges)

  /** Likelihood-scored candidate pairs of the current vocab state, in
    * no particular order — the family's argmax input, shared by the
    * exact and batched trainers. */
  private def scoredPairs(cur: DataFrame): DataFrame = {
    val symCnt = cur
      .select(col("cnt"), explode(expr(
        s"filter(split(seq, '[${Bpe.Sep}]'), x -> x != '')")).as("s"))
      .groupBy("s").agg(sum("cnt").as("sc"))
    Bpe.pairCounts(cur)
      .join(broadcast(symCnt.select(col("s").as("a"),
        col("sc").as("ca"))), Seq("a"))
      .join(broadcast(symCnt.select(col("s").as("b"),
        col("sc").as("cb"))), Seq("b"))
      // ONE exactly-rounded double division of exactly-rounded
      // products — deterministic cross-engine; mirrored verbatim
      .withColumn("score", col("total").cast("double") /
        (col("ca").cast("double") * col("cb").cast("double")))
  }

  /** The loop is [[Bpe.trainCoreWith]] — the ONLY family difference is
    * this argmax. */
  private def trainCore(wordSeqs: DataFrame,
                        nMerges: Int): Seq[Bpe.Merge] =
    Bpe.trainCoreWith(wordSeqs, nMerges) { cur =>
      scoredPairs(cur)
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(1).collect().headOption
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    }

  /** BATCHED merge learning — [[Bpe.trainBatched]]'s block-greedy loop
    * with the likelihood argmax (the RISKS.md row-4 production-vocab
    * lever applied to this family). Per driver round, candidates are
    * scored ONCE from the frozen snapshot and walked in exact
    * (score desc, a, b) order; up to `batch` symbol-disjoint pairs are
    * adopted. Disjointness keeps the LIKELIHOOD score exact at
    * adoption time, not just the pair count: an adopted (a,b) can
    * change a later candidate's count(c), count(d), or count(cd) only
    * through occurrences involving a, b, or ab, all excluded by
    * symbol-disjointness — so every adopted score equals what the
    * sequential trainer would have computed at its own round start.
    * Documented block-greedy deviation, BROADER here than in BPE's
    * count score: (a) a pair CREATED by an earlier same-round merge
    * waits for the next round (the BPE-shared half); and (b) because
    * the likelihood score's DENOMINATOR shrinks when an adopted merge
    * consumes symbol occurrences, an EXISTING pair that is non-disjoint
    * with an adopted one can see its score RISE mid-round — sequential
    * training could have adopted it before a later batch pick, so
    * batched order may reorder pre-existing pairs too, not only
    * newly-created ones. Both halves are the accepted trade; adopted
    * scores themselves stay exact (disjointness argument above).
    * `batch = 1` is exactly [[train]] (WordPieceSpec pins it on a
    * real corpus).
    */
  def trainBatched(docs: DataFrame, textCol: String, nMerges: Int,
                   batch: Int): Seq[Bpe.Merge] =
    Bpe.trainBatchedWith(Bpe.wordCounts(docs, textCol), nMerges, batch)(
      (cur, k) =>
        scoredPairs(cur)
          .orderBy(col("score").desc, col("a"), col("b"))
          .limit(k).collect()
          .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq)

  /** The surface-token vocabulary a greedy encoder matches against:
    * train-corpus alphabet singles + merged surfaces, deduplicated
    * ([[Bpe.vocabTable]] semantics), SORTED for a deterministic
    * literal. */
  def vocabTokens(trainDocs: DataFrame, textCol: String,
                  merges: Seq[Bpe.Merge]): Seq[String] =
    Bpe.vocabTable(trainDocs, textCol, merges)
      .select("token").collect().map(_.getString(0)).sorted.toSeq

  /** Greedy longest-match encode: per doc, the piece stream over the
    * `[a-z]+` word stream (words capped at `maxWordLen` — the l72
    * mirror-unroll discipline), plus its length. Characters outside
    * the vocabulary emit `[UNK]` (one per character). Output:
    * (idCol, pieces, n_pieces). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: Seq[String], maxWordLen: Int = 16): DataFrame = {
    require(vocab.nonEmpty, "WordPiece.encode: empty vocabulary")
    val words = expr(
      s"transform(${TextAnalysis.wordsSql(textCol)}, " +
        s"t -> substring(t, 1, $maxWordLen))")
    docs.select(col(idCol), words.as("__ws"))
      .select(col(idCol), flatten(transform(col("__ws"), w =>
        call_function("wordpiece_pieces", w,
          array(vocab.map(lit): _*)))).as("pieces"))
      .select(col(idCol), col("pieces"),
        size(col("pieces")).cast("long").as("n_pieces"))
  }

  // ---------------------------------------------------------------
  // DuckDB mirrors — the Bpe.oracleTrainCtes pattern with the
  // likelihood argmax, and the greedy walk unrolled.
  // ---------------------------------------------------------------

  /** CTE chain `tr, wc, w0, {p,s,m,w}1..N` for the training replay.
    * (stripMargin uses `!` because the delimiter IS `|`.) */
  def oracleTrainCtes(textCol: String, trainFilterSql: String,
                      nMerges: Int): String = {
    val S = Bpe.Sep
    val head =
      s"""tr AS (SELECT $textCol AS t FROM documents
         !  WHERE $trainFilterSql),
         !wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         !  FROM (SELECT unnest(${TextAnalysis.wordsDuckSql("t")}) AS word
         !        FROM tr)
         !  GROUP BY word),
         !w0 AS MATERIALIZED (SELECT cnt,
         !  '$S$S' || regexp_replace(word, '(.)', '\\1$S$S', 'g')
         !  AS seq FROM wc)""".stripMargin('!')
    val iters = (1 to nMerges).map { k =>
      s"""sy$k AS (SELECT s, CAST(sum(cnt) AS BIGINT) AS sc FROM
         !  (SELECT cnt, unnest(list_filter(string_split(seq, '$S'),
         !     x -> x <> '')) AS s FROM w${k - 1})
         !  GROUP BY s),
         !p$k AS (SELECT pr.a AS a, pr.b AS b,
         !    CAST(sum(cnt) AS BIGINT) AS total FROM
         !  (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         !     i -> struct_pack(a := syms[i], b := syms[i+1]))) AS pr FROM
         !   (SELECT cnt, list_filter(string_split(seq, '$S'),
         !      x -> x <> '') AS syms FROM w${k - 1}))
         !  GROUP BY 1, 2),
         !m$k AS MATERIALIZED (SELECT CAST($k AS BIGINT) AS rank,
         !    p.a AS a, p.b AS b
         !  FROM p$k p JOIN sy$k sa ON sa.s = p.a
         !             JOIN sy$k sb ON sb.s = p.b
         !  ORDER BY CAST(p.total AS DOUBLE) /
         !    (CAST(sa.sc AS DOUBLE) * CAST(sb.sc AS DOUBLE)) DESC,
         !    p.a, p.b LIMIT 1),
         !w$k AS MATERIALIZED (SELECT cnt, replace(seq,
         !  '$S' || m.a || '$S$S' || m.b || '$S',
         !  '$S' || m.a || m.b || '$S') AS seq
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

  /** Oracle for the encode query: per doc (n_pieces, piece_fp) under
    * the greedy walk, vocabulary = train-alphabet singles + merged
    * surfaces. The walk is UNROLLED `maxWordLen` steps (each step
    * consumes ≥ 1 character, so capped words always finish): per step,
    * the longest vocabulary token matching at the cursor wins
    * (row_number over length desc, token — the GreedyPiecesModel
    * order), a no-match cursor emits '[UNK]' and advances 1. The
    * rolling fingerprint is the l72e fold.
    */
  def oracleEncodeSql(textCol: String, trainFilterSql: String,
                      nMerges: Int, maxWordLen: Int = 16): String = {
    val steps = (1 to maxWordLen).map { k =>
      s"""g$k AS MATERIALIZED (
          SELECT word, pos, pieces FROM g${k - 1}
            WHERE pos > length(word)
          UNION ALL
          SELECT word,
            CASE WHEN tok IS NULL THEN pos + 1
                 ELSE pos + length(tok) END AS pos,
            list_append(pieces, coalesce(tok, '[UNK]')) AS pieces
          FROM (
            SELECT g.word, g.pos, g.pieces, v.token AS tok,
              row_number() OVER (PARTITION BY g.word
                ORDER BY length(v.token) DESC NULLS LAST,
                         v.token NULLS LAST) AS rn
            FROM (SELECT * FROM g${k - 1}
                  WHERE pos <= length(word)) g
            LEFT JOIN vocab v
              ON v.token = substr(g.word, g.pos, length(v.token)))
          WHERE rn = 1)"""
    }
    s"""WITH ${oracleTrainCtes(textCol, trainFilterSql, nMerges)},
      vocab AS MATERIALIZED (
        SELECT DISTINCT token FROM (
          SELECT unnest(regexp_extract_all(word, '.')) AS token FROM wc
          UNION ALL
          ${(1 to nMerges).map(k => s"SELECT a || b FROM m$k")
            .mkString("\n          UNION ALL ")})),
      dwords AS (SELECT DISTINCT substr(word, 1, $maxWordLen) AS word
        FROM (SELECT unnest(${TextAnalysis.wordsDuckSql(textCol)}) AS word
          FROM documents)),
      g0 AS (SELECT word, 1 AS pos,
        CAST([] AS VARCHAR[]) AS pieces FROM dwords),
      ${steps.mkString(",\n      ")},
      tokend AS (SELECT doc_id, u.i AS wpos,
          substr(tk[u.i], 1, $maxWordLen) AS word
        FROM (SELECT doc_id,
                ${TextAnalysis.wordsDuckSql(textCol)} AS tk
              FROM documents) t,
          LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) u),
      dstream AS (SELECT t.doc_id,
          flatten(list(g.pieces ORDER BY t.wpos)) AS stream
        FROM tokend t JOIN g$maxWordLen g ON g.word = t.word
        GROUP BY t.doc_id)
      SELECT d.doc_id,
        CAST(coalesce(len(s.stream), 0) AS BIGINT) AS n_pieces,
        CAST(coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(s.stream, t ->
            CAST(length(t) * 17 + ascii(substr(t, 1, 1)) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1000000007), 0) AS BIGINT)
          AS piece_fp
      FROM documents d LEFT JOIN dstream s ON s.doc_id = d.doc_id"""
  }
}
