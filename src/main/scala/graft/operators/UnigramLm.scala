package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer trainer (Kudo 2018, arXiv:1804.10959 — the
  * SentencePiece unigram model), the OTHER production tokenizer family
  * beside BPE (l30x): seed a substring vocabulary, iterate hard-EM
  * (Viterbi-segment the corpus under current piece costs, recount piece
  * usage, re-estimate costs, prune), emit the final vocabulary.
  *
  * Fixed-point exactness (the l30/l31/l67 discipline): piece costs are
  * integer bit-surprisals — `cost = lenbin(T) - lenbin(cnt) + 1`, where
  * `lenbin(x) = length(bin(x))` is the bit length both engines compute
  * identically (`bin(0) = '0'` -> lenbin 1) — so every DP comparison,
  * argmin, and prune threshold is exact-integer and the trained
  * vocabulary hash-matches the l72 DuckDB oracle, which replays the
  * seed selection AND all `iters` EM rounds (DP fold + longest-first
  * backtrace per distinct word) as chained CTEs. Kudo's full EM uses
  * float forward-backward expectations; hard (Viterbi) EM is the
  * documented deterministic deviation, same as l67's exact-EG note.
  *
  * Shape: the corpus collapses to DISTINCT truncated words with
  * frequencies (one shuffle); each EM round is one map-only native
  * `unigram_viterbi` pass over that word table plus one combinable
  * count — O(distinct words), not O(corpus). Driver state is the
  * vocabulary only (singles + `vocabTop` multis — bounded, the BPE
  * argmax discipline); `iters` is a fixed small constant.
  *
  * Coverage invariant: every corpus character stays in the vocabulary
  * through every prune (possibly at count 0), so segmentation never
  * needs the unknown-cost fallback and the DP total stays below the
  * sentinel — the property the mirror's equality-probe backtrace
  * relies on.
  */
object UnigramLm {

  val UnknownCost = 1048576L

  /** length(bin(x)): bit length, lenbin(0) = 1. */
  def lenbin(x: Long): Long =
    if (x <= 0L) 1L else 64L - java.lang.Long.numberOfLeadingZeros(x)

  def costOf(total: Long, cnt: Long): Long =
    lenbin(total) - lenbin(cnt) + 1L

  /** Distinct truncated words with corpus frequencies. */
  private[graft] def wordTable(docs: DataFrame, textCol: String,
                               maxWordLen: Int): DataFrame =
    docs.select(explode(TextAnalysis.tokens(textCol)).as("tok"))
      .select(substring(col("tok"), 1, maxWordLen).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wf"))

  /** The Viterbi segmentation column for a given vocabulary. */
  def segmentCol(wordCol: Column, vocab: Seq[(String, Long)],
                 maxPieceLen: Int): Column = {
    val sorted = vocab.sortBy(_._1)
    call_function("unigram_viterbi", wordCol,
      array(sorted.map(p => lit(p._1)): _*),
      array(sorted.map(p => lit(p._2)): _*),
      lit(maxPieceLen), lit(UnknownCost))
  }

  /** Train and return the final vocabulary:
    * (piece, n_uses, cost_bits).
    */
  def train(docs: DataFrame, textCol: String,
            seedTop: Int = 1500, vocabTop: Int = 800, iters: Int = 3,
            maxWordLen: Int = 16, maxPieceLen: Int = 4): DataFrame =
    trainFromWords(wordTable(docs, textCol, maxWordLen), seedTop,
      vocabTop, iters, maxPieceLen)

  /** [[train]] from an already-built `(word, wf)` frequency table —
    * the streaming entry point: the word table is the ONLY corpus
    * state training reads, and it folds by ADDITION across batches
    * (StreamOps.unigramWordsForeachBatch maintains it; vocabularies
    * trained from the folded state equal batch training over
    * everything streamed, which the spec pins).
    */
  def trainFromWords(wordFreq: DataFrame,
                     seedTop: Int, vocabTop: Int, iters: Int,
                     maxPieceLen: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters out of range: $iters")
    val spark = wordFreq.sparkSession
    import spark.implicits._
    val words = wordFreq.persist()
    try {
      // seed: every substring occurrence of length 1..maxPieceLen,
      // weighted by word frequency
      val subs = words.select(col("wf"), explode(expr(
          s"""flatten(transform(sequence(1, length(word)), s ->
              filter(transform(sequence(1, $maxPieceLen), l ->
                CASE WHEN s + l - 1 <= length(word)
                     THEN substring(word, s, l) END),
                p -> p IS NOT NULL)))""")).as("piece"))
        .groupBy("piece").agg(sum("wf").as("cnt"))
      // singles: ALL corpus characters (coverage invariant). Multis:
      // top seedTop by (cnt desc, piece asc) — a bounded
      // TakeOrderedAndProject, never a full collect of the substring
      // table.
      val singles = subs.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val seedMultis = subs.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(seedTop)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val singleSet = singles.map(_._1).toSet

      def withCosts(counts: Seq[(String, Long)]): Seq[(String, Long)] = {
        val t = counts.map(_._2).sum
        counts.map { case (p, c) => (p, costOf(t, c)) }
      }

      var counts: Seq[(String, Long)] =
        (singles ++ seedMultis).sortBy(_._1)
      for (_ <- 1 to iters) {
        val seg = words.select(col("wf"),
            explode(segmentCol(col("word"), withCosts(counts),
              maxPieceLen)).as("piece"))
          .groupBy("piece").agg(sum("wf").as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val keptSingles = singleSet.toSeq.sorted
          .map(p => (p, seg.getOrElse(p, 0L)))
        val keptMultis = seg.toSeq
          .filter { case (p, c) => p.length > 1 && c >= 1L }
          .sortBy { case (p, c) => (-c, p) }.take(vocabTop)
        counts = (keptSingles ++ keptMultis).sortBy(_._1)
      }
      val t = counts.map(_._2).sum
      counts.map { case (p, c) => (p, c, costOf(t, c)) }
        .toDF("piece", "n_uses", "cost_bits")
    } finally { words.unpersist(); () }
  }

  /** Encode a corpus with a trained vocabulary: per doc, the piece
    * stream (flattened across words in order) and its length.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: Seq[(String, Long)], maxWordLen: Int = 16,
             maxPieceLen: Int = 4): DataFrame =
    docs.select(col(idCol),
        expr(s"transform(${TextAnalysis.tokensSql(textCol)}, " +
          s"t -> substring(t, 1, $maxWordLen))").as("__ws"))
      .select(col(idCol), flatten(transform(col("__ws"),
        w => segmentCol(w, vocab, maxPieceLen))).as("pieces"))
      .select(col(idCol), col("pieces"),
        size(col("pieces")).cast("long").as("n_pieces"))
}
