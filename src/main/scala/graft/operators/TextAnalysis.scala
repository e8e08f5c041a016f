package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, heuristic language ID, and document fingerprinting — all pure
  * Catalyst expressions (codegen'd, streaming-safe, oracle-mirrorable).
  */
object TextAnalysis {

  // The engine's three text rules, one Spark SQL and one DuckDB SQL
  // spelling each. Every operator, sink and oracle mirror interpolates
  // these. The DuckDB twins are written out on their own, never derived
  // from the Spark text, so a mirror still checks one engine against
  // the other.

  /** Whitespace tokens of SQL expression `e`: the non-empty pieces
    * between single spaces. Tabs and newlines are NOT separators; they
    * stay inside tokens.
    */
  def tokensSql(e: String): String =
    s"filter(split($e, ' '), t -> length(t) > 0)"

  /** DuckDB twin of [[tokensSql]]. */
  def tokensDuckSql(e: String): String =
    s"list_filter(string_split($e, ' '), t -> length(t) > 0)"

  /** Lowercase words of SQL expression `e`: the `[a-z]+` runs of
    * `lower(e)`, in order. The pre-tokenizer of Bpe, WordPiece and the
    * quality classifier.
    */
  def wordsSql(e: String): String =
    s"regexp_extract_all(lower($e), '[a-z]+', 0)"

  /** DuckDB twin of [[wordsSql]]. */
  def wordsDuckSql(e: String): String =
    s"regexp_extract_all(lower($e), '[a-z]+')"

  /** DuckDB twin of [[Dedup.shingles]]`(_, 3)` over a bound token array
    * `tk` (a column or lambda name: it is referenced four times): the
    * distinct space-joined word 3-grams, empty below 3 tokens. DuckDB's
    * `list_distinct` does not keep order, so callers unnest or count.
    */
  def shinglesDuckSql(tk: String): String =
    s"""list_distinct(list_transform(range(1, len($tk) - 1),
          i -> $tk[i] || ' ' || $tk[i+1] || ' ' || $tk[i+2]))"""

  /** The whitespace token array every operator here tokenizes with —
    * public so stream-side ops (StreamOps.heavyHittersForeachBatch)
    * reduce EXACTLY the same token stream the batch forms do.
    */
  def tokens(textCol: String): Column = expr(tokensSql(textCol))

  /** Whitespace token count. */
  def tokenCount(textCol: String): Column =
    expr(s"size(${tokensSql(textCol)})").cast("long")

  /** BPE-ish subword count: runs of letters, runs of digits, and single
    * other non-space characters each count as one token — a deterministic
    * stand-in for a real BPE vocabulary's pre-tokenizer.
    */
  def bpeishCount(textCol: String): Column =
    expr(s"size(regexp_extract_all($textCol, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0))")
      .cast("long")

  /** WITHIN-document repetition ratio over word `n`-grams (the
    * Gopher-style "duplicate n-gram fraction" quality rule: ratio of
    * n-gram positions occupied by a repeat of an earlier n-gram —
    * crawled boilerplate and generation loops score high and get
    * filtered before training; cf. Rae et al. 2021, arXiv:2112.11446
    * §A1.1). 1 − distinct/total over the doc's n-gram positions;
    * documents shorter than `n` tokens score 0.0 (nothing repeats).
    * Map-only, one pass, token array bound once as a lambda variable
    * (the transform-over-singleton trick — see [[graft.operators.Dedup
    * .shingles]] for the measured O(len²) trap it avoids). Small-int
    * division in IEEE double, so the value is bit-reproducible in any
    * engine (l20's DuckDB oracle hash-matches it).
    */
  def repetitionRatio(textCol: String, n: Int): Column = expr(
    s"""element_at(transform(array(${tokensSql(textCol)}), ts ->
          IF(size(ts) < $n, CAST(0.0 AS DOUBLE),
            1.0D - CAST(size(array_distinct(
                transform(sequence(1, size(ts) - ${n - 1}),
                  i -> array_join(slice(ts, i, $n), ' ')))) AS DOUBLE)
              / CAST(size(ts) - ${n - 1} AS DOUBLE))), 1)""")

  /** Quality-score feature columns (length/punct/stopword ratios — the
    * standard cheap filters applied before LLM training).
    */
  def qualityFeatures(textCol: String, stopwords: Seq[String])
      : Seq[(String, Column)] = {
    val toks = tokensSql(textCol)
    val nToks = s"size($toks)"
    val stopArr = stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    Seq(
      "n_chars_m" -> expr(s"length($textCol)").cast("long"),
      "n_tokens" -> expr(nToks).cast("long"),
      "avg_token_len" ->
        expr(s"""CAST(aggregate($toks, CAST(0 AS BIGINT),
             (a, t) -> a + length(t)) AS DOUBLE) / CAST($nToks AS BIGINT)"""),
      "stopword_ratio" ->
        expr(s"""CAST(size(filter($toks,
             t -> array_contains($stopArr, t))) AS DOUBLE)
             / CAST($nToks AS BIGINT)"""),
      "alpha_ratio" ->
        expr(s"""CAST(length(regexp_replace($textCol, '[^a-zA-Z]', ''))
             AS DOUBLE) / CAST(length($textCol) AS BIGINT)"""))
  }

  /** Marker-word hit count for one language: occurrences of `marker` as a
    * whole token.
    */
  def markerHits(textCol: String, marker: String): Column =
    expr(s"size(filter(${tokensSql(textCol)}, t -> t = '$marker'))")
      .cast("long")

  /** Heuristic language ID: argmax of marker-hit counts with a fixed
    * priority order for ties (first entry wins). `markers` maps language
    * code -> marker token.
    */
  def langId(textCol: String, markers: Seq[(String, String)]): Column = {
    val hits = markers.map { case (lang, m) => lang -> markerHits(textCol, m) }
    // strictly-greater fold, so earlier entries win ties
    hits.tail.foldLeft((hits.head._2, lit(hits.head._1): Column)) {
      case ((bestHits, bestLang), (lang, h)) =>
        (when(h > bestHits, h).otherwise(bestHits),
          when(h > bestHits, lit(lang)).otherwise(bestLang))
    }._2
  }

  /** Token-window chunks for training-data preparation: windows of
    * `size` tokens starting every `stride` tokens (stride < size =
    * overlapping context windows). Returns array<struct<start, chunk>>;
    * explode it to one row per chunk. The token array is bound once
    * (lambda-variable trick — see Dedup.shingles).
    */
  def chunks(textCol: String, size: Int, stride: Int): Column = expr(
    s"""element_at(transform(array(${tokensSql(textCol)}), ts ->
        transform(sequence(1, size(ts), $stride),
          i -> struct(CAST(i AS BIGINT) AS start,
                      array_join(slice(ts, i, $size), ' ') AS chunk))), 1)""")

  /** PII-style pattern redaction: digit runs masked (the cheap scrub pass
    * a training pipeline runs before tokenization).
    */
  def redactDigits(textCol: String, mask: String = "#"): Column =
    expr(s"regexp_replace($textCol, '[0-9]+', '$mask')")

  /** RE2 ∩ java.regex portable PII patterns (shared with the l14b
    * oracle SQL verbatim — `[.]` instead of an escaped dot keeps the
    * literals backslash-free across SQL string rules, the Html.scala
    * discipline; `\\b` word boundaries are supported by both engines).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}[.]){3}[0-9]{1,3}\\b"

  /** Structured PII redaction — the scrub pass real pipelines run
    * before tokenization, beyond [[redactDigits]]' bare digit runs:
    * emails → `<EMAIL>`, IPv4 addresses → `<IP>`, remaining digit runs
    * → `#`. Order is load-bearing: emails first (their local parts and
    * hosts contain digits and dots a later rule would shred), then IPs
    * (all-digit tokens), then the digit-run catch-all — the masks
    * themselves contain neither digits nor `@`, so later passes cannot
    * re-match earlier masks. Map-only, three codegen'd regex passes;
    * the Column API carries the patterns (no SQL-literal backslash
    * parsing on the Spark side).
    */
  def redactPii(textCol: String): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      "[0-9]+", "#")

  /** Order-sensitive rolling-hash document fingerprint over tokens:
    * fold (acc * 31 + (17 * len(tok) + ascii(first char))) mod prime.
    * Portable: the DuckDB oracle reproduces it with list_reduce.
    */
  def fingerprint(textCol: String): Column = expr(
    s"""aggregate(${tokensSql(textCol)}, CAST(0 AS BIGINT), (a, t) ->
        (a * 31 + length(t) * 17 + ascii(substring(t, 1, 1))) % 1000000007)""")

  /** Deterministic split assignment for reproducible train/val/test
    * partitioning: an LCG-style hash of the numeric doc id folded into
    * [0, 100), integer arithmetic only so any engine reproduces it
    * exactly. Buckets [0,train) -> "train", [train,train+val) -> "val",
    * rest -> "test". Stable under reruns, cluster layouts, and engine
    * swaps — the property random sampling can't give a 100 TB pipeline.
    *
    * The id is reduced mod 1e8+7 FIRST (non-negative), so the multiply
    * never wraps 64-bit for any long id and the outer pmod sees a
    * positive operand — both needed for engines whose `%` is
    * sign-preserving (DuckDB) to agree with Spark's pmod.
    *
    * TWO LCG rounds with HIGH-bit extraction (div 65536 between and
    * after), not one round mod 100: the low bits of a single
    * multiply-add depend only on the low bits of the id, so a
    * parity- or stride-correlated corpus (ids all even; ids spaced by
    * a component-keeper pattern) reached only a handful of residues —
    * measured: ids that are multiples of 20 ALL landed in 'train'
    * under the one-round form. High-bit extraction restores all 100
    * residues on those shapes (found building the l71 composed-pipeline
    * oracle, where component-keyed ids are systematically even).
    * Division is exact cross-engine: both operands are non-negative,
    * so Spark's `div` (truncating) and DuckDB's `//` (flooring) agree.
    */
  def splitAssign(idCol: String, trainPct: Int, valPct: Int): Column = {
    val r1 = s"pmod($idCol, 100000007) * 1103515245 + 12345"
    val b = s"pmod(($r1) div 65536, 100000007) * 1103515245 + 12345"
    val bucket = s"pmod(($b) div 65536, 100)"
    expr(s"""CASE WHEN $bucket < $trainPct THEN 'train'
             WHEN $bucket < ${trainPct + valPct} THEN 'val'
             ELSE 'test' END""")
  }

  /** The DuckDB mirror of [[splitAssign]]'s bucket in [0, 100) over an
    * arbitrary SQL expression `e` — every oracle that replays a split
    * interpolates THIS (one definition, no drift). The `((x % p) + p)
    * % p` guard mirrors Spark's pmod for any sign of `e`.
    */
  def splitBucketDuckSql(e: String): String = {
    val nn = s"((($e) % 100000007) + 100000007) % 100000007"
    val r1 = s"($nn) * 1103515245 + 12345"
    val b = s"((($r1) // 65536) % 100000007) * 1103515245 + 12345"
    s"((($b) // 65536) % 100)"
  }

  /** Top-`k` characteristic terms per document by an integer tf-idf
    * rank: score = tf * nDocs / docFreq with BIGINT truncating division
    * (monotone in the real tf*idf for fixed tf scale, and exactly
    * reproducible cross-engine, unlike a floating-point log). Terms
    * shorter than `minLen` are skipped (stopword screen).
    */
  /** RE2 ∩ java.regex portable pattern for zero-width characters
    * (ZWSP/ZWNJ/ZWJ + the BOM-as-ZWNBSP): invisible, copy-pasted into
    * crawled text constantly, and every one of them splits an exact
    * hash, a shingle, or a vocabulary entry that SHOULD match. Exposed
    * so the l35 oracle SQL reuses the identical pattern.
    */
  val ZeroWidthPattern = "[\\x{200B}-\\x{200D}\\x{FEFF}]"

  /** C0 control characters except \t \n \r, plus DEL — artifacts of
    * binary-in-text crawl damage, never content.
    */
  val ControlPattern =
    "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"

  /** Unicode canonicalization — the cleaning step every HASH-KEYED
    * operator in this engine quietly depends on: crawled corpora mix
    * composed and decomposed forms of the same visible text (`é` vs
    * `e`+U+0301 — macOS uploads are NFD) and sprinkle zero-width/
    * control bytes, so without this pass exact dedup (l1/l22), shingle
    * keys (l2x/l23), fingerprints (l10) and BPE vocabularies (l30x)
    * all treat equal text as distinct. Strip the invisibles first,
    * then NFC-compose via the native codegen'd [[graft.plans.NfcNormalize]]
    * (pure-ASCII fast path — the overwhelming common case pays one
    * byte-vs-codepoint scan, no allocation). Map-only, no shuffle; the
    * whole pass is one codegen'd projection. DuckDB's `nfc_normalize`
    * (utf8proc) matches the JDK normalizer byte-for-byte, so l35
    * hash-crosses engines on md5 of the cleaned text.
    */
  def unicodeClean(df: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    df
      .withColumn("__stripped", regexp_replace(
        regexp_replace(col(textCol), ZeroWidthPattern, ""),
        ControlPattern, ""))
      .withColumn("text_clean",
        call_function("nfc_normalize", col("__stripped")))
      .select(col(idCol), col("text_clean"),
        (length(col(textCol)) - length(col("__stripped"))).cast("long")
          .as("removed_chars"),
        (col("text_clean") =!= col("__stripped")).as("recomposed"))

  /** Per-doc zlib COMPRESSION RATIO — the Gopher/C4-family quality
    * signal the regex features can't fake: boilerplate and template
    * text compresses far below ~0.4, high-entropy natural prose sits
    * near 0.6–1.0, so `compressed/raw` is a one-number repetition+
    * diversity score. No SQL engine can mirror DEFLATE, so this is a
    * declared rows-only operator: the spec pins it against an
    * in-test-JVM recompute byte-for-byte instead (same container, same
    * zlib), plus the behavioral ordering (repetitive << shuffled-unique)
    * and layout invariance.
    *
    * Execution shape: `mapPartitions` with ONE `Deflater` reset per
    * document (allocation per row would dominate), fixed level 6 and
    * default strategy so the bytes are deterministic; no shuffle — the
    * scoring pass is map-only like l24's, and empty docs define
    * ratio 1.0.
    */
  def compressionRatio(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        // Deflater holds NATIVE zlib memory released only by end() (or
        // finalization, eventually) — on a long-lived executor running
        // thousands of tasks the leaked streams accumulate off-heap, so
        // tie the release to task completion, which fires whether the
        // iterator is drained, the task is killed, or the row path throws
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          var compressed = 0L
          if (raw.nonEmpty) {
            d.reset()
            d.setInput(raw)
            d.finish()
            while (!d.finished())
              compressed += d.deflate(buf)
          }
          val ratio =
            if (raw.isEmpty) 1.0 else compressed.toDouble / raw.length
          (id, raw.length.toLong, compressed, ratio)
        }
      }
      .toDF(idCol, "raw_bytes", "compressed_bytes", "compression_ratio")
  }

  /** Feature hashing (Weinberger et al. 2009, the hashing trick): embed
    * text into a `dim`-bucket vector with no trained vocabulary — token
    * `t` adds ±1 to bucket `poly_hash(t) % dim`, sign from the next hash
    * bit (`(h DIV dim) % 2`). The engine-native way to get an embedding
    * column for the similarity/dedup/PCA family when none was shipped
    * with the corpus.
    *
    * SPARSE output (doc, bucket, weight≠0): tokens explode through the
    * codegen'd [[graft.plans.PolyHash]] into a (doc, bucket) hash-agg.
    * Deliberately NOT the `aggregate(...)`-HOF dense formulation — that
    * evaluates an interpreted lambda per (token × bucket), the exact
    * 10× cliff the LSH family hit; here every per-token op is compiled,
    * and the map-side partial agg bounds the shuffle at ≤ `dim` rows per
    * doc regardless of document length. Cross-engine exact: integer
    * hashes, integer sums.
    */
  def featureHashSparse(docs: DataFrame, idCol: String, textCol: String,
                        dim: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"),
        explode(tokens(textCol)).as("t"))
      .select(col("doc"), expr("poly_hash(t)").as("h"))
      .select(col("doc"), (col("h") % dim).as("bucket"),
        when(expr(s"(h DIV $dim) % 2 = 0"), lit(1L))
          .otherwise(lit(-1L)).as("s"))
      .groupBy("doc", "bucket").agg(sum("s").as("weight"))
      .filter(col("weight") =!= 0L)

  /** DuckDB mirror of [[featureHashSparse]] over `documents(doc_id,
    * text)` — kept adjacent so the two sides can't drift.
    */
  def featureHashSparseOracleSql(dim: Int): String =
    s"""WITH toks AS (SELECT doc_id AS doc,
          unnest(${tokensDuckSql("text")}) AS t
        FROM documents),
      h AS (SELECT doc, list_reduce(list_prepend(CAST(7 AS BIGINT),
          list_transform(range(1, length(t) + 1),
            i -> CAST(ascii(t[i]) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1073741789) AS h
        FROM toks)
      SELECT doc, h % $dim AS bucket,
        CAST(sum(CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END)
          AS BIGINT) AS weight
      FROM h GROUP BY 1, 2
      HAVING sum(CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END) <> 0"""

  /** [[featureHashSparse]] pivoted to a dense array<double> column (for
    * the vector consumers: PCA, cosine near-dup, ANN). The pivot is
    * map-free on the sparse frame side (map_from_entries over the
    * per-doc collected buckets, then a `dim`-element fill — O(dim) per
    * DOC, not per token, so the interpreted-lambda cost stays bounded).
    * Docs with zero tokens keep an all-zero vector via the left join.
    */
  def featureHashDense(docs: DataFrame, idCol: String, textCol: String,
                       dim: Int, outCol: String = "fh_vec"): DataFrame = {
    val sparse = featureHashSparse(docs, idCol, textCol, dim)
      .groupBy(col("doc"))
      .agg(map_from_entries(collect_list(struct(col("bucket"),
        col("weight")))).as("m"))
    docs.join(sparse, docs(idCol) === sparse("doc"), "left")
      .select(docs("*"),
        expr(s"""transform(sequence(0, ${dim - 1}),
          b -> CAST(coalesce(element_at(m, CAST(b AS BIGINT)), 0)
                    AS DOUBLE))""").as(outCol))
  }

  def topTfidfTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, k: Int,
                    minLen: Int): org.apache.spark.sql.DataFrame = {
    val terms = docs
      .select(col(idCol).as("doc"),
        explode(expr(s"array_distinct(${tokensSql(textCol)})")).as("term"))
      .filter(length(col("term")) >= minLen)
    val tf = docs
      .select(col(idCol).as("doc"), explode(tokens(textCol)).as("term"))
      .filter(length(col("term")) >= minLen)
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    // corpus size joins in as a 1-row aggregate (no job at construction)
    val nDocs = docs.select(countDistinct(col(idCol)).as("__n_docs"))
    val df = terms.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc")
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(nDocs)
      .withColumn("score",
        expr("CAST(tf * __n_docs AS BIGINT) DIV doc_freq"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc"), col("rnk"), col("term"), col("score"))
  }

  /** Corpus-trained unigram surprisal, in INTEGER log2 bits: a token
    * with corpus count `c` against corpus total `T` contributes
    * `bitlen(T) - bitlen(c)` bits, where bitlen = length of the minimal
    * binary string (= floor(log2)+1, via `bin()` which both Spark and
    * DuckDB render without leading zeros). That is the true unigram
    * surprisal -log2(c/T) to within 1 bit, in exact integer arithmetic
    * — deliberately NOT ln(): libm last-ulp rounding is
    * engine-specific, while bin()+length is bit-identical everywhere,
    * so the DuckDB oracle hash-matches the full output (the final
    * double division of exact integers is exactly rounded by IEEE).
    * Gibberish/rare-token documents score high — the cheap unigram
    * stand-in for the KenLM perplexity filter of CCNet (Wenzek et al.
    * 2019, arXiv:1911.00359); `keep` flags documents under
    * `keepBelowBits`.
    *
    * Shape at 100 TB: token explode -> vocab groupBy (integer counts,
    * map-side partial agg) -> BROADCAST the vocab back (a BPE-scale
    * vocab is ~100k rows; that broadcast is the point — the scoring
    * pass stays shuffle-free) -> per-doc integer sum, order-free, so
    * no ordered-fold machinery is needed for determinism.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                       keepBelowBits: Double): DataFrame = {
    val toks = docs.select(col(idCol).as("doc"),
      explode(tokens(textCol)).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").cast("long").as("tt"))
    val scored = toks
      .join(broadcast(vocab), Seq("t"))
      .crossJoin(broadcast(total))
      .select(col("doc"),
        (length(expr("bin(tt)")) - length(expr("bin(c)")))
          .cast("long").as("bits"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("total_bits"))
    docs.select(col(idCol).as("doc"))
      .join(scored, Seq("doc"), "left")
      .select(
        col("doc").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0d))
          .otherwise(col("total_bits").cast("double") / col("n_tokens"))
          .as("avg_bits"))
      .withColumn("keep",
        (col("n_tokens") > 0 && col("avg_bits") < keepBelowBits)
          .cast("long"))
  }

  /** Bigram stupid-backoff surprisal in integer log2 bits — the bigram
    * upgrade of [[unigramSurprisal]], with the model TRAINED on the
    * deterministic `train` split ([[splitAssign]] 80/10) and scored
    * over EVERY document, so the backoff path genuinely fires (CCNet's
    * train-on-one-corpus / score-everything shape, Wenzek et al. 2019,
    * arXiv:1911.00359). Per-token bits, all exact integers via
    * bitlen = length(bin(x)):
    *
    *  - model bigram (prev, cur): bitlen(c1[prev]) - bitlen(c2[prev,cur])
    *    (-log2 of the conditional probability to within a bit);
    *  - unseen bigram, model unigram: 1 + bitlen(T) - bitlen(c1[cur])
    *    (stupid backoff, Brants et al. 2007 "Large Language Models in
    *    Machine Translation" — the 0.4 factor as an integer 1-bit
    *    penalty);
    *  - OOV: 1 + bitlen(T);
    *  - doc-initial tokens take the unigram paths without the backoff
    *    penalty (no context was discarded).
    *
    * `minCount` prunes the bigram table to counts >= minCount — the
    * model-size knob that bounds the broadcast at corpus scale (real
    * LM filters ship heavily pruned models; pruning only moves mass
    * onto the backoff path, never breaks totality).
    *
    * Scale shape: the bigram context comes straight from the token
    * ARRAY (`prev = arr[pos-1]` via 0-based `get`, null at pos 0) — a
    * doc's tokens never leave the scan partition, so scoring is
    * map-only exactly like [[unigramSurprisal]]'s. The only shuffles
    * are the two training aggregations (map-side combinable by
    * construction) and the final per-doc sum, whose partial aggregate
    * is already one row per doc (a doc's exploded tokens are
    * partition-contiguous). An earlier form computed `prev` with a
    * `lag` window partitioned by doc; that repartitioned the entire
    * token stream — 267 MB of shuffle at sf5 vs the training aggs'
    * ~5 MB — for ordering the array explode already provides
    * (SCALE_r08.md §6).
    */
  def bigramSurprisal(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, keepBelowBits: Double,
                      minCount: Long = 2L): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc"), tokens(textCol).as("arr"))
      .select(col("doc"), col("arr"),
        posexplode(col("arr")).as(Seq("pos", "t")))
      .withColumn("prev", get(col("arr"), col("pos") - 1))
      .drop("arr", "pos")
      .withColumn("is_train", splitAssign("doc", 80, 10) === "train")
    val c1 = toks.filter(col("is_train"))
      .groupBy(col("t").as("u_t")).agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum("c1").cast("long").as("tt"))
    val c2 = toks.filter(col("is_train") && col("prev").isNotNull)
      .groupBy(col("prev").as("b_prev"), col("t").as("b_cur"))
      .agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val c1prev = c1.select(col("u_t").as("p_t"), col("c1").as("c1p"))
    val scored = toks
      .join(broadcast(c2),
        col("prev") === col("b_prev") && col("t") === col("b_cur"), "left")
      .join(broadcast(c1), col("t") === col("u_t"), "left")
      .join(broadcast(c1prev), col("prev") === col("p_t"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc"),
        when(col("c2").isNotNull,
            length(expr("bin(c1p)")) - length(expr("bin(c2)")))
        .when(col("prev").isNull && col("c1").isNotNull,
            length(expr("bin(tt)")) - length(expr("bin(c1)")))
        .when(col("prev").isNull, length(expr("bin(tt)")))
        .when(col("c1").isNotNull,
            lit(1) + length(expr("bin(tt)")) - length(expr("bin(c1)")))
        .otherwise(lit(1) + length(expr("bin(tt)")))
        .cast("long").as("bits"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("total_bits"))
    docs.select(col(idCol).as("doc"))
      .join(scored, Seq("doc"), "left")
      .select(
        col("doc").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0d))
          .otherwise(col("total_bits").cast("double") / col("n_tokens"))
          .as("avg_bits"))
      .withColumn("keep",
        (col("n_tokens") > 0 && col("avg_bits") < keepBelowBits)
          .cast("long"))
  }

  /** Interpolated Kneser-Ney bigram surprisal in integer log2 bits —
    * the principled-smoothing upgrade of [[bigramSurprisal]]'s stupid
    * backoff (Kneser & Ney, ICASSP'95; Chen & Goodman 1999's
    * interpolated form — the smoothing every production n-gram LM
    * filter, KenLM included, actually ships). Same train/score shape:
    * model on the deterministic `train` split, scored over every
    * document.
    *
    * The KN probability with absolute discount D = 3/4 is a ratio of
    * exact integers once denominators are cleared:
    *
    *   P(w|v) = max(c(vw)-D, 0)/c(v.) + (D*N1(v.)/c(v.)) * N1(.w)/N1(..)
    *          = (max(4*c(vw)-3, 0)*N1(..) + 3*N1(v.)*N1(.w))
    *            / (4*c(v.)*N1(..))
    *
    * where c(v.) = train bigrams starting with v, N1(v.) = distinct
    * continuations of v, N1(.w) = distinct left-contexts of w (the
    * "novel-context" count that makes KN work — "Francisco" is frequent
    * but follows only "San", so its continuation probability is tiny),
    * N1(..) = distinct bigram types. Numerator and denominator are
    * exact BIGINTs, so bits = bitlen(den) - bitlen(num) is -log2 P to
    * within a bit in arithmetic that hash-matches any engine — the same
    * reason [[unigramSurprisal]] banned ln(). num <= den always
    * (interpolated KN is a proper distribution), so bits >= 0.
    *
    * Per-token arms:
    *  - doc-initial (no context): unigram bits, as [[bigramSurprisal]];
    *  - context v seen as a train bigram starter: the cleared-fraction
    *    formula above (c(vw) = 0 and N1(.w) = 0 both fold in; a zero
    *    numerator — unseen w in an unseen-continuation slot — takes
    *    bitlen(den) + 1, the one-bit OOV penalty convention);
    *  - context v never a starter (OOV or final-only): back off to the
    *    continuation distribution alone, bits = bitlen(N1(..)) -
    *    bitlen(N1(.w)) (+1-penalty form when N1(.w) = 0).
    *
    * Scale shape is [[bigramSurprisal]]'s exactly: context from the
    * token array (map-only scoring), combinable training aggregations,
    * model tables broadcast. Counts are assumed to satisfy
    * 4*c(v.)*N1(..) < 2^63 — at larger corpora scale the training
    * sample, not the formula (the discount ratio is scale-free).
    *
    * `minCount` prunes the BROADCAST bigram table to counts >=
    * minCount — the model-size knob a content-diverse corpus needs: on
    * real text most bigram TYPES are singletons, so the unpruned table
    * grows with the corpus (not the vocabulary) and its broadcast is
    * the one piece of this plan that would not hold at 100 TB. Pruning
    * follows deployed-LM semantics: the smoothing statistics (c(v.),
    * N1(v.), N1(.w), N1(..)) stay EXACT — they are vocabulary-sized
    * aggregates, never broadcast-bound — and a pruned bigram simply
    * scores through the c(vw)=0 continuation arm. `minCount = 1` is
    * the exact model (the oracle-checked default).
    *
    * `shuffleModelJoin` is the 100 TB form of the model joins (RISKS.md
    * row 3 made real): the bigram table grows with the CORPUS, not the
    * vocabulary (~corpus^0.7 — 4.58M types at sf5textdiv), so past the
    * broadcast ceiling the scoring join must become a SHUFFLE join.
    * With the flag on, no broadcast hints are placed and every model
    * join runs on an 8-byte xxhash64 gram key (key + counts are all
    * that shuffles from the model side — the strings are dropped
    * pre-exchange). Same collision contract as the l23h hashed-dedup
    * family: a random 64-bit collision mis-scores one token; the spec
    * pins value-equality with the broadcast form. Doc-initial rows
    * (prev NULL) are guarded explicitly — xxhash64 skips NULL inputs,
    * so without the guard xxhash64(NULL, t) would equal xxhash64(t).
    */
  def knBigramSurprisal(docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        keepBelowBits: Double,
                        minCount: Long = 1L,
                        shuffleModelJoin: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc"), tokens(textCol).as("arr"))
      .select(col("doc"), col("arr"),
        posexplode(col("arr")).as(Seq("pos", "t")))
      .withColumn("prev", get(col("arr"), col("pos") - 1))
      .drop("arr", "pos")
      .withColumn("is_train", splitAssign("doc", 80, 10) === "train")
    val c1 = toks.filter(col("is_train"))
      .groupBy(col("t").as("u_t")).agg(count(lit(1)).as("c1"))
    val total = c1.agg(sum("c1").cast("long").as("tt"))
    val big = toks.filter(col("is_train") && col("prev").isNotNull)
    val c2full = big.groupBy(col("prev").as("b_prev"), col("t").as("b_cur"))
      .agg(count(lit(1)).as("c2"))
    // smoothing statistics from the FULL bigram table (exact at any
    // minCount — vocabulary-sized aggregate outputs, never broadcast):
    // per-context total starts c(v.) + distinct continuations N1(v.),
    // per-word distinct left contexts N1(.w), total types N1(..)
    val ctx = c2full.groupBy(col("b_prev").as("v_t"))
      .agg(sum("c2").cast("long").as("cv"), count(lit(1)).as("n1v"))
    val cont = c2full.groupBy(col("b_cur").as("w_t"))
      .agg(count(lit(1)).as("n1w"))
    val n1all = c2full.agg(count(lit(1)).as("n1all"))
    // only the broadcast scoring table is pruned (see scaladoc)
    val c2 =
      if (minCount <= 1L) c2full else c2full.filter(col("c2") >= minCount)
    val num = greatest(lit(4L) * coalesce(col("c2"), lit(0L)) - lit(3L),
      lit(0L)) * col("n1all") +
      lit(3L) * col("n1v") * coalesce(col("n1w"), lit(0L))
    val den = lit(4L) * col("cv") * col("n1all")
    val contOnlyNum = coalesce(col("n1w"), lit(0L))
    val joined =
      if (!shuffleModelJoin)
        toks
          .join(broadcast(c2),
            col("prev") === col("b_prev") && col("t") === col("b_cur"),
            "left")
          .join(broadcast(ctx), col("prev") === col("v_t"), "left")
          .join(broadcast(cont), col("t") === col("w_t"), "left")
          .join(broadcast(c1), col("t") === col("u_t"), "left")
      else {
        // data-sized model tables: shuffle joins on 8-byte hashed gram
        // keys, model-side strings dropped BEFORE the exchange (see
        // scaladoc; total/n1all stay broadcast — they are 1 row)
        val keyed = toks
          .withColumn("gk", xxhash64(col("prev"), col("t")))
          .withColumn("pk", xxhash64(col("prev")))
          .withColumn("wk", xxhash64(col("t")))
        keyed
          .join(c2.withColumn("b_gk", xxhash64(col("b_prev"),
              col("b_cur"))).drop("b_prev", "b_cur"),
            col("prev").isNotNull && col("gk") === col("b_gk"), "left")
          .join(ctx.withColumn("v_k", xxhash64(col("v_t"))).drop("v_t"),
            col("prev").isNotNull && col("pk") === col("v_k"), "left")
          .join(cont.withColumn("w_k", xxhash64(col("w_t"))).drop("w_t"),
            col("wk") === col("w_k"), "left")
          .join(c1.withColumn("u_k", xxhash64(col("u_t"))).drop("u_t"),
            col("wk") === col("u_k"), "left")
      }
    val scored = joined
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(n1all))
      .select(col("doc"),
        when(col("prev").isNull && col("c1").isNotNull,
            length(expr("bin(tt)")) - length(expr("bin(c1)")))
        .when(col("prev").isNull, length(expr("bin(tt)")))
        .when(col("cv").isNotNull,
          when(num >= 1L,
              length(bin(den)) - length(bin(num)))
            .otherwise(length(bin(den)) + lit(1)))
        .otherwise(
          when(contOnlyNum >= 1L,
              length(expr("bin(n1all)")) - length(bin(contOnlyNum)))
            .otherwise(length(expr("bin(n1all)")) + lit(1)))
        .cast("long").as("bits"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("total_bits"))
    docs.select(col(idCol).as("doc"))
      .join(scored, Seq("doc"), "left")
      .select(
        col("doc").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0d))
          .otherwise(col("total_bits").cast("double") / col("n_tokens"))
          .as("avg_bits"))
      .withColumn("keep",
        (col("n_tokens") > 0 && col("avg_bits") < keepBelowBits)
          .cast("long"))
  }

  /** Filter-FUNNEL accounting — the observability operator every
    * production cleaning pipeline needs next to the filters
    * themselves: for an ORDERED battery of keep-predicates, report per
    * rule (1) how many documents fail it outright, (2) how many are
    * killed AT that stage (fail it having passed all earlier rules —
    * the funnel attribution that tells you which rule actually costs
    * corpus), and (3) how many survive through it. Rule order matters
    * to `n_killed_here` by design — that is the number a pipeline
    * owner tunes thresholds by (a rule with big `n_failing` but tiny
    * `n_killed_here` is shadowed by earlier rules).
    *
    * Shape: one pass — every flag is computed map-side, all 3·|rules|
    * counters fold in a single combinable aggregate (one 1-row
    * exchange), then `stack` unpivots driver-free to one row per rule.
    * Null predicate results count as FAIL (a doc a rule cannot judge
    * should not silently pass a cleaning funnel).
    */
  def filterFunnel(df: org.apache.spark.sql.DataFrame,
                   rules: Seq[(String, Column)])
      : org.apache.spark.sql.DataFrame = {
    require(rules.nonEmpty, "filterFunnel needs at least one rule")
    val flagged = rules.zipWithIndex.foldLeft(df) {
      case (d, ((_, pred), i)) =>
        d.withColumn(s"__p$i", coalesce(pred.cast("boolean"), lit(false)))
    }
    val aggs = rules.indices.flatMap { i =>
      val passUpTo = (0 to i).map(j => col(s"__p$j")).reduce(_ && _)
      val passPrev =
        if (i == 0) lit(true)
        else (0 until i).map(j => col(s"__p$j")).reduce(_ && _)
      Seq(
        sum((!col(s"__p$i")).cast("long")).as(s"fail_$i"),
        sum((passPrev && !col(s"__p$i")).cast("long")).as(s"kill_$i"),
        sum(passUpTo.cast("long")).as(s"surv_$i"))
    }
    val one = flagged.agg(aggs.head, aggs.tail: _*)
    // Typed-Column unpivot, NOT a selectExpr string splice: rule names
    // are a free-form caller surface, and a name containing a quote
    // would break (or inject into) a stack() SQL string. lit(name) is
    // safe for any string.
    val rows = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(
        lit((i + 1).toLong).as("rule_idx"),
        lit(name).as("rule"),
        coalesce(col(s"fail_$i"), lit(0L)).as("n_failing"),
        coalesce(col(s"kill_$i"), lit(0L)).as("n_killed_here"),
        coalesce(col(s"surv_$i"), lit(0L)).as("n_survivors"))
    }
    one.select(explode(array(rows: _*)).as("__r")).select("__r.*")
  }

  /** Total blocklist occurrence count over `textCol` — the native
    * Aho-Corasick expression ([[graft.plans.MultiContainsCount]]): one
    * compiled scan per row regardless of pattern-set size, vs a regex
    * alternation's per-position alternative trials or K `contains`
    * rescans. Patterns become a foldable array literal (safe for any
    * content — no SQL splice), so the automaton builds once and ships
    * to executors as a reference object. The blocklist decision is
    * `blocklistHits(c, pats) > 0`.
    */
  def blocklistHits(textCol: Column, patterns: Seq[String]): Column =
    call_function("multi_contains_count", textCol,
      array(patterns.map(lit): _*))

  /** BM25 top-k retrieval over the corpus for a FIXED set of query
    * terms (Robertson et al., TREC-3 Okapi weighting) — the lexical
    * side of the similarity-search family (l5/l6/l11 are the dense
    * side). Per matching doc:
    *
    *   score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
    *
    * with idf in integer log2 bits (the [[unigramSurprisal]]
    * convention): idf(t) = 1 + bitlen(N) - bitlen(df_t), shifted +1 so
    * ubiquitous terms keep a positive weight (the BM25+ flavor of the
    * lower bound; exact-log idf would need libm ln, which is banned
    * from oracle-matched output — last-ulp skew across engines).
    *
    * Cross-engine determinism: per-term tf comes from the token array
    * (map-only, no explode/shuffle); every float op is exactly-rounded
    * IEEE arithmetic mirrored operation-for-operation in the DuckDB
    * oracle, and the per-doc sum folds over terms in SORTED term order
    * on both engines, so scores are bit-identical and the (score desc,
    * doc) ranking agrees.
    *
    * Scale shape: one map pass computes dl + per-term tfs (the term
    * list is the bounded query, not the vocabulary — no per-token
    * state); a single 1-row aggregate (N, total dl, per-term df)
    * broadcasts back; scoring is map-only; top-k is orderBy+limit
    * (TakeOrdered — per-partition heaps, no global sort). The final
    * rank window runs over ≤ k rows, bounded by construction.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val terms = queryTerms.distinct.sorted
    val base = docs
      .select(col(idCol).as("doc"), tokens(textCol).as("arr"))
      .withColumn("dl", size(col("arr")).cast("long"))
    val wtf = terms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"tf_$i",
        size(filter(col("arr"), x => x === lit(t))).cast("long"))
    }.drop("arr")
    val statCols: Seq[Column] =
      count(lit(1)).cast("long").as("n") +:
      sum("dl").cast("double").as("tot") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L))
          .cast("long").as(s"df_$i"))
    val stats = wtf.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("tot") / col("n").cast("double")
    def contrib(i: Int): Column = {
      val tf = col(s"tf_$i").cast("double")
      val idf = (lit(1) + length(expr("bin(n)"))
        - length(expr(s"bin(df_$i)"))).cast("double")
      when(col(s"tf_$i") > 0,
        idf * ((tf * (lit(k1) + lit(1.0))) /
          (tf + lit(k1) * ((lit(1.0) - lit(b))
            + lit(b) * (col("dl").cast("double") / avgdl)))))
        .otherwise(lit(0.0))
    }
    val scored = wtf.crossJoin(broadcast(stats))
      .withColumn("score",
        terms.indices.foldLeft(lit(0.0))((acc, i) => acc + contrib(i)))
      .withColumn("n_matched",
        terms.indices.map(i =>
          when(col(s"tf_$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
      .filter(col("n_matched") > 0)
      .select(col("doc"), col("dl"), col("n_matched"), col("score"))
    scored.orderBy(col("score").desc, col("doc")).limit(k)
      .withColumn("rnk", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc"))).cast("long"))
      .select(col("doc").as(idCol), col("rnk"), col("score"),
        col("dl"), col("n_matched"))
  }

  /** Batch BM25: top-k per query for a whole TABLE of (query_id, term)
    * rows at once — the inverted-index join form of [[bm25TopK]], for
    * retrieval at "mine the corpus for 10k queries" scale where one
    * pass per query would be absurd. Same scoring formula and integer-
    * bit idf as [[bm25TopK]]; a doc matching query terms gets
    * bit-identical per-term contributions, and the per-(query, doc)
    * sum folds over collected contributions in sorted term order —
    * deterministic, so the single-query form and the DuckDB oracle
    * agree exactly.
    *
    * Scale shape: tokens explode once, semi-filter against the
    * broadcast distinct query-term set (tiny vs vocabulary) BEFORE the
    * only corpus-sized shuffle — the (doc, term) tf aggregation, whose
    * key space is bounded by matched terms, not the vocabulary. df and
    * the query table broadcast back; the per-query top-k runs through
    * [[graft.functions.BoundedTopK]] — a mergeable O(k)-state partial
    * aggregation, NOT a `Window.partitionBy(query_id)` over the scored
    * stream (which would funnel a common-term query's entire
    * matched-doc set — billions of rows at 100 TB — into one task;
    * only partitions * k rows per query reach the final shuffle here,
    * plan-pinned by QueryPlanSpec). Ordered-fold sums are interpreted
    * per element, but only over the <= |query terms| matched
    * contributions per doc — never over the corpus.
    */
  def bm25BatchTopK(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc"), tokens(textCol).as("arr"))
      .withColumn("dl", size(col("arr")).cast("long"))
    val stats = base.agg(count(lit(1)).cast("long").as("n"),
      sum("dl").cast("double").as("tot"))
    val qterms = queries.select(col("query_id"), col("term")).distinct()
    val termSet = qterms.select(col("term").as("t")).distinct()
    val tf = base
      .select(col("doc"), col("dl"), explode(col("arr")).as("t"))
      .join(broadcast(termSet), Seq("t"))
      .groupBy("doc", "dl", "t")
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfreq = tf.groupBy("t")
      .agg(count(lit(1)).cast("long").as("df"))
    val avgdl = col("tot") / col("n").cast("double")
    val tfd = col("tf").cast("double")
    val contrib = tf
      .join(broadcast(dfreq), Seq("t"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms.withColumnRenamed("term", "t")), Seq("t"))
      .withColumn("c",
        (lit(1) + length(expr("bin(n)")) - length(expr("bin(df)")))
          .cast("double") *
        ((tfd * (lit(k1) + lit(1.0))) /
          (tfd + lit(k1) * ((lit(1.0) - lit(b))
            + lit(b) * (col("dl").cast("double") / avgdl)))))
    val perDoc = contrib.groupBy("query_id", "doc", "dl").agg(
      count(lit(1)).cast("long").as("n_matched"),
      aggregate(
        sort_array(collect_list(struct(col("t").as("term"),
          col("c").as("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as("score"))
    base.schema("doc").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rankTopK[Long](perDoc, idCol, k)
      case org.apache.spark.sql.types.IntegerType =>
        rankTopK[Int](perDoc, idCol, k)
      case org.apache.spark.sql.types.StringType =>
        rankTopK[String](perDoc, idCol, k)
      case dt => throw new IllegalArgumentException(
        s"bm25BatchTopK: unsupported doc-id type $dt (need long/int/string)")
    }
  }

  /** Per-query bounded top-k over the scored (query_id, doc) stream:
    * groupBy(query_id) + [[graft.functions.BoundedTopK]] — partial
    * aggregates keep O(k) state per (partition, query) and merge, so no
    * single task ever sees one query's full matched-doc set. Emits the
    * same (rnk, score, dl, n_matched) rows as
    * `row_number() OVER (PARTITION BY query_id ORDER BY score DESC,
    * doc) <= k` — bit-identically, since scores compare exactly and
    * ties break on doc.
    */
  private def rankTopK[D: Ordering: _root_.scala.reflect.runtime.universe.TypeTag](
      perDoc: DataFrame, idCol: String, k: Int): DataFrame = {
    val top = udaf(new graft.functions.BoundedTopK[D](k))
    perDoc.groupBy("query_id")
      .agg(top(col("score"), col("doc"), col("dl"), col("n_matched"))
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("query_id"), col("r.doc").as(idCol),
        (col("pos") + 1).cast("long").as("rnk"),
        col("r.score").as("score"), col("r.dl").as("dl"),
        col("r.nMatched").as("n_matched"))
  }

  /** Heavy hitters over the corpus vocabulary: every token whose
    * frequency exceeds phi * total_tokens, with its EXACT count —
    * computed without ever shuffling the full vocabulary.
    *
    * Pass 1 runs a [[graft.functions.MisraGries]] summary (bounded
    * state: `capacity` counters per partial aggregate) whose guarantee
    * — no false negatives above n/(capacity+1) — makes its <= capacity
    * surviving terms a SUPERSET of the answer whenever
    * phi >= 1/(capacity+1) (enforced). Pass 2 re-counts just those
    * candidates exactly (an isin filter pushed to the scan + a
    * <= capacity-key aggregation) and applies the exact threshold.
    *
    * The sketch pass's counter values are arrival-order dependent, but
    * the candidate SET the recount starts from is a superset of the
    * answer under any order, so the final output is deterministic —
    * a plain GROUP BY / HAVING oracle checks it (x18). The driver
    * materializes only the bounded summary row (<= capacity entries —
    * the IVF lazy-centroid convention).
    *
    * At 100 TB this replaces l18's full-vocabulary shuffle with two
    * scans and O(capacity) state/bytes per partition: the mergeable-
    * summaries pattern (Agarwal et al. 2013).
    */
  def heavyHitters(docs: DataFrame, textCol: String, phi: Double,
                   capacity: Int): DataFrame = {
    require(phi * (capacity + 1).toDouble >= 1.0,
      s"phi=$phi must be >= 1/(capacity+1) or the sketch may drop a " +
        "true heavy hitter")
    val spark = docs.sparkSession
    import spark.implicits._
    val summary = docs.select(explode(tokens(textCol)).as("t")).as[String]
      .select(new graft.functions.MisraGries(capacity).toColumn.name("s"))
      .head()
    recountHeavy(docs, textCol, summary.counts.keys.toSeq.sorted,
      summary.n, phi)
  }

  /** Count-Min sketch of the whitespace-token stream: ONE row holding
    * the row-major `depth * width` counter grid
    * ([[graft.functions.CountMin]]). Tokens hash through the codegen'd
    * poly_hash before the aggregate, so the per-token work is compiled
    * and the aggregator input is a primitive long. The grid is a
    * LINEAR sketch: partition merges are elementwise adds, so the
    * result is bit-deterministic under any partitioning and the
    * streaming form is a per-batch fold (StreamOps.cmsForeachBatch).
    */
  def cmsTokenSketch(docs: DataFrame, textCol: String, depth: Int,
                     width: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = docs.select(explode(tokens(textCol)).as("t"))
      .select(expr("poly_hash(t)").as("h")).as[Long]
    // typed select (the untyped overload rejects TypedColumn aggregates)
    val grid: org.apache.spark.sql.Dataset[Array[Long]] = hashed.select(
      new graft.functions.CountMin(depth, width).toColumn.name("sk"))
    grid.toDF()
  }

  /** Exact-vs-sketch frequency check table: the `topK` exact-heaviest
    * tokens (count desc, token asc — deterministic at the boundary)
    * with their Count-Min point estimates. The exact side is the
    * CHECK; the sketch column is the artifact a 100 TB run would keep
    * (bounded state, any-token point queries). est >= exact always —
    * collisions only inflate — which the l51 oracle's hash match
    * verifies counter by counter.
    */
  def cmsTopFrequencies(docs: DataFrame, textCol: String, depth: Int,
                        width: Int, topK: Int): DataFrame = {
    val sketch = cmsTokenSketch(docs, textCol, depth, width)
    val top = docs.select(explode(tokens(textCol)).as("t"))
      .select(col("t"), expr("poly_hash(t)").as("h"))
      .groupBy("t", "h").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("t"))
      .limit(topK)
    top.crossJoin(broadcast(sketch))
      .select(col("t").as("token"), col("exact"),
        graft.functions.CountMin.estimate(col("sk"), "h", depth, width)
          .as("est"))
  }

  /** The canonical Gopher "required word" list (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1): a document must contain at least two of
    * these to pass the stop-word rule. Public so the l63 oracle SQL
    * embeds the identical list.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality rule battery (Rae et al. 2021, §A1.1) — the
    * document-level repetition rule is [[repetitionRatio]] (l20); these
    * are the remaining seven structural rules, evaluated over a page
    * that may contain newlines:
    *
    *  1. word count within [minWords, maxWords]
    *  2. mean word length within [3, 10]
    *  3. symbol-to-word ratio (`#` and `...`) <= 0.1
    *  4. fraction of lines starting with a bullet (`- `) <= 0.9
    *  5. fraction of lines ending with `...` <= 0.3
    *  6. fraction of words containing an alphabetic character >= 0.8
    *  7. at least 2 distinct [[GopherStopwords]] present
    *
    * keep = all seven. Map-only, one codegen'd projection per doc; the
    * page, word array and line array are each bound ONCE as lambda
    * variables (the transform-over-singleton idiom — referencing a
    * computed array from several expressions makes CollapseProject
    * re-evaluate it per reference). Words come from the page with
    * newlines flattened to spaces; lines from splitting on newline,
    * empties dropped on both axes. Ratios are small-int IEEE divisions
    * — bit-reproducible cross-engine (the l20 precedent). Every ratio
    * rule is guarded by `size > 0` in BOTH engines (lazy IF/CASE, the
    * division never evaluates on the empty side): a blank or
    * whitespace-only page FAILS the rule (0), never NULL — the l58
    * empty-doc hazard, pinned by TextAnalysisSpec.
    */
  def gopherRules(pageCol: String, minWords: Int = 50,
                  maxWords: Int = 100000): Column = {
    val nl = "\n"
    val stopArr =
      GopherStopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    expr(
      s"""element_at(transform(array($pageCol), p ->
          element_at(transform(array(named_struct(
              'w', filter(split(translate(p, '$nl', ' '), ' '),
                     t -> length(t) > 0),
              'l', filter(split(p, '$nl'), x -> length(x) > 0),
              'nsym', (length(p) - length(replace(p, '#', '')))
                + (length(p) - length(replace(p, '...', ''))) DIV 3)), q ->
            named_struct(
              'n_words', CAST(size(q.w) AS BIGINT),
              'stop_hits', CAST(size(filter($stopArr,
                  s -> array_contains(q.w, s))) AS BIGINT),
              'r_wordcount', CAST(size(q.w) >= $minWords
                  AND size(q.w) <= $maxWords AS BIGINT),
              'r_meanlen', CAST(IF(size(q.w) = 0, false,
                  CAST(aggregate(q.w, CAST(0 AS BIGINT),
                    (a, t) -> a + length(t)) AS DOUBLE)
                    / CAST(size(q.w) AS BIGINT) >= CAST(3.0 AS DOUBLE)
                  AND CAST(aggregate(q.w, CAST(0 AS BIGINT),
                    (a, t) -> a + length(t)) AS DOUBLE)
                    / CAST(size(q.w) AS BIGINT) <= CAST(10.0 AS DOUBLE))
                  AS BIGINT),
              'r_symbol', CAST(IF(size(q.w) = 0, false,
                  CAST(q.nsym AS DOUBLE)
                  / CAST(size(q.w) AS BIGINT)
                  <= CAST(0.1 AS DOUBLE)) AS BIGINT),
              'r_bullet', CAST(IF(size(q.l) = 0, false,
                  CAST(size(filter(q.l,
                  x -> startswith(x, '- '))) AS DOUBLE)
                  / CAST(size(q.l) AS BIGINT)
                  <= CAST(0.9 AS DOUBLE)) AS BIGINT),
              'r_ellipsis', CAST(IF(size(q.l) = 0, false,
                  CAST(size(filter(q.l,
                  x -> endswith(x, '...'))) AS DOUBLE)
                  / CAST(size(q.l) AS BIGINT)
                  <= CAST(0.3 AS DOUBLE)) AS BIGINT),
              'r_alpha', CAST(IF(size(q.w) = 0, false,
                  CAST(size(filter(q.w,
                  t -> t rlike '[A-Za-z]')) AS DOUBLE)
                  / CAST(size(q.w) AS BIGINT)
                  >= CAST(0.8 AS DOUBLE)) AS BIGINT),
              'r_stopwords', CAST(size(filter($stopArr,
                  s -> array_contains(q.w, s))) >= 2 AS BIGINT))), 1)), 1)""")
  }

  /** DuckDB mirror of [[gopherRules]]: same rules, same thresholds,
    * emitted as a projection list over `w` (word array, newlines
    * flattened) / `l` (non-empty lines) / `nsym` (symbol count)
    * aliases the caller binds once in a CTE.
    */
  def gopherRulesDuckSql(minWords: Int = 50,
                         maxWords: Int = 100000): String = {
    val stopList =
      GopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    // words / lines / symbol count bound once via a lateral-style CTE is
    // the caller's job; this emits expressions over w/l/nsym aliases.
    s"""CAST(len(w) AS BIGINT) AS n_words,
      CAST(len(list_filter($stopList, s -> list_contains(w, s)))
        AS BIGINT) AS stop_hits,
      CAST(len(w) >= $minWords AND len(w) <= $maxWords AS BIGINT)
        AS r_wordcount,
      CAST(CASE WHEN len(w) = 0 THEN FALSE ELSE
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(w, t -> CAST(length(t) AS BIGINT))),
          (a, b) -> a + b) AS DOUBLE) / CAST(len(w) AS BIGINT)
          >= CAST(3.0 AS DOUBLE)
        AND CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(w, t -> CAST(length(t) AS BIGINT))),
          (a, b) -> a + b) AS DOUBLE) / CAST(len(w) AS BIGINT)
          <= CAST(10.0 AS DOUBLE) END AS BIGINT) AS r_meanlen,
      CAST(CASE WHEN len(w) = 0 THEN FALSE ELSE
        CAST(nsym AS DOUBLE) / CAST(len(w) AS BIGINT)
        <= CAST(0.1 AS DOUBLE) END AS BIGINT) AS r_symbol,
      CAST(CASE WHEN len(l) = 0 THEN FALSE ELSE
        CAST(len(list_filter(l, x -> starts_with(x, '- ')))
        AS DOUBLE) / CAST(len(l) AS BIGINT)
        <= CAST(0.9 AS DOUBLE) END AS BIGINT) AS r_bullet,
      CAST(CASE WHEN len(l) = 0 THEN FALSE ELSE
        CAST(len(list_filter(l, x -> ends_with(x, '...')))
        AS DOUBLE) / CAST(len(l) AS BIGINT)
        <= CAST(0.3 AS DOUBLE) END AS BIGINT) AS r_ellipsis,
      CAST(CASE WHEN len(w) = 0 THEN FALSE ELSE
        CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
        AS DOUBLE) / CAST(len(w) AS BIGINT)
        >= CAST(0.8 AS DOUBLE) END AS BIGINT) AS r_alpha,
      CAST(len(list_filter($stopList, s -> list_contains(w, s))) >= 2
        AS BIGINT) AS r_stopwords"""
  }

  /** Mojibake repair table: UTF-8 bytes misdecoded as Latin-1/cp1252 —
    * the single most common crawl-text encoding damage ("cafÃ©" for
    * "café"). Curated to digraphs whose misdecoded form is PRINTABLE
    * (the cp1252-undefined/control continuations are a decoder's job,
    * not a string rewrite's — documented limitation). Applied
    * longest-first so the 3-byte punctuation forms (`â€œ`) never lose
    * their continuation bytes to a shorter rule; within a length,
    * lexicographic order keeps the fold deterministic. Every pair maps
    * misdecoded → intended codepoint.
    */
  val MojibakePairs: Seq[(String, String)] = Seq(
    "â€œ" -> "“", // â€œ -> left double quote
    // right double quote: the 0x9D continuation is cp1252-undefined,
    // so it survives as U+009D in some damage and is dropped in
    // other crawls - BOTH forms map to ”. The full form is
    // written with an escape: 0x9D is invisible in source and
    // silently breaks literal matching (found by this file's own
    // spec).
    ("â€\u009D") -> "”", // â€ + U+009D
    "â€" -> "”", // bare â€ (continuation byte dropped)
    "â€™" -> "’", // â€™ -> right single quote
    "â€“" -> "–", // â€“ -> en dash
    "â€”" -> "—", // â€” -> em dash
    "â€¦" -> "…", // â€¦ -> ellipsis
    "Ã©" -> "é", // Ã© -> é
    "Ã¨" -> "è", // Ã¨ -> è
    "Ã¡" -> "á", // Ã¡ -> á
    "Ã³" -> "ó", // Ã³ -> ó
    "Ãº" -> "ú", // Ãº -> ú
    "Ã­" -> "í", // Ã­ -> í
    "Ã±" -> "ñ", // Ã± -> ñ
    "Ã§" -> "ç", // Ã§ -> ç
    "Ã¤" -> "ä", // Ã¤ -> ä
    "Ã¶" -> "ö", // Ã¶ -> ö
    "Ã¼" -> "ü", // Ã¼ -> ü
    "Ã¯" -> "ï", // Ã¯ -> ï
    "Â«" -> "«", // Â« -> «
    "Â»" -> "»", // Â» -> »
    "Â·" -> "·"  // Â· -> ·
  ).sortBy { case (bad, _) => (-bad.length, bad) }

  /** Repair [[MojibakePairs]] damage: one fold of literal `replace`
    * calls in the table's fixed order — map-only, codegen'd, no regex.
    * Non-overlapping left-to-right replace semantics are identical in
    * Spark and DuckDB, so the result is bit-identical cross-engine
    * regardless of pathological inputs.
    */
  def mojibakeRepair(textCol: Column): Column =
    MojibakePairs.foldLeft(textCol) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /** DuckDB mirror of [[mojibakeRepair]] — the same fold as nested
    * `replace` calls (literal, not regex) in the same order.
    */
  def mojibakeRepairDuckSql(textExpr: String): String =
    MojibakePairs.foldLeft(textExpr) { case (e, (bad, good)) =>
      s"replace($e, '$bad', '$good')"
    }

  /** Count of mojibake marker characters left in the text — the
    * "this document still needs a real decoder pass" signal: leading
    * bytes of misdecoded UTF-8 sequences (Ã = 0xC3, Â = 0xC2, â = 0xE2
    * continuations). Character-count arithmetic (length minus
    * replace-away), no regex.
    */
  def mojibakeMarkers(textCol: Column): Column =
    Seq("Ã", "Â", "â").map { m =>
      length(textCol) - length(replace(textCol, lit(m), lit("")))
    }.reduce(_ + _).cast("long")

  /** DuckDB mirror of [[mojibakeMarkers]]. */
  def mojibakeMarkersDuckSql(textExpr: String): String =
    Seq("Ã", "Â", "â").map { m =>
      s"(length($textExpr) - length(replace($textExpr, '$m', '')))"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  /** Pass 2 of [[heavyHitters]], shared with the streaming form
    * (StreamOps.heavyHittersFromState): exact recount of a BOUNDED
    * candidate term set over the corpus, thresholded at phi * n. The
    * isin filter over <= capacity strings reaches the scan; the
    * aggregation carries <= capacity keys.
    */
  def recountHeavy(docs: DataFrame, textCol: String,
                   candidates: Seq[String], n: Long,
                   phi: Double): DataFrame = {
    val toks = docs.select(explode(tokens(textCol)).as("t"))
    if (candidates.isEmpty)
      toks.limit(0).groupBy(col("t").as("term"))
        .agg(count(lit(1)).cast("long").as("freq"))
    else
      toks.filter(col("t").isin(candidates: _*))
        .groupBy(col("t").as("term"))
        .agg(count(lit(1)).cast("long").as("freq"))
        .filter(col("freq").cast("double") >
          lit(phi) * lit(n).cast("double"))
  }
}
