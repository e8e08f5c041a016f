package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Bpe, CorpusAssembly, WordPiece, Dedup, Html, IngestPipeline, Multimodal, Pca, QualityClassifier, Similarity, SuffixArray, TextAnalysis, Urls}
import graft.operators.TextAnalysis.{shinglesDuckSql, tokensDuckSql, tokensSql, wordsDuckSql, wordsSql}

/** LLM training-data pipeline operators over `documents` / `embeddings`:
  * dedup (exact, n-gram Jaccard, MinHash-LSH, SimHash), similarity search
  * (brute-force + LSH ANN), text analysis (lang-id, quality, tokens,
  * fingerprints) and multimodal binary plumbing.
  */
object LlmOps {

  /** One DuckDB spelling of [[TextAnalysis.splitAssign]]'s 80/10 CASE,
    * interpolated by every mirror that replays a split — when the
    * operator's mixing changed (round 13: two LCG rounds with high-bit
    * extraction), only [[TextAnalysis.splitBucketDuckSql]] moved.
    */
  private def splitCaseDuck(e: String): String = {
    val b = TextAnalysis.splitBucketDuckSql(e)
    s"""CASE WHEN $b < 80 THEN 'train'
             WHEN $b < 90 THEN 'val'
             ELSE 'test' END"""
  }

  /** One DuckDB dot product of two DOUBLE[] expressions over positions
    * 1 until `bound`: `"65"` for the 64-dim embeddings, `"len(a) + 1"`
    * for any width. The prepended 0.0 keeps the sum a DOUBLE, and 0.0
    * rather than NULL for an empty list.
    */
  private def duckDot(a: String, b: String, bound: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, $bound), i -> $a[i] * $b[i])),
        (x, y) -> x + y)"""

  /** Cosine of two DOUBLE[] expressions of any width, by [[duckDot]]. */
  private def duckCosine(a: String, b: String): String =
    s"""${duckDot(a, b, s"len($a) + 1")}
          / (sqrt(${duckDot(a, a, s"len($a) + 1")})
           * sqrt(${duckDot(b, b, s"len($b) + 1")}))"""

  /** Force DuckDB to MATERIALIZE the named CTEs: its optimizer
    * inlines a CTE at every reference site, so a long stage chain
    * whose tail references upstream stages repeatedly re-evaluates
    * the whole prefix per reference — the l71 funnel's mirror ran
    * 130 s and climbing at sf0.001 before this, 0.3 s after.
    * Recursive CTE heads (`name(args) AS (`) are untouched by the
    * `name AS (` pattern, which is required: DuckDB rejects
    * MATERIALIZED on recursive CTEs.
    */
  private def materializeCtes(sql: String, names: Seq[String]): String =
    names.foldLeft(sql) { (acc, n) =>
      // quote the name (it is data, not a pattern) and fail LOUDLY on a
      // non-match: a silently-skipped rename/drift would reintroduce the
      // 100×+ re-evaluation this hint exists to prevent
      val out = acc.replaceFirst(
        "\\b" + java.util.regex.Pattern.quote(n) + " AS \\(",
        java.util.regex.Matcher.quoteReplacement(n) + " AS MATERIALIZED (")
      require(out != acc,
        s"materializeCtes: CTE '$n' not found in the mirror SQL — " +
          "name drift would silently lose the MATERIALIZED hint")
      out
    }

  /** The l12-family fixture corpus: embeddings unioned with a
    * deterministic slightly-perturbed twin of each vector (cosine ~0.97
    * to its original — the standard dedup scenario of re-crawled /
    * re-encoded documents). ONE definition consumed by l12, l12c,
    * l12p/l12cp's DuckDB oracle mirror, and tools/ProbeL12C: l12c's
    * contract that its under-cap rows equal l12's only holds while all
    * consumers build the identical corpus.
    *
    * The per-element jitter is a Knuth multiplicative hash folded to
    * [-0.04, 0.04) — NOT sin(): every step is exact-integer arithmetic
    * or an exactly-rounded IEEE double op (/, *, -), so any SQL engine
    * reproduces the twin floats bit for bit (libm sin differs in the
    * last ulp across engines, which the downstream cast-to-float would
    * occasionally fail to absorb — the same class of trap as ln/log in
    * oracle-matched output).
    */
  def twinnedEmbeddings(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val twins = base.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      expr(s"""zip_with(embedding, sequence(0, size(embedding) - 1),
              (x, d) -> x + CAST(0.04D * (CAST(pmod(
                (CAST(d AS BIGINT) + vec_id + 1L) * 2654435761L, 4096L)
                AS DOUBLE) / 2048.0D - 1.0D) AS FLOAT))""")
        .as("embedding"))
    base.unionByName(twins)
  }

  /** The twin corpus as a DuckDB CTE fragment (table alias `tw`):
    * the exact mirror of [[twinnedEmbeddings]], consumed by the l12p /
    * l12cp oracles. embedding[i] is FLOAT in both engines; the sum of
    * two floats is exactly representable in double, so DuckDB's
    * promote-add-then-cast equals Spark's native float add bit for bit.
    */
  private def twinnedSql: String =
    """tw AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
          list_transform(range(1, len(embedding) + 1),
            i -> CAST(embedding[i] + CAST(0.04 * (
              CAST(((CAST(i - 1 AS BIGINT) + vec_id + 1) * 2654435761)
                % 4096 AS DOUBLE) / 2048.0 - 1.0) AS FLOAT) AS FLOAT))
            AS embedding
        FROM embeddings)"""

  // L1 — exact dedup: content digest -> keep-min-id. One hash shuffle;
  // the shape that holds at 100 TB.
  private val l1 = QueryDef("l1_exact_dedup", (s, dir) => {
    Dedup.exactDupGroups(Tables.documents(s, dir), "doc_id", "text")
  }, Some("""SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ',
      'g')) AS content_hash, min(doc_id) AS keep_id,
      CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1"""), headline = true)

  // L22 — incremental (cross-snapshot) exact dedup: the daily-ingest
  // path, distinct from l1's within-corpus grouping and l15's
  // cross-corpus n-gram decontamination. The "new batch" is a
  // deterministic re-ingest scenario over the standing corpus: every
  // 5th document re-crawled verbatim under a new id (must flag
  // dup_of_existing = 1) and every 7th re-ingested with revised content
  // (must flag 0) — both flag values non-vacuous on the driver's data,
  // which carries no natural exact duplicates.
  private val l22 = QueryDef("l22_incremental_dedup", (s, dir) => {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val recrawled = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val revised = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(col("text"), lit(" rev2")).as("text"))
    Dedup.incrementalDupFlags(docs, recrawled.unionByName(revised),
      "doc_id", "text")
  }, Some("""WITH ex AS (SELECT DISTINCT
        sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
        FROM documents),
      b AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents
          WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text || ' rev2' AS text
          FROM documents WHERE doc_id % 7 = 0),
      bh AS (SELECT doc_id,
        sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
        FROM b)
      SELECT bh.doc_id,
        CAST(ex.ch IS NOT NULL AS BIGINT) AS dup_of_existing
      FROM bh LEFT JOIN ex ON ex.ch = bh.ch"""))

  // L2 — exact 3-gram-Jaccard near-dup pairs, inverted-index blocked
  // (complete: J>0 requires a shared shingle), threshold 0.2.
  // ONE oracle definition for l2 (string shingles, mirrored verbatim)
  // AND l2h (xxhash64 shingle keys): the hashed path's contract is
  // value-identical output, so it must hash-match the same SQL.
  private val l2OracleSql = s"""WITH toks AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      sh AS (SELECT doc_id, ${shinglesDuckSql("tk")} s
        FROM toks WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) n FROM sh),
      ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
          CAST(count(*) AS BIGINT) inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
        CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
          AS jaccard
      FROM cand JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        >= 0.2"""

  private val l2 = QueryDef("l2_ngram_jaccard", (s, dir) => {
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.2)
  }, Some(l2OracleSql))
  // (l2 is deliberately NOT a bench headline: it is the exact quadratic
  // baseline that LSH exists to avoid — on this tiny-vocab synthetic
  // corpus common shingles make the inverted index pathologically dense.
  // The scale path is l3.)

  // L2H — l2's hashed-shingle-key scale form: shingle strings map once
  // through xxhash64 before any shuffle, cutting the inverted-index
  // exchange to 8-byte keys. Registered against the SAME DuckDB oracle
  // as l2: the contract is value-identical output (a 64-bit collision
  // is the only divergence, ~p^2/2^65), so the hash-match IS the
  // collision-freeness check at the gate SF. Shuffle-byte deltas at
  // sf5: SCALE_r08.md.
  private val l2h = QueryDef("l2h_ngram_jaccard_hashed", (s, dir) => {
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.2, hashedShingles = true)
  }, Some(l2OracleSql))

  // L2B — the capped form of L2: candidate generation ignores shingles
  // shared by more than 10 documents (one bounded-collector shuffle, see
  // Dedup.cappedCandidatePairs), surviving candidates verified against
  // FULL shingle sets. The cap is plain SQL (doc-frequency filter before
  // the self-join), so the capped semantics are oracle-checked end to
  // end. Honest benchmark note: on THIS corpus the cap does not beat l2's
  // wall-time — the synthetic vocab is so small that every shingle is
  // moderately common (df <= 50; the planted dup clusters share df~7-10
  // shingles, so cap 10 is the minimal full-recall setting), and the cap
  // trades 2/3 of the index-join volume for an array-verify per
  // candidate. The cap's value is the WORST case, not the average: one
  // df=10^6 boilerplate shingle makes the uncapped join generate 5*10^11
  // pairs while the capped form is unaffected — DedupSpec's boilerplate-
  // corpus test shows the ~100x candidate cut the moment hot shingles
  // actually exist.
  // ONE oracle for l2b AND l2bh (same value-identity contract as l2/l2h).
  private val l2bOracleSql = s"""WITH toks AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      sh AS (SELECT doc_id, ${shinglesDuckSql("tk")} s
        FROM toks WHERE len(tk) >= 3),
      ex AS (SELECT doc_id AS doc, unnest(s) AS shingle FROM sh),
      freq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
      kept AS (SELECT ex.doc, ex.shingle FROM ex
        JOIN freq USING (shingle) WHERE df <= 10),
      cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc < b.doc),
      inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
        FROM cand c JOIN ex ea ON ea.doc = c.doc_a
        JOIN ex eb ON eb.doc = c.doc_b AND eb.shingle = ea.shingle
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh)
      SELECT doc_a, doc_b,
        CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
          AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        >= 0.2"""

  private val l2b = QueryDef("l2b_ngram_jaccard_capped", (s, dir) => {
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.2, maxDocFreq = 10)
  }, Some(l2bOracleSql))

  // L2BH — capped AND hashed: the combination that actually ships at
  // 100 TB. The cap bounds the candidate-pair volume (l2b's job) and
  // the xxhash64 shingle keys shrink what the cap's single shuffle and
  // the per-candidate verify arrays CARRY — unlike uncapped l2, where
  // pair-row volume dwarfs key width and hashing buys nothing
  // (measured, SCALE_r08.md §1). Same oracle as l2b: value-identical
  // output is the contract.
  private val l2bh = QueryDef("l2bh_ngram_jaccard_capped_hashed",
    (s, dir) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.2, maxDocFreq = 10, hashedShingles = true)
    }, Some(l2bOracleSql))

  // L3 — MinHash-LSH near-dup (64 perms, 16x4 bands, exact verification).
  // Signatures use xxhash64, which DuckDB can't reproduce -> no SQL
  // oracle; recall vs the exact L2 result is pinned in DedupSpec. The
  // cross-engine-checkable sibling is L3P below.
  private val l3 = QueryDef("l3_minhash_lsh", (s, dir) => {
    Dedup.minHashLshPairs(Tables.documents(s, dir), "doc_id", "text")
  }, None, headline = true)

  // L3P — the PORTABLE-permutation MinHash-LSH (Dedup.Portable): affine
  // maps over the polynomial shingle hash instead of xxhash64, every
  // stage (signature mins, band folds, bucket join, exact verify)
  // mirrored in the DuckDB oracle below — the full LSH pipeline
  // hash-checked cross-engine. Default remains xxhash64 (l3).
  private val l3p = QueryDef("l3p_minhash_portable", (s, dir) => {
    Dedup.minHashLshPairsPortable(Tables.documents(s, dir), "doc_id",
      "text")
  }, Some {
    import Dedup.Portable._
    val minCols = (0 until 64).map(i =>
      s"min((${aCoef(i)} * h + ${bCoef(i)}) % $P) AS h$i")
      .mkString(",\n        ")
    val buckets = (0 until 16).map { b =>
      bucketFold((0 until 4).map(r => s"h${b * 4 + r}"))
    }.mkString("[", ",\n          ", "]")
    s"""WITH toks AS (SELECT doc_id,
          ${tokensDuckSql("text")} tk
          FROM documents),
        sh AS (SELECT doc_id, ${shinglesDuckSql("tk")} s
          FROM toks WHERE len(tk) >= 3),
        ex AS (SELECT doc_id AS doc, unnest(s) AS shingle FROM sh),
        hs AS (SELECT doc, list_reduce(list_prepend(CAST(7 AS BIGINT),
            list_transform(range(1, length(shingle) + 1),
              i -> CAST(ascii(shingle[i]) AS BIGINT))),
            (a, b) -> (a * 31 + b) % $P) AS h FROM ex),
        sig AS (SELECT doc, $minCols FROM hs GROUP BY doc),
        banded AS (SELECT doc, unnest(range(0, 16)) AS band,
          unnest($buckets) AS bucket FROM sig),
        cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
        inter AS (SELECT c.doc_a, c.doc_b,
            CAST(count(*) AS BIGINT) AS inter
          FROM cand c JOIN ex ea ON ea.doc = c.doc_a
          JOIN ex eb ON eb.doc = c.doc_b AND eb.shingle = ea.shingle
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh)
        SELECT doc_a, doc_b,
          CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
            AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
          >= 0.2"""
  })

  // L4 — 16-bit SimHash fingerprints with a PORTABLE polynomial token
  // hash, so the whole bit-vote pipeline is oracle-checkable in DuckDB.
  private val l4 = QueryDef("l4_simhash", (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.simHash16("text").as("simhash"))
  }, Some(s"""WITH toks AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      th AS (SELECT doc_id, list_transform(tk, t ->
          list_reduce(list_prepend(CAST(7 AS BIGINT),
            list_transform(range(1, length(t) + 1),
              i -> CAST(ascii(t[i]) AS BIGINT))),
            (a, b) -> (a * 31 + b) % 1073741789)) hs
        FROM toks)
      SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(0, 16), j ->
          CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(hs, h -> CASE
                WHEN (h // CAST(power(2, j) AS BIGINT)) % 2 = 1
                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
              (x, y) -> x + y) > 0
          THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
        (x, y) -> x + y) AS simhash
      FROM th"""))

  // L5 — brute-force cosine top-5: broadcast 10 query vectors, one corpus
  // scan, window top-k. Exact baseline for ANN.
  private val l5 = QueryDef("l5_knn_brute", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
  }, Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        FROM embeddings),
      q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
      scored AS (SELECT q_id, e.vec_id n_id,
          ${duckCosine("qv", "v")} AS cosine
        FROM e, q WHERE q_id <> e.vec_id),
      ranked AS (SELECT q_id, n_id, cosine,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS BIGINT) rnk
        FROM scored)
      SELECT q_id, rnk, n_id, cosine FROM ranked WHERE rnk <= 5"""),
    headline = true)

  // L6 — LSH-bucketed ANN: the scale path. 4 independent tables of 8
  // hyperplanes each — per-table collision for cosine-c pairs is r^8
  // (r = 1 - acos(c)/pi), unioned across tables for tunable recall at
  // linear cost. Plane components are engine-internal -> no SQL oracle;
  // recall vs L5 is pinned in SimilaritySpec.
  private val l6 = QueryDef("l6_ann_lsh", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dim = 64, nPlanes = 8, nTables = 4)
  }, None)

  // L6P — the SAME lshTopK call as L6, with a full DuckDB oracle: the
  // hyperplanes were never random, only engine-internal — embedding
  // their exact double components as SQL literals (Double.toString
  // round-trips) lets DuckDB recompute every bucket bit, candidate set
  // and cosine bit-identically. L6 itself stays rows-only purely to keep
  // one registry entry timing the production form.
  /** The l6p/l6m oracle body: DuckDB recomputes every bucket bit from
    * the embedded plane literals; only the candidate JOIN CONDITION
    * differs between exact-bucket (l6p) and multi-probe (l6m — a
    * Hamming-ball condition, because "query probes every bucket within
    * radius r" is exactly "candidate's bucket within Hamming r of the
    * query's").
    */
  private def lshOracleSql(candCond: String): String = {
    val planeRows = (0 until 32).map(g =>
      s"($g, ${Similarity.planeSqlLiteral(g, 64)})").mkString(",\n        ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
          FROM embeddings),
        planes AS (SELECT * FROM (VALUES $planeRows) t(g, pl)),
        bits AS (SELECT vec_id, g // 8 AS tbl,
            CASE WHEN ${duckDot("v", "pl", "65")} > 0
              THEN CAST(power(2, g % 8) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS bit
          FROM e CROSS JOIN planes),
        buck AS (SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
          FROM bits GROUP BY 1, 2),
        cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
          FROM buck q JOIN buck c
            ON q.tbl = c.tbl AND $candCond
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        scored AS (SELECT q_id, n_id,
            ${duckDot("eq.v", "ec.v", "65")}
            / (sqrt(${duckDot("eq.v", "eq.v", "65")})
             * sqrt(${duckDot("ec.v", "ec.v", "65")})) AS cosine
          FROM cand JOIN e eq ON eq.vec_id = q_id
          JOIN e ec ON ec.vec_id = n_id),
        ranked AS (SELECT q_id, n_id, cosine,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id) AS BIGINT) AS rnk
          FROM scored)
        SELECT q_id, rnk, n_id, cosine FROM ranked WHERE rnk <= 5"""
  }

  private val l6p = QueryDef("l6p_ann_lsh_portable", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dim = 64, nPlanes = 8, nTables = 4)
  }, Some(lshOracleSql("q.bucket = c.bucket")))

  // L6M — multi-probe LSH ANN (query-side Hamming-radius-2 probing,
  // Lv et al. VLDB 2007): the recall fix for the candidate cliff the
  // round-10 probe measured on the base corpus (recall@5 0.06 at the
  // l6 design point -> 0.80 with radius 2, SCALE_r10.md §3), at
  // query-side-only cost — the corpus index is identical to l6's.
  // FULL oracle: multi-probe's candidate set is exactly a Hamming-ball
  // join, so DuckDB mirrors it with bit_count(xor(buckets)) <= 2.
  private val l6m = QueryDef("l6m_ann_lsh_multiprobe", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, dim = 64, nPlanes = 8, nTables = 4,
      multiProbe = 2)
  }, Some(lshOracleSql("bit_count(xor(q.bucket, c.bucket)) <= 2")))

  // L11 — IVF ANN (16 cells, 4 probes): the other standard bucketed-ANN
  // shape. Cell assignment depends on the xxhash64-sampled centroids ->
  // no SQL oracle; recall-vs-probes behavior pinned in SimilaritySpec.
  // The hash-matched cross-engine form is l11p below.
  private val l11 = QueryDef("l11_ann_ivf", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4)
  }, None)

  // L11P — the SAME IVF pipeline (centroid sample -> argmax-cosine cell
  // assignment -> nProbe probing -> exact cosine top-k) with the one
  // engine-internal piece swapped for a portable equivalent: centroid
  // rank (id * 2654435761) % 2^32 instead of xxhash64 — exact BIGINT
  // arithmetic both engines compute verbatim, so the DuckDB oracle
  // mirrors every stage and the result hash-matches (same trick as l3p
  // and l6p).
  // The e/en/cent/sims/asg CTE prefix (portable centroid sample +
  // argmax-cosine cell assignment) is SHARED between the l11p and l38
  // oracles — one mirror of the IVF assignment machinery.
  private def ivfAsgCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        en AS (SELECT vec_id, v,
          sqrt(${duckDot("v", "v", "65")}) AS nrm FROM e),
        cent AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM en
          ORDER BY ${Similarity.portableCentroidRankSql("vec_id")}, vec_id
          LIMIT 16),
        sims AS (SELECT en.vec_id, en.v, en.nrm, c.cell,
            ${duckDot("en.v", "c.cv", "65")} / (en.nrm * c.cnrm) AS sim
          FROM en CROSS JOIN cent c),
        asg AS (SELECT vec_id AS n_id, v AS nv, nrm AS nnrm, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, cell) AS r FROM sims) WHERE r = 1)"""

  private val l11p = QueryDef("l11p_ann_ivf_portable", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4,
      centroidRank = Similarity.portableCentroidRank)
  }, Some {
    s"""WITH $ivfAsgCtes,
        prb AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, cell) AS r FROM sims
            WHERE vec_id < 10) WHERE r <= 4),
        scored AS (SELECT p.q_id, a.n_id,
            ${duckDot("p.qv", "a.nv", "65")} / (p.qnrm * a.nnrm) AS cosine
          FROM prb p JOIN asg a ON p.cell = a.cell
          WHERE p.q_id <> a.n_id),
        ranked AS (SELECT q_id, n_id, cosine,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id) AS BIGINT) AS rnk
          FROM scored)
        SELECT q_id, rnk, n_id, cosine FROM ranked WHERE rnk <= 5"""
  })

  // L38 — cluster-balanced sampling (the semantic-diversity curation
  // step): IVF cell assignment over the portable centroid sample, then
  // at most 50 kept per cell as the 50 smallest portable-LCG hashes —
  // the l37 per-domain cap transported to embedding space.
  // Over-represented semantic regions are capped, the tail survives
  // whole. The oracle reuses l11p's assignment CTEs verbatim and
  // replays the rank/cap; per-cell kept counts and kept-hash
  // fingerprints cross engines.
  private val l38 = QueryDef("l38_cluster_balance", (s, dir) => {
    Similarity.clusterBalancedSample(Tables.embeddings(s, dir),
        "vec_id", "embedding", nCells = 16, cap = 50,
        centroidRank = Similarity.portableCentroidRank)
      .groupBy("cell").agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("h")).otherwise(0L)).as("kept_h_sum"))
  }, Some(s"""WITH $ivfAsgCtes,
      hshd AS (SELECT n_id, cell,
        CAST((((n_id % 100000007 + 100000007) % 100000007)
          * 1103515245 + 12345) % 1000000 AS BIGINT) AS h FROM asg),
      rk AS (SELECT cell, h, CAST(row_number() OVER (PARTITION BY cell
          ORDER BY h, n_id) AS BIGINT) AS rnk FROM hshd)
      SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(sum(CASE WHEN rnk <= 50 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(sum(CASE WHEN rnk <= 50 THEN h ELSE 0 END) AS BIGINT)
          AS kept_h_sum
      FROM rk GROUP BY cell"""))

  // L12 — embedding-cosine near-dup pairs, multi-table-LSH-blocked with
  // exact verification (rows-only: buckets are xxhash64-derived), run at
  // the operator's DESIGN POINT: high-threshold dedup (tau=0.9, 12
  // planes x 8 tables -> 4096 buckets/table; a twin pair at cosine ~0.97
  // has per-table collision r^12 ~ 0.41 with r = 1 - acos(c)/pi, so
  // recall 1-(1-0.41)^8 ~ 0.985, while candidate cost ~ 2T/2^p = 1/256
  // of brute force). The synthetic embeddings carry no natural near-dups
  // (max pairwise cosine ~0.51 at sf0.01), so the corpus is unioned with
  // a deterministic slightly-perturbed twin of each vector (cosine ~0.97
  // to its original) — the standard dedup scenario of re-crawled /
  // re-encoded documents. A low-threshold config (tau~0.4) is NOT run
  // here: with few planes the blocking cost approaches brute force
  // (2T/2^p >= 1), and hyperplane LSH is the wrong tool at that
  // similarity scale.
  private val l12 = QueryDef("l12_cosine_near_dup", (s, dir) => {
    Similarity.cosineNearDupPairs(twinnedEmbeddings(s, dir),
      "vec_id", "embedding", threshold = 0.9, dim = 64, nPlanes = 12,
      nTables = 8)
  }, None)

  // L12C — l12's hot-bucket-capped scale path (rows-only for the same
  // reason as l12: buckets are xxhash64-derived). Same corpus, twins,
  // and LSH design point; cells over 64 members switch from all-pairs
  // to star-against-representative, which bounds the per-cell join
  // fan-out that spills at mega-cluster corpora (measured at 50x:
  // SCALE_r06.md). At this SF every cell is under the cap, so l12c's
  // rows equal l12's; SimilaritySpec pins the over-cap behavior
  // (linear star output, component recovery, twin recall) directly.
  private val l12c = QueryDef("l12c_cosine_near_dup_capped", (s, dir) => {
    Similarity.cosineNearDupPairsCapped(twinnedEmbeddings(s, dir),
      "vec_id", "embedding", threshold = 0.9, dim = 64, nPlanes = 12,
      nTables = 8, maxBucket = 64)
  }, None)

  /** Shared DuckDB fragments for the l12p/l12cp oracles: the twin
    * corpus, the 96 hyperplanes as exact double literals (12 planes x 8
    * tables — the same splitmix64-derived components the native
    * lsh_buckets expression uses; Double.toString round-trips), and the
    * per-(table, bucket) sign-pattern bucketing, mirrored stage by
    * stage from [[Similarity.lshBucketsAll]].
    */
  /** [[l12OracleBucketing]] generalized over the corpus source: the
    * caller supplies CTEs ending in `e(vec_id, v: DOUBLE[])` and gets
    * the shared norm/plane/bucket chain (planes are the same global
    * literals the native lsh_buckets uses for any (12, 8, 64) design
    * point — the l47 hashed-text corpus buckets with the identical
    * geometry the l12 family does).
    */
  private def lshOracleBucketing(corpusCtes: String): String = {
    val planeRows = (0 until 96).map(g =>
      s"($g, ${Similarity.planeSqlLiteral(g, 64)})").mkString(",\n        ")
    s"""$corpusCtes,
      en AS (SELECT vec_id, v,
          sqrt(${duckDot("v", "v", "65")}) AS nrm FROM e),
      planes AS (SELECT * FROM (VALUES $planeRows) t(g, pl)),
      bits AS (SELECT vec_id, g // 12 AS tbl,
          CASE WHEN ${duckDot("v", "pl", "65")} > 0
            THEN CAST(power(2, g % 12) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS bit
        FROM e CROSS JOIN planes),
      buck AS (SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
        FROM bits GROUP BY 1, 2),
      cells AS (SELECT b.vec_id AS doc, en.v, en.nrm, b.tbl, b.bucket
        FROM buck b JOIN en ON en.vec_id = b.vec_id)"""
  }

  private def l12OracleBucketing: String = lshOracleBucketing(
    s"""$twinnedSql,
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM tw)""")

  // L12P — the SAME cosineNearDupPairs call as l12, with a full DuckDB
  // oracle (closing the one operator family that had no hash-matched
  // sibling): the twin jitter is integer-hash arithmetic and the
  // hyperplanes are driver-side literals, so every bucket bit, candidate
  // pair, and verified cosine is recomputed bit-identically by the
  // oracle — the l6p pattern at l12's design point. l12 itself stays
  // rows-only purely to keep one registry entry timing the production
  // form.
  private val l12p = QueryDef("l12p_cosine_near_dup_portable", (s, dir) => {
    Similarity.cosineNearDupPairs(twinnedEmbeddings(s, dir),
      "vec_id", "embedding", threshold = 0.9, dim = 64, nPlanes = 12,
      nTables = 8)
  }, Some {
    // a pair colliding in several tables yields the SAME cosine bits
    // (same vectors, same fold), so distinct-pairs-then-score equals
    // Spark's score-then-distinct
    s"""WITH ${l12OracleBucketing},
      pr AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM cells a JOIN cells b
          ON a.tbl = b.tbl AND a.bucket = b.bucket
        WHERE a.doc < b.doc),
      scored AS (SELECT doc_a, doc_b,
          ${duckDot("ea.v", "eb.v", "65")} / (ea.nrm * eb.nrm) AS cosine
        FROM pr JOIN en ea ON ea.vec_id = doc_a
        JOIN en eb ON eb.vec_id = doc_b)
      SELECT doc_a, doc_b, cosine FROM scored
      WHERE cosine >= CAST(0.9 AS DOUBLE)"""
  })

  // L12CP — l12c's hot-bucket-cap SEMANTICS oracle-checked: same
  // pipeline as l12c but with the cap at 2, small enough that real
  // cells exceed it at the gate SF (every twin shares all 8 cells with
  // its original, plus Poisson collisions) — so BOTH branches of the
  // capped operator (under-cap all-pairs, over-cap star-against-
  // representative) fire and are verified against a DuckDB mirror of
  // the cap logic (arg_min = min_by). l12c keeps the production cap
  // (64) and its under-cap-equals-l12 spec.
  // ONE pair SQL for l12cp AND l42's edge set (same value-identity
  // contract as l2b/l2bh sharing l2bOracleSql).
  private def l12cpOracleSql: String =
    s"""WITH ${l12OracleBucketing},
        stats AS (SELECT tbl, bucket, CAST(count(*) AS BIGINT) cnt,
            min(doc) rep, arg_min(v, doc) repv, arg_min(nrm, doc) repn
          FROM cells GROUP BY tbl, bucket),
        cs AS (SELECT c.doc, c.v, c.nrm, c.tbl, c.bucket,
            s.cnt, s.rep, s.repv, s.repn
          FROM cells c JOIN stats s
            ON s.tbl = c.tbl AND s.bucket = c.bucket),
        small AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
            ${duckDot("a.v", "b.v", "65")} / (a.nrm * b.nrm) AS cosine
          FROM cs a JOIN cs b
            ON a.tbl = b.tbl AND a.bucket = b.bucket
          WHERE a.cnt <= 2 AND a.doc < b.doc),
        star AS (SELECT rep AS doc_a, doc AS doc_b,
            ${duckDot("repv", "v", "65")} / (repn * nrm) AS cosine
          FROM cs WHERE cnt > 2 AND doc <> rep),
        uni AS (SELECT * FROM small UNION ALL SELECT * FROM star)
        SELECT DISTINCT doc_a, doc_b, cosine FROM uni
        WHERE cosine >= CAST(0.9 AS DOUBLE)"""

  private val l12cp = QueryDef("l12cp_cosine_near_dup_capped_portable",
    (s, dir) => {
      Similarity.cosineNearDupPairsCapped(twinnedEmbeddings(s, dir),
        "vec_id", "embedding", threshold = 0.9, dim = 64, nPlanes = 12,
        nTables = 8, maxBucket = 2)
    }, Some(l12cpOracleSql))

  // L42 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  // dedup over EMBEDDINGS — bucket vectors into cells, flag
  // cosine >= tau pairs within a cell, close the pairs into clusters,
  // keep ONE representative per cluster. Exactly the l12cp pair stage
  // (hyperplane-LSH cells with the hot-cell cap — the paper's k-means
  // cells done with the engine's portable bucketing) composed with
  // l39's connected components; the representative is the cluster's
  // min id, so `keep = (vec_id == component)` — the paper keeps the
  // member farthest from the cluster centroid instead, a scoring rule
  // l40's max_by keeper shows how to swap in. The oracle replays pair
  // generation AND the closure (recursive CTE over the SAME pair SQL),
  // so the hash-match pins the whole semantic-dedup decision per
  // vector.
  private val l42 = QueryDef("l42_semantic_dedup", (s, dir) => {
    import graft.operators.GraphRank
    val corpus = twinnedEmbeddings(s, dir)
    val pairs = Similarity.cosineNearDupPairsCapped(corpus, "vec_id",
      "embedding", threshold = 0.9, dim = 64, nPlanes = 12,
      nTables = 8, maxBucket = 2)
    val comp = GraphRank.connectedComponents(pairs, "doc_a", "doc_b")
    corpus.select(col("vec_id"))
      .join(comp, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("keep",
        (col("vec_id") === col("component")).cast("long"))
  }, Some(graft.operators.GraphRank.componentsOracleSql(l12cpOracleSql,
    """, ids AS (SELECT vec_id FROM embeddings
         UNION ALL SELECT vec_id + 1000000 FROM embeddings)
       SELECT i.vec_id,
         coalesce(cc.component, i.vec_id) AS component,
         CAST(CASE WHEN coalesce(cc.component, i.vec_id) = i.vec_id
           THEN 1 ELSE 0 END AS BIGINT) AS keep
       FROM ids i LEFT JOIN cc ON cc.node = i.vec_id""")))

  // L43 — distributed PCA, the oracle-checked half: the exact
  // scaled-integer second-moment sums (d(d+1)/2 = 2 080 cells at d=64)
  // that the driver-side eigensolve consumes. One map-side-combinable
  // aggregation; shuffle is O(partitions · d²) regardless of corpus
  // size. Integer sums are order-independent, so the hash-match holds
  // under any partitioning — and pins the exact inputs every
  // [[Pca.fit]] consumer (l44, the pca probe) derives from.
  private val l43 = QueryDef("l43_pca_moments", (s, dir) => {
    Pca.momentSums(Tables.embeddings(s, dir), "embedding", dim = 64)
  }, Some(Pca.momentSumsOracleSql("embeddings", "embedding", dim = 64)))

  // L44 — the projection half: fit on the moment table (driver-side
  // 64×64 cyclic Jacobi — deterministic: exact-integer moments → bit-
  // stable covariance doubles → fixed sweep order), then a MAP-ONLY
  // pass of k=8 codegen'd vec_dot calls against literal component
  // arrays. Eigenvectors are iteratively computed engine-side floats —
  // no SQL mirror by nature (same class as l33's zlib); the math is
  // pinned by PcaSpec (orthonormality, A·v=λ·v, trace preservation,
  // projected variance = eigenvalue, bit-determinism across
  // partitionings) and the moment inputs are l43-hash-green. Output
  // explodes to scalars (vec_id, c, coord) so the driver's rows check
  // sees the full k·N projection surface.
  private val l44 = QueryDef("l44_pca_project", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val model = Pca.fit(emb, "embedding", dim = 64)
    Pca.project(emb, model, k = 8, "embedding")
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("c", "coord")))
  }, None)

  // L44R — randomized (sketch-project-solve) PCA vs the exact solve,
  // with the ERROR BOUND emitted as data: per component, both
  // eigenvalues, the relative error, the alignment of the exact axis
  // inside the randomized top-k span, and the captured-energy ratio.
  // Rows-by-nature (eigensolve floats, same class as l44); the row
  // VALUES are the certificate. The embeddings table is the HARD case
  // for randomized methods — a near-FLAT spectrum (top-8 eigenvalues
  // within 16% of each other), where the subspace gap the method
  // exploits barely exists — so the knobs sit at the flat-spectrum
  // setting (oversample 24, powerIters 7: measured maxRelErr 0.17%,
  // energy 99.95%; the default 8/2 gives 12%/91.7% here while being
  // exact-grade on decaying spectra, PcaSpec). The d>2k economics
  // (exact walls on the O(d^2) buffer + O(d^3) driver Jacobi — 183 s
  // at d=1024 vs 1.2 s randomized) is SCALE_r14's rsvd row.
  private val l44r = QueryDef("l44r_pca_randomized", (s, dir) => {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val k = 8
    val exact = Pca.fit(emb, "embedding", dim = 64)
    val rand = Pca.fitRandomized(emb, "embedding", dim = 64, k = k,
      oversample = 24, powerIters = 7)
    val energy = (0 until k).map(rand.eigenvalues(_)).sum /
      (0 until k).map(exact.eigenvalues(_)).sum
    (0 until k).map { c =>
      val e = exact.eigenvalues(c)
      val g = rand.eigenvalues(c)
      val inSpan = (0 until k).map { a =>
        val dot = exact.components(c).zip(rand.components(a))
          .map(p => p._1 * p._2).sum
        dot * dot
      }.sum
      (c.toLong, e, g, math.abs(g - e) / math.max(e, 1e-300), inSpan,
        energy)
    }.toDF("c", "ev_exact", "ev_rand", "rel_err", "in_span",
      "energy_ratio")
  }, None)

  // L44P — the PORTABLE quantized-PCA sibling (the l12p trick applied
  // to the eigensolve, round-15 verdict item 4): top-4 axes by
  // FIXED-POINT INTEGER POWER ITERATION with Hotelling deflation over
  // the exact l43 moment sums, then a fully-integer projection
  // coord = Σ ⌊x_i·10^6⌉·q_ci. Every op is int64 multiply/add/
  // truncating-divide, so the DuckDB oracle REPLAYS THE ENTIRE FIT
  // (unrolled power-iteration CTEs — the l31 unrolled-training
  // discipline at PCA's design point) and the projection to identical
  // bits. l44 (exact Jacobi, rows-by-nature) stays the production
  // eigensolve; PcaSpec pins the sibling's axes against it on a
  // decaying spectrum.
  private val l44p = QueryDef("l44p_pca_project_portable", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val q = Pca.fitQuantized(emb, "embedding", dim = 64, k = 4,
      iters = 20)
    Pca.projectQuantized(emb, q, "vec_id", "embedding")
  }, Some {
    s"""WITH ${Pca.quantizedOracleCtes("embeddings", "embedding",
          dim = 64, k = 4, iters = 20)},
      qe AS (SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))
        AS q FROM embeddings)
      SELECT qe.vec_id, qcomp.c,
        CAST(sum(qe.q[qcomp.i + 1] * qcomp.w) AS BIGINT) AS coord
      FROM qe CROSS JOIN qcomp
      GROUP BY qe.vec_id, qcomp.c"""
  })

  // L45 — feature hashing (the hashing trick): embed text into a
  // 64-bucket signed-count vector with no trained vocabulary — the
  // engine-native bridge from the text family to the vector family
  // (PCA l43/l44, cosine near-dup l12, ANN l5/l6/l11) when a corpus
  // ships without embeddings. Sparse (doc, bucket, weight) output;
  // every per-token op is the codegen'd poly_hash, and the map-side
  // partial agg bounds the shuffle at ≤ dim rows per doc. The dense
  // pivot ([[TextAnalysis.featureHashDense]]) is pinned equal in
  // TextAnalysisSpec.
  private val l45 = QueryDef("l45_feature_hash_embed", (s, dir) => {
    TextAnalysis.featureHashSparse(Tables.documents(s, dir), "doc_id",
      "text", dim = 64)
  }, Some(TextAnalysis.featureHashSparseOracleSql(dim = 64)))

  // L46 — two-stage ANN: candidates in the PCA-16 reduced space
  // (kReduced/dim of the scan bytes), exact full-space re-rank of the
  // kCand per query. Model floats are engine-side (no SQL mirror —
  // same class as l44); the recall-==-coverage contract, the
  // degenerate-to-brute identity, and the centered-model rejection are
  // SimilaritySpec-pinned, and the reduced-space regime economics are
  // priced in SCALE_r12 §16.
  private val l46 = QueryDef("l46_two_stage_ann", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val gram = Pca.fit(emb, "embedding", 64, center = false)
    Similarity.twoStageTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", gram, kReduced = 16, kCand = 50, k = 5)
  }, None)

  // L46P — l46's two-stage retrieval with EVERY stage hash-matched:
  // the reduction is the l44p quantized integer fit (k=4), so stage 1
  // (reduced-space brute top-kCand per query, ties (cosine DESC,
  // n_id) — BoundedTopK's exact order) and stage 2 (exact full-space
  // re-rank to top-5) are replayed by DuckDB bit for bit: the reduced
  // coords are exact BIGINTs, so every stage-1 cosine is the same
  // double on both engines. l46 (exact-Jacobi reduction, kReduced=16)
  // stays the production form and keeps its SimilaritySpec pins
  // (recall == coverage, brute degeneracy); this sibling is its
  // cross-engine certificate — the l44p/l48p treatment completing the
  // PCA-float family, so every declared rows-only retrieval query now
  // has a hash-green portable twin.
  private val l46p = QueryDef("l46p_two_stage_ann_portable",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = Pca.fitQuantized(emb, "embedding", dim = 64, k = 4,
        iters = 20)
      Similarity.twoStageTopKQuantized(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", q,
        kCand = 50, k = 5)
    }, Some {
      s"""WITH ${Pca.quantizedOracleCtes("embeddings", "embedding",
           dim = 64, k = 4, iters = 20)},
        qe AS (SELECT vec_id, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0)
              AS BIGINT)) AS q FROM embeddings),
        red AS (SELECT qe.vec_id, qcomp.c,
            CAST(sum(qe.q[qcomp.i + 1] * qcomp.w) AS BIGINT) AS coord
          FROM qe CROSS JOIN qcomp GROUP BY qe.vec_id, qcomp.c),
        rv AS (SELECT vec_id, list(CAST(coord AS DOUBLE) ORDER BY c)
            AS v FROM red GROUP BY vec_id),
        rn AS (SELECT vec_id, v, sqrt(${duckDot("v", "v", "5")}) AS nrm
          FROM rv),
        rsc AS (SELECT qs.vec_id AS q_id, cs.vec_id AS n_id,
            ${duckDot("qs.v", "cs.v", "5")} / (qs.nrm * cs.nrm) AS rcos
          FROM rn qs JOIN rn cs ON qs.vec_id <> cs.vec_id
          WHERE qs.vec_id < 10),
        cand AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY rcos DESC, n_id) AS r FROM rsc) WHERE r <= 50),
        en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv,
            sqrt(${duckDot("CAST(embedding AS DOUBLE[])",
              "CAST(embedding AS DOUBLE[])", "65")}) AS fn
          FROM embeddings),
        scored AS (SELECT c.q_id, c.n_id,
            ${duckDot("ea.fv", "eb.fv", "65")} / (ea.fn * eb.fn) AS cosine
          FROM cand c JOIN en ea ON ea.vec_id = c.q_id
          JOIN en eb ON eb.vec_id = c.n_id),
        ranked AS (SELECT q_id, n_id, cosine,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cosine DESC, n_id) AS BIGINT) AS rnk
          FROM scored)
        SELECT q_id, rnk, n_id, cosine FROM ranked WHERE rnk <= 5"""
    })

  // L47 — the cross-family composition, fully oracle-checked end to
  // end: documents → feature-hash embedding (l45's trick, dense form) →
  // hyperplane-LSH cosine near-dup (l12p's geometry — SAME global plane
  // literals at the (12, 8, 64) design point). This is the
  // no-embeddings-shipped dedup path: a text corpus gets a vector
  // column and the whole vector-dedup machinery, and DuckDB replays
  // every stage — tokenize, poly-hash, signed bucket sums, dense pivot,
  // plane dots, bucket collision, cosine verify — to the same bits.
  // Zero-norm docs (no tokens, or all buckets cancelled) are excluded
  // on both sides before bucketing (cosine is undefined there).
  private val l47 = QueryDef("l47_fhash_near_dup", (s, dir) => {
    val dense = TextAnalysis.featureHashDense(
        Tables.documents(s, dir), "doc_id", "text", 64)
      .select(col("doc_id"), col("fh_vec"))
      .filter(call_function("vec_dot", col("fh_vec"), col("fh_vec")) >
        lit(0.0))
    Similarity.cosineNearDupPairs(dense, "doc_id", "fh_vec",
      threshold = 0.9, dim = 64, nPlanes = 12, nTables = 8)
  }, Some {
    val corpus =
      s"""sp AS (SELECT * FROM
          (${TextAnalysis.featureHashSparseOracleSql(64)})),
      dd AS (SELECT DISTINCT doc FROM sp),
      e AS (SELECT d.doc AS vec_id,
          list(CAST(coalesce(s.weight, 0) AS DOUBLE) ORDER BY r.b) AS v
        FROM dd d CROSS JOIN range(0, 64) r(b)
        LEFT JOIN sp s ON s.doc = d.doc AND s.bucket = r.b
        GROUP BY d.doc)"""
    s"""WITH ${lshOracleBucketing(corpus)},
      pr AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM cells a JOIN cells b
          ON a.tbl = b.tbl AND a.bucket = b.bucket
        WHERE a.doc < b.doc),
      scored AS (SELECT doc_a, doc_b,
          ${duckDot("ea.v", "eb.v", "65")} / (ea.nrm * eb.nrm) AS cosine
        FROM pr JOIN en ea ON ea.vec_id = doc_a
        JOIN en eb ON eb.vec_id = doc_b)
      SELECT doc_a, doc_b, cosine FROM scored
      WHERE cosine >= CAST(0.9 AS DOUBLE)"""
  })

  // L48 — near-dup pairs with the candidate stage in PCA-16 space and
  // exact full-space verification (the §16c-measured ~45%-cheaper,
  // higher-recall form of l12c). Model floats are engine-side (rows —
  // same class as l44/l46); precision-exactness, twin recall,
  // determinism, and the guard rails are SimilaritySpec-pinned.
  private val l48 = QueryDef("l48_near_dup_reduced", (s, dir) => {
    val corpus = twinnedEmbeddings(s, dir)
    val gram = graft.operators.Pca.fit(corpus, "embedding", 64,
      center = false)
    Similarity.cosineNearDupPairsReduced(corpus, "vec_id", "embedding",
      gram, kReduced = 16, threshold = 0.9, candThreshold = 0.6,
      nPlanes = 12, nTables = 8)
  }, None)

  // L48P — l48's shape with EVERY stage hash-matched (round-15 verdict
  // item 4): the reduction is the l44p quantized integer fit (k=4), so
  // the reduced coordinates are exact BIGINTs; the candidate stage
  // (4-d hyperplane-LSH with the hot-cell cap at 2 — both branches
  // fire at this SF, the l12cp discipline — plus the reduced-cosine
  // pre-filter at 0.6) and the full-space verify at 0.9 are replayed
  // by DuckDB bit for bit. l48 (exact-Jacobi reduction, maxBucket 64)
  // stays the production form and keeps its SimilaritySpec pins; this
  // sibling is its cross-engine certificate.
  private val l48p = QueryDef("l48p_near_dup_reduced_portable",
    (s, dir) => {
      val corpus = twinnedEmbeddings(s, dir)
      val q = Pca.fitQuantized(corpus, "embedding", dim = 64, k = 4,
        iters = 20)
      Similarity.cosineNearDupPairsReducedQuantized(corpus, "vec_id",
        "embedding", q, threshold = 0.9, candThreshold = 0.6,
        nPlanes = 12, nTables = 8, maxBucket = 2)
    }, Some {
      val planeRows = (0 until 96).map(g =>
        s"($g, ${Similarity.planeSqlLiteral(g, 4)})")
        .mkString(",\n        ")
      s"""WITH $twinnedSql,
        ${Pca.quantizedOracleCtes("tw", "embedding", dim = 64, k = 4,
           iters = 20)},
        qe AS (SELECT vec_id, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0)
              AS BIGINT)) AS q FROM tw),
        red AS (SELECT qe.vec_id, qcomp.c,
            CAST(sum(qe.q[qcomp.i + 1] * qcomp.w) AS BIGINT) AS coord
          FROM qe CROSS JOIN qcomp GROUP BY qe.vec_id, qcomp.c),
        rv AS (SELECT vec_id,
            list(CAST(coord AS DOUBLE) ORDER BY c) AS v FROM red
          GROUP BY vec_id),
        rn AS (SELECT vec_id, v,
            sqrt(${duckDot("v", "v", "5")}) AS nrm FROM rv),
        planes AS (SELECT * FROM (VALUES $planeRows) t(g, pl)),
        bits AS (SELECT vec_id, g // 12 AS tbl,
            CASE WHEN ${duckDot("v", "pl", "5")} > 0
              THEN CAST(power(2, g % 12) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS bit
          FROM rv CROSS JOIN planes),
        buck AS (SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
          FROM bits GROUP BY 1, 2),
        cells AS (SELECT b.vec_id AS doc, rn.v, rn.nrm, b.tbl, b.bucket
          FROM buck b JOIN rn ON rn.vec_id = b.vec_id),
        stats AS (SELECT tbl, bucket, CAST(count(*) AS BIGINT) cnt,
            min(doc) rep, arg_min(v, doc) repv, arg_min(nrm, doc) repn
          FROM cells GROUP BY tbl, bucket),
        cs AS (SELECT c.doc, c.v, c.nrm, c.tbl, c.bucket,
            s.cnt, s.rep, s.repv, s.repn
          FROM cells c JOIN stats s
            ON s.tbl = c.tbl AND s.bucket = c.bucket),
        small AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
            ${duckDot("a.v", "b.v", "5")} / (a.nrm * b.nrm) AS rcos
          FROM cs a JOIN cs b
            ON a.tbl = b.tbl AND a.bucket = b.bucket
          WHERE a.cnt <= 2 AND a.doc < b.doc),
        star AS (SELECT rep AS doc_a, doc AS doc_b,
            ${duckDot("repv", "v", "5")} / (repn * nrm) AS rcos
          FROM cs WHERE cnt > 2 AND doc <> rep),
        cand AS (SELECT DISTINCT doc_a, doc_b
          FROM (SELECT * FROM small UNION ALL SELECT * FROM star)
          WHERE rcos >= CAST(0.6 AS DOUBLE)),
        en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv,
            sqrt(${duckDot("CAST(embedding AS DOUBLE[])",
              "CAST(embedding AS DOUBLE[])", "65")}) AS fn FROM tw)
        SELECT c.doc_a, c.doc_b,
          ${duckDot("ea.fv", "eb.fv", "65")} / (ea.fn * eb.fn) AS cosine
        FROM cand c JOIN en ea ON ea.vec_id = c.doc_a
        JOIN en eb ON eb.vec_id = c.doc_b
        WHERE ${duckDot("ea.fv", "eb.fv", "65")} / (ea.fn * eb.fn) >=
          CAST(0.9 AS DOUBLE)"""
    })

  // L49 — edit-distance similarity join: all document pairs within
  // levenshtein <= 8, via PassJoin segment-pigeonhole blocking
  // (exact recall by theorem, near-singleton buckets by construction —
  // q-gram prefix signatures go hot on self-similar text: 94 s / 24 GB
  // spill vs 11 s / 0 spill at 260k docs, SCALE_r12 §18) + banded
  // threshold verify. The oracle is SEMANTIC,
  // not a replay: DuckDB computes the same pair set by length-bucketed
  // brute-force levenshtein, so the hash match checks the blocking
  // theorem itself — a false negative in either tier would drop a pair
  // the oracle has. (The bucketed-CTE shape matters oracle-side: the
  // bare inequality join fuses the levenshtein filter into a
  // nested-loop scan, 24 s vs 1.9 s measured at sf0.01.)
  private val l49 = QueryDef("l49_edit_distance_join", (s, dir) => {
    Dedup.editDistanceJoinPass(Tables.documents(s, dir), "doc_id",
      "text", k = 8, broadcastIndex = true)
  }, Some(
    // Round-17 (verdict item 7): the old mirror was a banded QUADRATIC
    // candidate join — O(n^2/bands) levenshtein calls blew the driver's
    // 600 s oracle budget at sf1 (SCALE_r16.md). This mirror generates
    // candidates by the same published PassJoin pigeonhole theorem as
    // the Spark side (lev<=k => one of a's k+1 segments appears
    // verbatim, position-shifted <=k/2ish, in b): an equi-join on
    // (segment index, partner length, substring) instead of a length
    // band cross. The final levenshtein(<=8) VERIFY is unchanged and
    // still independent; proven row-identical to the quadratic form on
    // sf0.01 AND sf0.1 (189 s -> 0.85 s at sf0.1) before adoption.
    // k=8 => 9 segments; shorts (ln<=2k+1=17 superset band) quadratic.
    """WITH lb AS (SELECT doc_id, text, length(text) AS ln
        FROM documents),
      lng AS (SELECT * FROM lb WHERE ln >= 9),
      seg AS (SELECT doc_id, ln, i,
          substring(text,
            CAST(i * (ln // 9) + greatest(0, i - (9 - ln % 9)) + 1
              AS INTEGER),
            CAST((ln // 9) + (CASE WHEN i >= 9 - ln % 9 THEN 1 ELSE 0
              END) AS INTEGER)) AS sg
        FROM lng, (SELECT unnest(range(0, 9)) AS i)),
      pr0 AS (SELECT doc_id, text, ln, i, gap, ln - gap AS plen,
          (ln - gap) // 9 AS pl, (ln - gap) % 9 AS pr
        FROM lng, (SELECT unnest(range(0, 9)) AS i),
          (SELECT unnest(range(0, 9)) AS gap)
        WHERE ln - gap >= 9),
      pr1 AS (SELECT doc_id, text, ln, i, plen,
          pl + (CASE WHEN i >= 9 - pr THEN 1 ELSE 0 END) AS sl,
          i * pl + greatest(0, i - (9 - pr)) + 1 AS p
        FROM pr0),
      probe AS (SELECT doc_id, i, plen,
          substring(text, CAST(p + d AS INTEGER), CAST(sl AS INTEGER))
            AS sg
        FROM pr1, LATERAL (SELECT unnest(range(-((8 - (ln - plen)) // 2),
            ((ln - plen) + 8) // 2 + 1)) AS d)
        WHERE p + d >= 1 AND p + d + sl - 1 <= ln),
      longcand AS (SELECT DISTINCT least(s.doc_id, p.doc_id) ia,
          greatest(s.doc_id, p.doc_id) ib
        FROM seg s JOIN probe p
          ON p.i = s.i AND p.plen = s.ln AND p.sg = s.sg
          AND s.doc_id <> p.doc_id),
      shorts AS (SELECT * FROM lb WHERE ln <= 17),
      shortcand AS (SELECT a.doc_id ia, b.doc_id ib
        FROM shorts a JOIN shorts b
          ON a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 8),
      cand AS (SELECT DISTINCT ia, ib
        FROM (SELECT * FROM longcand UNION ALL SELECT * FROM shortcand))
      SELECT ia AS id_a, ib AS id_b,
        CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
      FROM cand JOIN lb ta ON ta.doc_id = ia JOIN lb tb ON tb.doc_id = ib
      WHERE levenshtein(ta.text, tb.text) <= 8"""))

  // L54 — prefix-filter (AllPairs/PPJoin) exact Jaccard join at
  // tau=0.5: the COMPLETE scale path for set-similarity dedup, vs
  // l2b's hot-shingle cap (bounded but recall-weakened) and l3's LSH
  // (probabilistic recall). The oracle is SEMANTIC — the plain
  // quadratic Jaccard join — so the hash match re-proves the prefix-
  // filter completeness theorem (J >= tau pairs MUST collide in their
  // rarest-first prefixes) on real data every round. ONE oracle for
  // l54 AND l54h (xxhash64 shingle keys): value-identical output is
  // the hashed path's contract, exactly as l2/l2h.
  private val l54OracleSql = s"""WITH toks AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      sh AS (SELECT doc_id, ${shinglesDuckSql("tk")} s
        FROM toks WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) n FROM sh),
      ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
          CAST(count(*) AS BIGINT) inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle
          AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
        CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
          AS jaccard
      FROM cand JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        >= 0.5"""

  private val l54 = QueryDef("l54_prefix_filter_jaccard", (s, dir) => {
    Dedup.prefixFilterJaccardPairs(Tables.documents(s, dir), "doc_id",
      "text", n = 3, threshold = 0.5)
  }, Some(l54OracleSql))

  // L54H — hashed-shingle-key form (8-byte keys through every exchange;
  // the global prefix order becomes (df, hash), and completeness holds
  // under any total order). Same oracle: value-identity is the contract.
  private val l54h = QueryDef("l54h_prefix_filter_jaccard_hashed",
    (s, dir) => {
      Dedup.prefixFilterJaccardPairs(Tables.documents(s, dir), "doc_id",
        "text", n = 3, threshold = 0.5, hashedShingles = true)
    }, Some(l54OracleSql))

  // L61 — containment (asymmetric-Jaccard) join at tau=0.9: the
  // sub-document-duplication detector symmetric Jaccard structurally
  // misses (a doc quoted inside a longer page has J -> 0 as the
  // container grows but containment 1). The fixture makes the
  // semantics visible ON the gate data: each doc is wrapped into a
  // synthetic container (its text + the next doc's text), so every
  // base doc is ~fully contained in its wrapper (and the NEXT doc in
  // it too) while no wrapper is contained in anything — directionality
  // checked by the oracle, which is SEMANTIC (the plain quadratic
  // containment join), so the hash match re-proves the one-sided
  // prefix-filter completeness theorem on real data every round.
  private val l61OracleSql = s"""WITH base AS
        (SELECT doc_id, text FROM documents),
      wrapped AS (SELECT a.doc_id + 100000 AS doc_id,
          a.text || ' ' || b.text AS text
        FROM base a JOIN base b ON b.doc_id = a.doc_id + 1),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM wrapped),
      toks AS (SELECT doc_id, ${tokensDuckSql("text")} tk FROM corpus),
      sh AS (SELECT doc_id, ${shinglesDuckSql("tk")} s
        FROM toks WHERE len(tk) >= 3),
      sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) n FROM sh),
      ex AS (SELECT doc_id, unnest(s) shingle FROM sh),
      cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
          CAST(count(*) AS BIGINT) inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle
          AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
        CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
      FROM cand JOIN sizes sa ON sa.doc_id = doc_a
      WHERE CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.9"""

  private def l61Corpus(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val nxt = d.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("t2"))
    d.unionByName(d.join(nxt, Seq("doc_id"))
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" "), col("t2")).as("text")))
  }

  private val l61 = QueryDef("l61_containment_join", (s, dir) => {
    Dedup.containmentPairs(l61Corpus(s, dir), "doc_id", "text",
      n = 3, threshold = 0.9)
  }, Some(l61OracleSql))

  // L61H — 8-byte hashed-shingle keys, same oracle (the l54h contract:
  // value-identity IS the hashed path's check).
  private val l61h = QueryDef("l61h_containment_join_hashed", (s, dir) => {
    Dedup.containmentPairs(l61Corpus(s, dir), "doc_id", "text",
      n = 3, threshold = 0.9, hashedShingles = true)
  }, Some(l61OracleSql))

  // L61C — the df-CAPPED containment join (containmentPairsCapped) on
  // the hot-shingle adversarial shape l61's uncapped inverted list is
  // honest about (SCALE_r12 §25's caveat): every doc gets a universal
  // boilerplate suffix, so its interior shingles have df = corpus size
  // and the uncapped container-side list concentrates the whole corpus
  // under those keys. The cap (maxDf = 10) removes exactly the
  // universal shingles from the universe; the oracle recomputes the
  // plain quadratic containment over the SAME capped universe, so the
  // hash match pins both the capped semantics and the planted
  // directional pairs surviving on rare-shingle evidence alone.
  private val l61c = QueryDef("l61c_containment_capped", (s, dir) => {
    val boiler = lit(" bp1 bp2 bp3 bp4")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), concat(col("text"), boiler).as("text"))
    val nxt = d.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("t2"))
    val corpus = d.unionByName(d.join(nxt, Seq("doc_id"))
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" "), col("t2")).as("text")))
    Dedup.containmentPairsCapped(corpus, "doc_id", "text",
      n = 3, threshold = 0.9, maxDf = 10L, hashedShingles = true)
  }, Some(s"""WITH base AS
        (SELECT doc_id, text || ' bp1 bp2 bp3 bp4' AS text
         FROM documents),
      wrapped AS (SELECT a.doc_id + 100000 AS doc_id,
          a.text || ' ' || b.text AS text
        FROM base a JOIN base b ON b.doc_id = a.doc_id + 1),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM wrapped),
      toks AS (SELECT doc_id, ${tokensDuckSql("text")} tk FROM corpus),
      sh AS (SELECT doc_id, ${shinglesDuckSql("tk")} s
        FROM toks WHERE len(tk) >= 3),
      ex AS MATERIALIZED (SELECT doc_id, unnest(s) shingle FROM sh),
      dfq AS (SELECT shingle, count(*) AS df FROM ex GROUP BY 1),
      kept AS MATERIALIZED (SELECT ex.doc_id, ex.shingle
        FROM ex JOIN dfq USING (shingle) WHERE df <= 10),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) n
        FROM kept GROUP BY doc_id),
      cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
          CAST(count(*) AS BIGINT) inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle
          AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
        CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
      FROM cand JOIN sizes sa ON sa.doc_id = doc_a
      WHERE CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.9"""))

  // L62 — link-graph quality prior, composed END TO END across three
  // operator families: HTML outlink extraction (Html.extractHrefs) →
  // URL canonicalization (Urls.canonicalize — the synthesized links
  // carry uppercase scheme/host, a default :80 port, a tracking param
  // and a fragment, so every rule fires on the graph path) → site-level
  // edge list → 4 exact fixed-point PageRank iterations
  // (GraphRank.pageRankFixedPoint, all scaled-BIGINT) → per-doc rank.
  // This is the CommonCrawl-style "rank the crawl graph, use rank as a
  // quality prior" pipeline; the oracle replays extraction,
  // canonicalization, edge building and ALL FOUR iterations to the
  // identical rank vector. Each doc's site is doc_id mod 97; links
  // target sites (7*id+1) mod 97 and (13*id+3) mod 97.
  private val l62HtmlSynth =
    """concat('<html><body><p>', text,
       '</p><a href="HTTP://Site', (doc_id * 7 + 1) % 97,
       '.EXAMPLE.com:80/p?utm_source=z&k=1#frag">x</a>',
       '<a href="http://site', (doc_id * 13 + 3) % 97,
       '.example.com/q">y</a></body></html>')"""

  private val l62 = QueryDef("l62_link_graph_rank", (s, dir) => {
    val html = Tables.documents(s, dir)
      .select(col("doc_id"), expr(l62HtmlSynth).as("__html"))
    val links = html.select(col("doc_id"),
      explode(Html.extractHrefs("__html")).as("url"))
    val edges = Urls.canonicalize(links, "url")
      .select((col("doc_id") % 97).as("src"),
        expr("""try_cast(regexp_extract(url_canonical,
             '://site([0-9]+)[.]', 1) AS BIGINT)""").as("dst"))
      .filter(col("dst").isNotNull)
      .distinct()
    val ranks = graft.operators.GraphRank
      .pageRankFixedPoint(edges, "src", "dst", iters = 4)
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % 97).as("site"))
      .join(ranks.withColumnRenamed("node", "site"), Seq("site"))
      .select(col("doc_id"), col("site"), col("r").as("site_rank"))
  }, Some {
    val edgesSql =
      s"""WITH h AS (SELECT doc_id, $l62HtmlSynth AS html
            FROM documents),
          lx AS (SELECT doc_id,
            unnest(${graft.operators.Html.extractHrefsDuckSql("html")})
              AS u FROM h),
          ${graft.operators.Urls.canonicalDuckSql(
            "SELECT doc_id, u FROM lx")}
          SELECT DISTINCT doc_id % 97 AS src,
            CAST(regexp_extract(url_canonical, '://site([0-9]+)[.]', 1)
              AS BIGINT) AS dst
          FROM c WHERE url_canonical IS NOT NULL"""
    s"""WITH pr AS MATERIALIZED (
          ${graft.operators.GraphRank.oracleSql(edgesSql, iters = 4)})
        SELECT d.doc_id, d.doc_id % 97 AS site, pr.r AS site_rank
        FROM documents d JOIN pr ON pr.node = d.doc_id % 97"""
  })

  // L63 — the Gopher structural quality rule battery (Rae et al. 2021,
  // arXiv:2112.11446 §A1.1; the duplicate-n-gram rule is l20). The
  // corpus text is single-line prose, so the page under test is
  // synthesized (the l62 discipline): deterministic arms keyed by
  // doc_id add a symbol/numeric line (%3), ten bullet lines (%5 — a
  // bullet-only page crosses the 0.9 line-fraction threshold exactly
  // when no other arm fires), and two ellipsis-terminated lines (%7,
  // which also carry two of the eight Gopher stop words) — every rule
  // fires in BOTH directions across the corpus. Map-only; page, word
  // array and line array bound once (transform-over-singleton), rule
  // struct expanded through ONE inline() reference.
  private val l63Nl = "\n"
  private val l63Page =
    s"""concat(text,
       CASE WHEN doc_id % 3 = 0
         THEN '$l63Nl### ## # 12345 67890' ELSE '' END,
       CASE WHEN doc_id % 5 = 0 THEN concat(
         '$l63Nl- bullet one', '$l63Nl- bullet two',
         '$l63Nl- bullet three', '$l63Nl- bullet four',
         '$l63Nl- bullet five', '$l63Nl- bullet six',
         '$l63Nl- bullet seven', '$l63Nl- bullet eight',
         '$l63Nl- bullet nine', '$l63Nl- bullet ten') ELSE '' END,
       CASE WHEN doc_id % 7 = 0
         THEN '${l63Nl}to be continued...${l63Nl}more soon...'
         ELSE '' END)"""

  private val l63 = QueryDef("l63_gopher_rules", (s, dir) => {
    val page = Tables.documents(s, dir)
      .select(col("doc_id"), expr(l63Page).as("__page"))
    val rules = page.select(col("doc_id"),
      inline(array(TextAnalysis.gopherRules("__page", minWords = 50))))
    rules.withColumn("keep",
      Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stopwords")
        .map(col).reduce(_ * _))
  }, Some(
    s"""WITH h AS (SELECT doc_id, $l63Page AS p FROM documents),
        b AS (SELECT doc_id,
          list_filter(string_split(replace(p, chr(10), ' '), ' '),
            t -> length(t) > 0) w,
          list_filter(string_split(p, chr(10)), x -> length(x) > 0) l,
          (length(p) - length(replace(p, '#', '')))
            + (length(p) - length(replace(p, '...', ''))) // 3 AS nsym
          FROM h),
        r AS (SELECT doc_id, ${TextAnalysis.gopherRulesDuckSql(
            minWords = 50)} FROM b)
        SELECT *, r_wordcount * r_meanlen * r_symbol * r_bullet
          * r_ellipsis * r_alpha * r_stopwords AS keep FROM r"""))

  // L64 — mojibake repair (UTF-8 misdecoded as Latin-1/cp1252, the
  // classic "cafÃ©" crawl damage): a fixed longest-first table of
  // printable misdecoded digraphs folded through literal (non-regex)
  // replaces — the identical nested-replace SQL evaluates in BOTH
  // engines, so the hash match pins the table, the order, and the
  // non-overlapping replace semantics. The corpus is clean ASCII, so
  // damage is synthesized per doc_id arm (accents / smart punctuation /
  // guillemets / untouched); dirty and repaired are bound once as
  // lambda variables and expanded through one inline() — the md5, the
  // before/after marker counts, and the changed flag never re-evaluate
  // the 21-replace chain.
  private val l64Dirty =
    """concat(text, CASE doc_id % 4
       WHEN 0 THEN ' cafÃ© rÃ©sumÃ© dÃ©cor'
       WHEN 1 THEN ' â€œquoteâ€™â€¦â€'
       WHEN 2 THEN ' naÃ¯ve faÃ§ade Â«quotedÂ»'
       ELSE '' END)"""

  private def l64Struct(dirtyExpr: String): String =
    s"""transform(array($dirtyExpr), d ->
        element_at(transform(array(${TextAnalysis
          .mojibakeRepairDuckSql("d")}), r -> named_struct(
          'fixed_md5', md5(r),
          'n_bad_before', ${TextAnalysis.mojibakeMarkersDuckSql("d")},
          'n_bad_after', ${TextAnalysis.mojibakeMarkersDuckSql("r")},
          'changed', CAST(d <> r AS BIGINT))), 1))"""

  private val l64 = QueryDef("l64_mojibake_repair", (s, dir) => {
    Tables.documents(s, dir).select(col("doc_id"),
      inline(expr(l64Struct(l64Dirty))))
  }, Some {
    val named = TextAnalysis.MojibakePairs.foldLeft("d") {
      case (e, (bad, good)) => s"replace($e, '$bad', '$good')"
    }
    s"""WITH dd AS (SELECT doc_id, $l64Dirty AS d FROM documents),
        rr AS (SELECT doc_id, d, $named AS r FROM dd)
        SELECT doc_id, md5(r) AS fixed_md5,
          ${TextAnalysis.mojibakeMarkersDuckSql("d")} AS n_bad_before,
          ${TextAnalysis.mojibakeMarkersDuckSql("r")} AS n_bad_after,
          CAST(d <> r AS BIGINT) AS changed
        FROM rr"""
  })

  // L65 — leakage-safe train/val/test split: l19's deterministic LCG
  // split keyed by the near-dup CLUSTER (l39's connected component),
  // not the document — the eval-contamination guard every benchmark
  // pipeline needs: with doc-keyed splits, a near-dup pair straddling
  // train/test leaks training text into evaluation; keying the LCG by
  // the component id puts every near-duplicate of a document in the
  // SAME split by construction. Pure composition (pair graph →
  // closure → keyed LCG), one extra 8-byte-key join over l19's cost;
  // the oracle replays pairs, the recursive closure AND the LCG, so
  // the hash-match pins the no-leak property end to end.
  private val l65 = QueryDef("l65_leakage_safe_split", (s, dir) => {
    import graft.operators.GraphRank
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.2, maxDocFreq = 10, hashedShingles = true)
    val comp = GraphRank.connectedComponents(pairs, "doc_a", "doc_b")
    docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("split", TextAnalysis.splitAssign("component", 80, 10))
  }, Some(graft.operators.GraphRank.componentsOracleSql(l2bOracleSql,
    """, j AS (SELECT d.doc_id,
         coalesce(cc.component, d.doc_id) AS component
         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id)
       SELECT doc_id, component,
         """ + splitCaseDuck("component") + """ AS split
       FROM j""")))

  // L66 — MMR diverse selection (Carbonell & Goldstein 1998): greedy
  // k=8 exemplar picks maximizing 0.5·rel − 0.5·max-sim-to-selected
  // over the embeddings corpus with vec 0 as the query — the few-shot /
  // eval-set constructor where plain top-k returns near-copies. The
  // oracle unrolls ALL EIGHT greedy steps as chained CTEs (the l30 BPE
  // discipline): each step's correlated max over the accumulated
  // selected set, the exclusion, the tie-break and the argmax replay in
  // DuckDB to the identical pick sequence — every cosine tree mirrors
  // Similarity.mmrSelect's bit for bit (left-to-right dot fold, carried
  // norms, exact-max associativity).
  private val l66 = QueryDef("l66_mmr_select", (s, dir) => {
    Similarity.mmrSelect(Tables.embeddings(s, dir), queryId = 0L,
      "vec_id", "embedding", k = 8, lambda = 0.5)
  }, Some {
    // Round-17 (verdict item 10, oracle budget): the previous mirror
    // recomputed EVERY candidate-to-selected dot at every step, and its
    // u-CTEs were referenced three times each without MATERIALIZED —
    // DuckDB versions that re-inline CTEs re-evaluate the whole chain
    // per reference (measured 730 s at sf0.001 on DuckDB 1.0; the
    // driver's run paid 741 s of its 1163 s oracle budget on this one
    // query). This form carries the max-similarity-to-selected as a
    // RUNNING max (m$i = greatest(m${i-1}, dot-to-the-new-pick)) —
    // max is exact, so scores are bit-identical to the full recompute
    // (the same exact-max associativity the Spark side relies on) —
    // and MATERIALIZEs every step: O(k·N) dots instead of O(k²·N) with
    // no re-inlining surface. Proven bitwise-equal (repr-level) to the
    // old mirror at sf0.001 (730 s -> 0.11 s) before adoption.
    def dot(a: String, b: String) = duckDot(a, b, s"len($a) + 1")
    val steps = (1 to 8).map { i =>
      if (i == 1)
        s"""s1 AS MATERIALIZED (SELECT vec_id, v, nrm, rel,
             CAST(0.5 AS DOUBLE) * rel
               - CAST(0.5 AS DOUBLE) * CAST(0.0 AS DOUBLE) AS score
             FROM cand ORDER BY score DESC, vec_id LIMIT 1),
           u1 AS MATERIALIZED (SELECT vec_id, rel, score,
             CAST(1 AS BIGINT) AS rank FROM s1),
           m1 AS MATERIALIZED (SELECT c.vec_id, c.v, c.nrm, c.rel,
             ${dot("c.v", "s.v")} / (c.nrm * s.nrm) AS ms
             FROM cand c, s1 s WHERE c.vec_id <> s.vec_id)"""
      else
        s"""s$i AS MATERIALIZED (SELECT m.vec_id, m.v,
               m.nrm, m.rel, m.ms,
               CAST(0.5 AS DOUBLE) * m.rel
                 - CAST(0.5 AS DOUBLE) * m.ms AS score
             FROM m${i - 1} m ORDER BY score DESC, m.vec_id LIMIT 1),
           u$i AS MATERIALIZED (SELECT u.vec_id, u.rel, u.score, u.rank
               FROM u${i - 1} u UNION ALL
             SELECT vec_id, rel, score, CAST($i AS BIGINT)
             FROM s$i)""" +
          (if (i == 8) "" else s""",
           m$i AS MATERIALIZED (SELECT m.vec_id, m.v, m.nrm, m.rel,
               greatest(m.ms,
                 ${dot("m.v", "s.v")} / (m.nrm * s.nrm)) AS ms
             FROM m${i - 1} m, s$i s WHERE m.vec_id <> s.vec_id)""")
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
          FROM embeddings),
        n AS MATERIALIZED (SELECT vec_id, v, sqrt(${dot("v", "v")}) nrm
          FROM e),
        q AS (SELECT v qv, nrm qn FROM n WHERE vec_id = 0),
        cand AS MATERIALIZED (SELECT vec_id, v, nrm,
            ${dot("v", "qv")} / (nrm * qn) AS rel
          FROM n, q WHERE vec_id <> 0),
        $steps
        SELECT rank, vec_id AS id, rel, score FROM u8"""
  })

  // M3 — perceptual-hash (pHash) image near-dup: grayscale → 32×32
  // pool → DCT-II → 8×8 low-freq block → median-thresholded 64-bit
  // hash, then the SimHash-style band join (four 16-bit bands,
  // pigeonhole-complete at Hamming <= 3) with exact bit_count verify —
  // the image-side dedup exact text hashing is blind to (re-encodes,
  // resizes, brightness shifts hash equal-or-near). DECLARED rows-only
  // BY NATURE (the l33/l44 class): a 32-point DCT has no SQL mirror;
  // the math is pinned byte-exact by MultimodalSpec (naive-DCT parity,
  // re-encode/brightness/resize invariance on REAL PNGs, band-join
  // completeness vs brute force) and the testdata run is
  // deterministic end to end (text-byte rasters via the FakeCodec
  // discipline; exact-dup texts land at Hamming 0).
  private val m3 = QueryDef("m3_phash_near_dup", (s, dir) => {
    import s.implicits._
    val items = Multimodal.asMediaItems(
      Tables.documents(s, dir), "doc_id", "text")
      .as[Multimodal.MediaItem]
    val hashes = Multimodal.perceptualHashes(items)
    val pairs = Multimodal.phashNearPairs(hashes, maxDist = 3)
    val partners = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_neardup"))
    hashes.join(partners, Seq("id"), "left")
      .select(col("id"), col("phash"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"))
  }, None)

  // M5 — VIDEO-level near-dup via frame-hash set Jaccard
  // (Multimodal.frameHashes + videoNearDupPairs): one pHash per
  // sampled frame, then the l2 inverted-index Jaccard over the
  // distinct frame-hash sets — the temporal complement of m3's one-
  // hash-per-item Hamming join (a trimmed/re-split video shares most
  // frame hashes while its whole-item hash moves arbitrarily).
  // DECLARED rows-only BY NATURE (the m3/l33 class — frame pHash has
  // no SQL mirror); the math and the trim/re-encode recall are pinned
  // by MultimodalSpec on REAL MJPEG AVIs, and the testdata run is
  // deterministic (byte-chunk frames via the FakeCodec discipline;
  // planted re-crawl dup texts land at Jaccard 1).
  private val m5 = QueryDef("m5_video_frame_near_dup", (s, dir) => {
    import s.implicits._
    val items = Multimodal.asMediaItems(
      Tables.documents(s, dir), "doc_id", "text")
      .as[Multimodal.MediaItem]
    val fh = Multimodal.frameHashes(items, frameSize = 64, stride = 1)
    val pairs = Multimodal.videoNearDupPairs(fh, threshold = 0.5)
    val partners = pairs
      .select(col("id_a").as("id"), col("jaccard"))
      .union(pairs.select(col("id_b").as("id"), col("jaccard")))
      .groupBy("id").agg(count(lit(1)).as("n_neardup"),
        max(col("jaccard")).as("best_jaccard"))
    fh.groupBy("id").agg(countDistinct(col("fhash")).as("n_frame_hashes"))
      .join(partners, Seq("id"), "left")
      .select(col("id"), col("n_frame_hashes"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
  }, None)

  // M6 — AUDIO near-dup via gain-invariant energy signatures
  // (Multimodal.audioSignatures + the SAME videoNearDupPairs join):
  // each doc synthesizes a deterministic 16-bit WAV whose envelope is
  // seeded by xxhash64 of the normalized text, and the corpus is
  // dirtied in-query exactly like l1/l22: a re-crawl arm (+1M ids,
  // identical recording → Jaccard 1) and a trimmed-re-master arm
  // (+2M ids, one full 8-window envelope cycle dropped, so the track
  // mean and every bucket survive and the pair lands at a
  // deterministic sub-1 Jaccard) — then per-window log-energy buckets relative to
  // the track mean (constant-gain re-masters land on identical
  // signatures, pinned ×5/4 in MultimodalSpec) shingle into the
  // modality-shared set-Jaccard join. DECLARED rows-only BY NATURE
  // (the m3/m5 class — streaming PCM decode has no SQL mirror); the
  // invariance arms (exact gain equality, whole-window trims pairing,
  // unrelated recordings unpaired) are spec-pinned on REAL WAVs
  // through the JDK audio stack.
  private val m6 = QueryDef("m6_audio_near_dup", (s, dir) => {
    import s.implicits._
    val seeds = Tables.documents(s, dir)
      .select(col("doc_id"),
        xxhash64(graft.operators.Dedup.normalizeText(col("text")))
          .as("seed"))
      .as[(Long, Long)]
    val items = seeds.flatMap { case (id, seed) =>
      def item(mid: Long, skip: Int) = {
        val wav = Multimodal.syntheticWav(seed, windows = 16,
          window = 512, skipWindows = skip)
        Multimodal.MediaItem(mid, wav, "audio/wav", wav.length.toLong)
      }
      // the trim drops ONE FULL envelope cycle (8 windows), so the
      // track mean — and every bucket — is unchanged and the pair
      // lands at a deterministic J (interior shingles shared, the
      // original's cycle-boundary shingles not)
      Seq(item(id, 0)) ++
        (if (id % 5 == 0) Seq(item(id + 1000000L, 0)) else Nil) ++
        (if (id % 7 == 0) Seq(item(id + 2000000L, 8)) else Nil)
    }
    val sig = Multimodal.audioSignatures(items, window = 512).toDF()
    val pairs = Multimodal.videoNearDupPairs(sig, threshold = 0.5)
    val partners = pairs
      .select(col("id_a").as("id"), col("jaccard"))
      .union(pairs.select(col("id_b").as("id"), col("jaccard")))
      .groupBy("id").agg(count(lit(1)).as("n_neardup"),
        max(col("jaccard")).as("best_jaccard"))
    sig.groupBy("id").agg(countDistinct(col("fhash")).as("n_sig_hashes"))
      .join(partners, Seq("id"), "left")
      .select(col("id"), col("n_sig_hashes"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
  }, None)

  // L75 — the corpus DATASHEET: one wide health row a dataset release
  // ships with (Gebru et al. 2021's datasheet metrics, the computable
  // subset), composed from the engine's own primitives — size, token
  // budget, length percentiles (exact linear interpolation, the x12
  // definition), source/language concentration (exact top-share),
  // exact-dup accounting (the l1 key). ONE combinable-aggregate pass
  // over the corpus plus two bounded group-bys; every metric exact and
  // mirrored verbatim, so the whole datasheet hash-matches cross-
  // engine. (The heavier quality axes live in their own certified
  // queries — l63's Gopher battery, l58's funnel, l74's tokenizer
  // table; a datasheet row links, it doesn't recompute.)
  // L76 — the fused WARC-FILES → curation ingest (round-15 verdict
  // item 6): the two round-14 headliners composed into the actual
  // CommonCrawl job shape. A REAL multi-member .warc.gz fixture is
  // written on executors (one gzip member per record; deterministic
  // per-(JVM, sf-dir) dir, the x28 reuse discipline), then read back
  // through `WarcFiles.records` (gzip-member walk → warc_parse) →
  // 2xx-response filter → `Html.cleanText` extraction → exact-dedup
  // keep-first. Arms: %11 → 404 (must drop before extraction), %6 →
  // verbatim recrawl under id+1e6 (dedup must kill the copy, keep-min
  // the original), %13 → a valid gzip member holding non-WARC bytes
  // (must surface as exactly one quarantine row, never a parse). The
  // oracle regenerates the record multiset logically from `documents`
  // (the m4 discipline) — file/gzip mechanics are WarcSpec's domain,
  // and splitBytes exceeds every fixture file so the record set is
  // split-layout-free; the hash match certifies the COMPOSITION: every
  // count, token and char total, and the keep-first survivor tokens.
  private val l76 = QueryDef("l76_warc_curation_ingest", (s, dir) => {
    import graft.sources.WarcFiles
    // ATOMIC per-sf-dir fixture build (graft.core.Fixtures: staging +
    // rename publish — concurrent JVMs sharing /tmp can never glob or
    // wipe a half-built tree) and LOCAL-MODE-ONLY by design: the
    // foreachPartition below writes from executor tasks, which only
    // lands where the driver's read-back glob looks because local[n]
    // executors share the driver's filesystem (see Fixtures scaladoc).
    val fixtureBase = graft.core.Fixtures.ensure(
      "graft_l76_" + Integer.toHexString(dir.hashCode)) { stagingDir =>
      val src = Tables.documents(s, dir).select("doc_id", "text")
      val rows = src.select(col("doc_id").as("id"), col("text"),
          lit(false).as("bad"))
        .unionByName(src.filter(pmod(col("doc_id"), lit(6L)) === 0L)
          .select((col("doc_id") + lit(1000000L)).as("id"), col("text"),
            lit(false).as("bad")))
        .unionByName(src.filter(pmod(col("doc_id"), lit(13L)) === 0L)
          .select(col("doc_id").as("id"), col("text"),
            lit(true).as("bad")))
      val outDir = stagingDir.toString
      rows.repartition(4).foreachPartition {
        it: Iterator[org.apache.spark.sql.Row] =>
          if (it.hasNext) {
            val crlf = "\r\n"
            val f = java.nio.file.Files.createTempFile(
              java.nio.file.Paths.get(outDir), "part-", ".warc.gz")
            val out = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(f.toFile), 1 << 20)
            it.foreach { r =>
              val id = r.getLong(0)
              val member: Array[Byte] =
                if (r.getBoolean(2))
                  ("WARX/1.0" + crlf + "Content-Length: 1" + crlf +
                    crlf + "x" + crlf + crlf).getBytes("UTF-8")
                else {
                  val body = "<html><head><style>p { color: red }" +
                    "</style></head><body><p>" + r.getString(1) +
                    "</p><a href=\"/n\">nav &amp; more</a>" +
                    "</body></html>"
                  val status =
                    if (id % 11 == 0) "404 Not Found" else "200 OK"
                  val http = "HTTP/1.1 " + status + crlf +
                    "Content-Type: text/html" + crlf + crlf + body
                  val httpB = http.getBytes("UTF-8")
                  ("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
                    s"WARC-Target-URI: http://site${id % 5}" +
                    s".example.org/doc/$id" + crlf +
                    "Content-Type: application/http;msgtype=response" +
                    crlf + s"Content-Length: ${httpB.length}" +
                    crlf + crlf).getBytes("UTF-8") ++ httpB ++
                    (crlf + crlf).getBytes("UTF-8")
                }
              val sink = out
              val shield = new java.io.FilterOutputStream(sink) {
                override def write(b: Array[Byte], o: Int,
                                   n: Int): Unit = sink.write(b, o, n)
                override def close(): Unit = ()
              }
              val g = new java.util.zip.GZIPOutputStream(shield)
              g.write(member); g.close()
            }
            out.close()
          }
      }
    }
    val recs = WarcFiles.records(s, s"$fixtureBase/*.warc.gz",
      splitBytes = 64L << 20)
    val tok = WarcFiles.responseTextsFromRecords(recs)
      .withColumn("doc_id", regexp_extract(col("target_uri"),
        "/doc/([0-9]+)$", 1).cast("long"))
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount("text").as("ntok"),
        length(col("text")).cast("long").as("nch"))
    val groups = Dedup.exactDupGroups(tok, "doc_id", "text")
    val recAgg = recs.agg(count(lit(1)).as("n_records"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L))
        .as("n_quarantined"),
      sum(when(col("error").isNull && col("warc_type") === "response",
        1L).otherwise(0L)).as("n_responses"))
    val okAgg = tok.agg(count(lit(1)).as("n_ok"),
      coalesce(sum("ntok"), lit(0L)).as("n_tokens"),
      coalesce(sum("nch"), lit(0L)).as("n_chars"))
    val dupAgg = groups.agg(count(lit(1)).as("n_unique"),
      (coalesce(sum("n_copies"), lit(0L)) - count(lit(1)))
        .as("n_dup_killed"))
    val keepAgg = groups.select(col("keep_id"))
      .join(tok, col("keep_id") === col("doc_id"))
      .agg(coalesce(sum("ntok"), lit(0L)).as("keep_tokens"))
    recAgg.crossJoin(okAgg).crossJoin(dupAgg).crossJoin(keepAgg)
  }, Some {
    val html = "'<html><head><style>p { color: red }</style></head>" +
      "<body><p>' || text || '</p><a href=\"/n\">nav &amp; more</a>" +
      "</body></html>'"
    s"""WITH o AS (SELECT doc_id, text FROM documents),
      ids AS (SELECT doc_id AS id, text FROM o
        UNION ALL SELECT doc_id + 1000000, text FROM o
        WHERE doc_id % 6 = 0),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bad FROM o
        WHERE doc_id % 13 = 0),
      okd AS (SELECT id,
          ${graft.operators.Html.cleanTextDuckSql(html)} AS t
        FROM ids WHERE id % 11 <> 0),
      tok AS (SELECT id, t,
          CAST(len(${tokensDuckSql("t")}) AS BIGINT) AS ntok,
          CAST(length(t) AS BIGINT) AS nch FROM okd),
      grp AS (SELECT
          sha256(regexp_replace(lower(trim(t)), '\\s+', ' ', 'g')) h,
          min(id) keep_id, CAST(count(*) AS BIGINT) nc
        FROM tok GROUP BY 1)
      SELECT
        CAST((SELECT count(*) FROM ids) + (SELECT n_bad FROM nb)
          AS BIGINT) AS n_records,
        (SELECT n_bad FROM nb) AS n_quarantined,
        CAST((SELECT count(*) FROM ids) AS BIGINT) AS n_responses,
        CAST((SELECT count(*) FROM tok) AS BIGINT) AS n_ok,
        (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM tok)
          AS n_tokens,
        (SELECT CAST(coalesce(sum(nch), 0) AS BIGINT) FROM tok)
          AS n_chars,
        (SELECT CAST(count(*) AS BIGINT) FROM grp) AS n_unique,
        (SELECT CAST(coalesce(sum(nc), 0) - count(*) AS BIGINT)
          FROM grp) AS n_dup_killed,
        (SELECT CAST(coalesce(sum(tok.ntok), 0) AS BIGINT)
          FROM grp JOIN tok ON tok.id = grp.keep_id) AS keep_tokens"""
  })

  // L77 — duplicated-span detection WITHOUT a fixed n-gram width:
  // prefix-doubling suffix ranks (Manber–Myers as dataflow) report, per
  // document, the longest cross-doc duplicated span on the power-of-two
  // grid plus dup-position counts at the 8- and 32-token thresholds —
  // the data-adaptive complement to l23's fixed-8 windows (round count
  // = ⌈log2(longest repeat)⌉ with early stop, not a design-time n).
  // The oracle replays the rank-tie ⇔ clamped-window-equality invariant
  // directly: for each grid span it groups the space-joined token
  // windows and keeps those spanning ≥2 distinct docs — engine-
  // independent string equality, no rank values cross the boundary.
  private val l77 = QueryDef("l77_suffix_dup_spans", (s, dir) => {
    SuffixArray.gridDupSpans(Tables.documents(s, dir), "doc_id", "text",
      horizon = 64)
  }, Some {
    val windows = (0 to 6).map { k =>
      val sp = 1 << k
      s"""SELECT doc_id, pos, n, CAST($sp AS BIGINT) AS s0,
          array_to_string(tk[pos:pos + ${sp - 1}], ' ') AS w FROM p"""
    }.mkString("\n        UNION ALL ")
    s"""WITH toks AS (SELECT doc_id,
          ${tokensDuckSql("text")} tk
        FROM documents),
      t2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) n FROM toks),
      p AS (SELECT doc_id, n, tk,
          unnest(range(1, CAST(n AS INTEGER) + 1)) AS pos FROM t2),
      w AS ($windows),
      d AS (SELECT s0, w FROM w GROUP BY s0, w
        HAVING count(DISTINCT doc_id) >= 2),
      f AS (SELECT doc_id, pos,
          LEAST(s0, n - pos + 1) AS span FROM w JOIN d USING (s0, w)),
      pp AS (SELECT doc_id, pos, max(span) AS span FROM f
        GROUP BY doc_id, pos),
      agg AS (SELECT doc_id, max(span) AS mx,
          CAST(sum(CASE WHEN span >= 8 THEN 1 ELSE 0 END) AS BIGINT)
            AS d8,
          CAST(sum(CASE WHEN span >= 32 THEN 1 ELSE 0 END) AS BIGINT)
            AS d32
        FROM pp GROUP BY doc_id)
      SELECT t2.doc_id, t2.n AS n_tokens,
        coalesce(agg.mx, 0) AS max_dup_span,
        coalesce(agg.d8, 0) AS n_dup_pos_8,
        coalesce(agg.d32, 0) AS n_dup_pos_32
      FROM t2 LEFT JOIN agg USING (doc_id)"""
  })

  // L78 — the STREAMING fixed-8 span index driven as a query (RISKS
  // row 15's between-releases policy, oracle-gated): documents arrive
  // in three simulated batches (doc_id % 3); each batch's positions
  // are flagged AT ARRIVAL — a window is duplicated for a batch doc
  // iff it occurs in an EARLIER batch, or in ANOTHER doc of the same
  // batch (standing docs keep the flags they got when they arrived —
  // the l22 discipline applied to spans). The oracle replays the
  // at-arrival rule in SQL via each gram's two smallest arrival
  // batches over distinct docs: for an occurrence (doc d, batch b),
  // the earliest OTHER-doc batch is b2 if d owns the overall minimum
  // else b1, and the position flags iff that batch is <= b. The sink
  // runs under the TIERED compaction cadence (maxDeltas=2), so the
  // hash match also certifies compaction inertness mid-stream. State
  // lives in a fresh per-invocation temp dir (re-runs rebuild it).
  private val l78 = QueryDef("l78_streaming_span_index", (s, dir) => {
    val root = java.nio.file.Files
      .createTempDirectory("graft_l78").toString
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val sink = graft.streaming.StreamOps.dupSpanIndexForeachBatchTiered(
      s"$root/index", s"$root/flags", "doc_id", "text", n = 8,
      maxDeltas = 2, hashedGramKeys = true, fanout = 2)
    (0L to 2L).foreach { b =>
      sink(docs.filter(pmod(col("doc_id"), lit(3L)) === b), b)
    }
    s.read.parquet(s"$root/flags")
      .select(col("doc_id"), col("batch").cast("long").as("batch"),
        col("n_tokens"), col("n_dup_positions"), col("dup_ratio"),
        col("clean_text"))
  }, Some(s"""WITH toks AS (SELECT doc_id, doc_id % 3 AS b,
        ${tokensDuckSql("text")} tk
        FROM documents),
      t2 AS (SELECT doc_id, b, tk, CAST(len(tk) AS BIGINT) n_tokens
        FROM toks),
      g AS (SELECT doc_id, b, u['pos'] pos, u['gram'] gram
            FROM (SELECT doc_id, b,
                   unnest(list_transform(range(1, len(tk) - 6),
                   i -> {'pos': i, 'gram': array_to_string(tk[i:i+7],
                     ' ')})) u
                  FROM toks WHERE len(tk) >= 8)),
      r AS (SELECT gram, doc_id, b,
              row_number() OVER (PARTITION BY gram
                ORDER BY b, doc_id) rn
            FROM (SELECT DISTINCT gram, doc_id, b FROM g)),
      top2 AS (SELECT gram,
              max(CASE WHEN rn = 1 THEN b END) AS b1,
              max(CASE WHEN rn = 1 THEN doc_id END) AS d1,
              max(CASE WHEN rn = 2 THEN b END) AS b2
            FROM r WHERE rn <= 2 GROUP BY gram),
      fl AS (SELECT g.doc_id, list_sort(list_distinct(list(g.pos)))
               starts
             FROM g JOIN top2 USING (gram)
             WHERE (CASE WHEN g.doc_id = top2.d1 THEN top2.b2
                    ELSE top2.b1 END) <= g.b
             GROUP BY g.doc_id),
      c AS (SELECT t2.doc_id, t2.b, tk, n_tokens,
              list_sort(list_distinct(flatten(list_transform(
                coalesce(starts, []), p -> range(p, p + 8))))) covered
            FROM t2 LEFT JOIN fl USING (doc_id))
      SELECT doc_id, CAST(b AS BIGINT) AS batch, n_tokens,
        CAST(len(covered) AS BIGINT) AS n_dup_positions,
        CASE WHEN n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(len(covered) AS DOUBLE) / n_tokens END
          AS dup_ratio,
        coalesce(array_to_string(list_transform(
          list_filter(range(1, CAST(n_tokens AS INTEGER) + 1),
            i -> NOT list_contains(covered, i)), i -> tk[i]), ' '), '')
          AS clean_text
      FROM c"""))

  private val l75 = QueryDef("l75_corpus_datasheet", (s, dir) => {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), col("lang"), col("source"),
      size(TextAnalysis.tokens("text"))
        .cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      sha2(graft.operators.Dedup.normalizeText(col("text")), 256)
        .as("ch"))
    val base = toks.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      sum("n_chars").as("total_chars"),
      expr("percentile(n_tokens, 0.5)").as("p50_tokens"),
      expr("percentile(n_tokens, 0.9)").as("p90_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val dups = toks.groupBy("ch").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_distinct_texts"),
        sum(when(col("n") > 1, col("n")).otherwise(0L))
          .as("docs_in_dup_groups"))
    val topSource = toks.groupBy("source")
      .agg(count(lit(1)).as("n"))
      .agg(max(struct(col("n"), col("source"))).as("m"))
      .select(col("m.source").as("top_source"),
        col("m.n").as("top_source_docs"))
    base.crossJoin(dups).crossJoin(topSource)
      .select(col("n_docs"), col("total_tokens"), col("total_chars"),
        col("p50_tokens"), col("p90_tokens"),
        col("n_sources"), col("n_langs"),
        col("n_distinct_texts"), col("docs_in_dup_groups"),
        col("top_source"), col("top_source_docs"))
  }, Some("""WITH t AS (SELECT doc_id, lang, source,
        CAST(len(""" + tokensDuckSql("text") + """) AS BIGINT) AS n_tokens,
        CAST(length(text) AS BIGINT) AS n_chars,
        sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
      FROM documents),
      base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        quantile_cont(n_tokens, 0.5) AS p50_tokens,
        quantile_cont(n_tokens, 0.9) AS p90_tokens,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM t),
      dups AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct_texts,
        CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
          AS docs_in_dup_groups
        FROM (SELECT ch, count(*) AS n FROM t GROUP BY ch)),
      tops AS (SELECT source AS top_source,
          CAST(n AS BIGINT) AS top_source_docs
        FROM (SELECT source, count(*) AS n FROM t GROUP BY source)
        ORDER BY n DESC, source DESC LIMIT 1)
      SELECT n_docs, total_tokens, total_chars, p50_tokens, p90_tokens,
        n_sources, n_langs, n_distinct_texts, docs_in_dup_groups,
        top_source, top_source_docs
      FROM base, dups, tops"""))

  // L67 — DoReMi domain mixture weights (Xie et al. 2023): one
  // corpus-scale pass computes per-domain EXCESS LOSS (global unigram
  // bit-surprisal minus the domain specialist's, clipped at 0 per
  // token — the l24 integer-bitlen machinery twice), then 12
  // multiplicative-weight iterations in scaled BIGINT upweight the
  // domains the generalist is most behind on. The oracle replays the
  // token explode, BOTH vocabularies, the clipped excess sums AND all
  // 12 unrolled iterations to the identical weight vector (the
  // l30/l31 fixed-point discipline; exact-EG exp() would not
  // hash-match across libms — documented deviation).
  private val l67 = QueryDef("l67_doremi_weights", (s, dir) => {
    graft.operators.DomainMix.domainWeights(Tables.documents(s, dir),
      "text", "source", iters = 12)
  }, Some(graft.operators.DomainMix.oracleSql("source", iters = 12)))

  // L68 — corpus snapshot diff: the dataset-versioning primitive
  // ("what changed between crawl N and N+1"). Old/new snapshots are
  // carved deterministically from the corpus — old drops %10==3 ids
  // (those read as ADDED), new drops %10==7 (REMOVED), %5==0 texts
  // get a v2 suffix (CHANGED) — so all four statuses occur; digests
  // computed map-side, the full outer join moves (id, digest) pairs
  // only.
  private val l68 = QueryDef("l68_snapshot_diff", (s, dir) => {
    val docs = Tables.documents(s, dir)
    val oldSnap = docs.filter(col("doc_id") % 10 =!= 3)
    val newSnap = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    graft.operators.Dedup.snapshotDiff(oldSnap, newSnap,
      "doc_id", "text")
  }, Some("""WITH o AS (SELECT doc_id AS id, md5(text) h_old
          FROM documents WHERE doc_id % 10 <> 3),
        n AS (SELECT doc_id AS id,
            md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                ELSE text END) h_new
          FROM documents WHERE doc_id % 10 <> 7)
        SELECT coalesce(o.id, n.id) AS id,
          CASE WHEN o.id IS NULL THEN 'added'
               WHEN n.id IS NULL THEN 'removed'
               WHEN h_old <> h_new THEN 'changed'
               ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.id = n.id"""))

  // L69 — exact top-k selection WITHOUT a global sort: the "keep
  // exactly the k best documents" primitive. Quantiles.kthLargest
  // finds the exact k-th (value DESC, id ASC) order pair by iterative
  // histogram narrowing — O(log_B(range)) map-side-combinable
  // aggregations, driver state = one interval (the Bpe/mmr
  // driver-paced class), no exchange ranks the corpus. The oracle
  // computes the same threshold pair via a window rank and the same
  // keep predicate — the hash-match proves the narrowing found the
  // EXACT order statistic including the id tie-break (n_chars ties
  // are dense at sf0.01).
  private val l69 = QueryDef("l69_exact_topk_select", (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
    val thr = graft.operators.Quantiles.kthLargest(docs, "n_chars",
      "doc_id", k = 50)
    docs
      .withColumn("keep", graft.operators.Quantiles
        .keepTopK("n_chars", "doc_id", thr).cast("long"))
      .withColumn("thr_value", lit(thr._1))
      .withColumn("thr_id", lit(thr._2))
  }, Some("""WITH ranked AS (SELECT doc_id, n_chars,
        row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) rnk
        FROM documents),
      t AS (SELECT n_chars AS tv, doc_id AS ti FROM ranked
        WHERE rnk = 50)
      SELECT d.doc_id, d.n_chars,
        CAST(d.n_chars > tv OR (d.n_chars = tv AND d.doc_id <= ti)
          AS BIGINT) AS keep,
        tv AS thr_value, ti AS thr_id
      FROM documents d CROSS JOIN t"""))

  // L70 — sentence-level exact dedup, keep-FIRST-occurrence (the C4
  // discipline: a sentence verbatim in many docs survives in exactly
  // ONE — the earliest (doc, pos) — where l59's threshold rule keeps
  // all copies or kills them all). Sentences here are deterministic
  // 6-token chunks (the l13 machinery — splitting policy is the
  // caller's) plus a planted boilerplate sentence on every %4 doc at
  // pos −1, so cross-doc dups are guaranteed beyond natural text
  // collisions. ONE oracle for l70 (string keys, mirrored verbatim)
  // and l70h (xxhash64 keys — value-identical by the l23h collision
  // contract).
  private val l70Sentence = "shared boilerplate sentence appears everywhere"
  private def l70Build(s: SparkSession, dir: String,
                       hashed: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir)
    val chunks = docs.select(col("doc_id"),
      explode(TextAnalysis.chunks("text", size = 6, stride = 6)).as("c"))
      .select(col("doc_id"), col("c.start").cast("long").as("pos"),
        col("c.chunk").as("sentence"))
    val planted = docs.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), lit(-1L).as("pos"),
        lit(l70Sentence).as("sentence"))
    Dedup.sentenceDedup(chunks.unionByName(planted), "doc_id", "pos",
      "sentence", hashedKeys = hashed)
  }
  private val l70OracleSql = s"""WITH t AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      ch AS (SELECT doc_id, CAST(i AS BIGINT) pos,
          array_to_string(tk[i : i + 5], ' ') s
        FROM t, LATERAL (SELECT unnest(range(1, len(tk) + 1, 6)) AS i) q),
      pl AS (SELECT doc_id, CAST(-1 AS BIGINT) pos, '$l70Sentence' s
        FROM documents WHERE doc_id % 4 = 0),
      u AS (SELECT * FROM ch UNION ALL SELECT * FROM pl),
      f AS (SELECT s, (list(doc_id ORDER BY doc_id, pos))[1] fdoc,
          (list(pos ORDER BY doc_id, pos))[1] fpos
        FROM u GROUP BY s),
      k AS (SELECT u.doc_id, u.pos, u.s,
          CASE WHEN u.doc_id = f.fdoc AND u.pos = f.fpos
            THEN 1 ELSE 0 END keep
        FROM u JOIN f ON f.s = u.s)
      SELECT doc_id AS doc, CAST(count(*) AS BIGINT) n_sent,
        CAST(sum(keep) AS BIGINT) n_kept,
        md5(coalesce(array_to_string(
          list(s ORDER BY pos) FILTER (WHERE keep = 1), ' | '), ''))
          AS clean_md5
      FROM k GROUP BY doc_id"""
  private val l70 = QueryDef("l70_sentence_dedup", (s, dir) =>
    l70Build(s, dir, hashed = false), Some(l70OracleSql))
  private val l70h = QueryDef("l70h_sentence_dedup_hashed", (s, dir) =>
    l70Build(s, dir, hashed = true), Some(l70OracleSql))

  // L57 — hard-negative mining (contrastive-training data prep): per
  // query, the top-5 most-similar vectors with cosine BELOW the 0.9
  // near-dup threshold — the "almost positive" negatives that carry
  // gradient signal, with true near-dups (false negatives) excluded.
  // Runs on the twinned corpus so the exclusion arm is non-vacuous:
  // every query's nearest neighbor is its planted twin at cosine
  // ~0.99, which MUST be absent from the output (spec-pinned), and
  // rank 1 falls to the best genuine non-duplicate.
  private val l57 = QueryDef("l57_hard_negatives", (s, dir) => {
    val corpus = twinnedEmbeddings(s, dir)
    Similarity.hardNegativesTopK(corpus,
      corpus.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, dupThreshold = 0.9)
  }, Some(s"""WITH $twinnedSql,
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM tw),
      q AS (SELECT vec_id q_id, v qv FROM e WHERE vec_id < 10),
      scored AS (SELECT q_id, e.vec_id n_id,
          ${duckCosine("qv", "v")} AS cosine
        FROM e, q WHERE q_id <> e.vec_id),
      ranked AS (SELECT q_id, n_id, cosine,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS BIGINT) rnk
        FROM scored WHERE cosine < CAST(0.9 AS DOUBLE))
      SELECT q_id, rnk, n_id, cosine FROM ranked WHERE rnk <= 5"""))

  // L58 — filter-funnel accounting over a four-rule quality battery
  // (min length, alpha ratio, lexical diversity, stopword presence —
  // thresholds inside the sf0.01 distributions so every rule both
  // kills and passes documents). Reports per rule: outright failures,
  // funnel-attributed kills, and survivors — the numbers a pipeline
  // owner tunes thresholds by. One combinable aggregate, stack unpivot.
  private val l58 = QueryDef("l58_filter_funnel", (s, dir) => {
    val toks = tokensSql("text")
    TextAnalysis.filterFunnel(Tables.documents(s, dir), Seq(
      "min_tokens_40" -> (expr(s"size($toks)") >= 40),
      // every ratio rule carries an explicit positive-denominator
      // guard: Spark yields NULL on x/0 (coalesced to FAIL by
      // filterFunnel) while DuckDB's IEEE float division yields
      // inf/nan with engine-specific comparison semantics — the guard
      // pins "empty doc fails the rule" identically on both engines
      "alpha_ratio_082" ->
        (length(col("text")) > 0 &&
          length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .cast("double") / length(col("text")).cast("long") >= 0.82),
      "diversity_035" ->
        (expr(s"size($toks)") > 0 &&
          expr(s"size(array_distinct($toks))").cast("double") /
            expr(s"size($toks)").cast("long") >= 0.35),
      "has_stopwords" ->
        (expr(s"size($toks)") > 0 &&
          expr(s"size(filter($toks, x -> x IN ('the', 'a')))")
            .cast("double") / expr(s"size($toks)").cast("long") > 0.02)))
  }, Some(s"""WITH t AS (SELECT doc_id, text,
        ${tokensDuckSql("text")} tk
        FROM documents),
      f AS (SELECT doc_id,
          coalesce(len(tk) >= 40, FALSE) p0,
          coalesce(length(text) > 0 AND
            CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
            AS DOUBLE) / CAST(length(text) AS BIGINT) >= 0.82, FALSE) p1,
          coalesce(len(tk) > 0 AND CAST(len(list_distinct(tk)) AS DOUBLE)
            / CAST(len(tk) AS BIGINT) >= 0.35, FALSE) p2,
          coalesce(len(tk) > 0 AND CAST(len(list_filter(tk,
              x -> list_contains(['the', 'a'], x))) AS DOUBLE)
            / CAST(len(tk) AS BIGINT) > 0.02, FALSE) p3
        FROM t),
      agg AS (SELECT
          CAST(sum(CASE WHEN NOT p0 THEN 1 ELSE 0 END) AS BIGINT) f0,
          CAST(sum(CASE WHEN NOT p0 THEN 1 ELSE 0 END) AS BIGINT) k0,
          CAST(sum(CASE WHEN p0 THEN 1 ELSE 0 END) AS BIGINT) s0,
          CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) f1,
          CAST(sum(CASE WHEN p0 AND NOT p1 THEN 1 ELSE 0 END) AS BIGINT)
            k1,
          CAST(sum(CASE WHEN p0 AND p1 THEN 1 ELSE 0 END) AS BIGINT) s1,
          CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) f2,
          CAST(sum(CASE WHEN p0 AND p1 AND NOT p2 THEN 1 ELSE 0 END)
            AS BIGINT) k2,
          CAST(sum(CASE WHEN p0 AND p1 AND p2 THEN 1 ELSE 0 END)
            AS BIGINT) s2,
          CAST(sum(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) f3,
          CAST(sum(CASE WHEN p0 AND p1 AND p2 AND NOT p3 THEN 1 ELSE 0
            END) AS BIGINT) k3,
          CAST(sum(CASE WHEN p0 AND p1 AND p2 AND p3 THEN 1 ELSE 0 END)
            AS BIGINT) s3
        FROM f)
      SELECT 1 AS rule_idx, 'min_tokens_40' AS rule, f0 AS n_failing,
        k0 AS n_killed_here, s0 AS n_survivors FROM agg
      UNION ALL SELECT 2, 'alpha_ratio_082', f1, k1, s1 FROM agg
      UNION ALL SELECT 3, 'diversity_035', f2, k2, s2 FROM agg
      UNION ALL SELECT 4, 'has_stopwords', f3, k3, s3 FROM agg"""))

  // L59 — CCNet-style line-frequency boilerplate removal. The fixture
  // corpus has no newlines, so the query first builds a lined corpus
  // deterministically on BOTH engines: a planted nav header + footer
  // (df = all docs — the boilerplate the operator exists to kill) and
  // content lines cut at ' the '/' a ' boundaries (portable
  // RE2∩java.regex pattern; short common runs like a bare token line
  // land above the threshold too, so the decision is non-trivial
  // beyond the planted lines). Survivors re-join in original order;
  // the DISTINCT-doc frequency, at-threshold survival, and
  // all-boilerplate -> '' arms are all exercised at sf0.01.
  private val l59 = QueryDef("l59_line_boilerplate", (s, dir) => {
    val lined = Tables.documents(s, dir).select(col("doc_id"),
      concat(lit("nav home menu\n"),
        regexp_replace(col("text"), " (the|a) ", "\n"),
        lit("\ncopyright footer 2024")).as("text"))
    Dedup.lineFrequencyFilter(lined, "doc_id", "text", maxDocFreq = 4)
  }, Some("""WITH lined AS (SELECT doc_id,
        'nav home menu' || chr(10) ||
        regexp_replace(text, ' (the|a) ', chr(10), 'g') ||
        chr(10) || 'copyright footer 2024' AS text
      FROM documents),
      ls AS (SELECT doc_id, string_split(text, chr(10)) l FROM lined),
      ln AS (SELECT doc_id, i AS pos, l[i] AS line
        FROM ls, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) u),
      freq AS (SELECT line, count(DISTINCT doc_id) line_df
        FROM ln GROUP BY line),
      k AS (SELECT doc_id, pos, ln.line, line_df <= 4 AS keep
        FROM ln JOIN freq ON ln.line = freq.line)
      SELECT doc_id, CAST(count(*) AS BIGINT) n_lines,
        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
          n_kept_lines,
        coalesce(string_agg(CASE WHEN keep THEN line END,
          chr(10) ORDER BY pos), '') clean_text
      FROM k GROUP BY doc_id"""))

  // L60 — blocklist term matching via the native Aho-Corasick
  // expression (ONE compiled scan per row regardless of pattern-set
  // size — the property a 10^4-term blocklist at 100 TB needs; a regex
  // alternation trials alternatives per position and K contains calls
  // rescan K times). Patterns overlap ("fast table" contains "table")
  // and one is absent, so the count semantics (every (position,
  // pattern) occurrence) and the zero arm are both pinned; the oracle
  // probes every start position per pattern with substr.
  private val l60Pats =
    Seq("fast table", "table", "agg", "merge batch", "slow merge", "zzz")
  private val l60 = QueryDef("l60_blocklist_hits", (s, dir) => {
    Tables.documents(s, dir).select(col("doc_id"),
      TextAnalysis.blocklistHits(col("text"), l60Pats).as("n_hits"))
      .withColumn("blocked", (col("n_hits") > 0).cast("long"))
  }, Some {
    val terms = l60Pats.map { t =>
      s"len(list_filter(range(1, length(text) - ${t.length} + 2), " +
        s"i -> substr(text, i, ${t.length}) = '$t'))"
    }.mkString("(", " + ", ")")
    s"""SELECT doc_id, n_hits,
        CAST(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END AS BIGINT) blocked
      FROM (SELECT doc_id, CAST($terms AS BIGINT) n_hits
            FROM documents)"""
  })

  // L51 — Count-Min sketch frequency estimation (4 x 16 grid over the
  // token stream): the linear mergeable sketch for ad-hoc frequency
  // point queries at corpus scale (O(depth*width) state, elementwise-
  // add merges — bit-deterministic under any partitioning, unlike
  // Misra-Gries whose counters are arrival-order-dependent and need
  // x18's recount pass). Output = the 20 exact-heaviest tokens with
  // their sketch estimates; the oracle mirrors every counter through
  // the portable affine row hashes over poly_hash (exact BIGINT both
  // engines), so the hash match checks est >= exact collision behavior
  // counter by counter — width 16 is chosen to put the fixture in the
  // collision regime (11 of the 20 top tokens inflate at sf0.01; at
  // width 64 none did and the est side was vacuous).
  // The generic (r+1)*2654435761 % P formula below
  // mirrors CountMin.aCoef/bCoef — CountMinSpec pins the JVM and SQL
  // sides against each other.
  private val l51 = QueryDef("l51_cms_freq", (s, dir) => {
    TextAnalysis.cmsTopFrequencies(Tables.documents(s, dir), "text",
      depth = 4, width = 16, topK = 20)
  }, Some {
    val P = graft.functions.CountMin.P
    def bucket(h: String) =
      s"""(((($h % $P) + $P) % $P * (((rr.r + 1) * 2654435761) % $P)
          + (rr.r * 40503 + 7)) % $P) % 16"""
    s"""WITH toks AS (SELECT unnest(${tokensDuckSql("text")}) AS t
          FROM documents),
      hh AS (SELECT t, list_reduce(list_prepend(CAST(7 AS BIGINT),
          list_transform(range(1, length(t) + 1),
            i -> CAST(ascii(t[i]) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1073741789) AS h FROM toks),
      cells AS (SELECT rr.r AS r, ${bucket("h")} AS bucket,
          CAST(count(*) AS BIGINT) AS cnt
        FROM hh CROSS JOIN range(0, 4) rr(r) GROUP BY 1, 2),
      top AS (SELECT t, h, CAST(count(*) AS BIGINT) AS exact FROM hh
        GROUP BY 1, 2 ORDER BY exact DESC, t LIMIT 20),
      est AS (SELECT top.t, top.exact, min(c.cnt) AS est
        FROM top CROSS JOIN range(0, 4) rr(r)
        JOIN cells c ON c.r = rr.r AND c.bucket = ${bucket("top.h")}
        GROUP BY 1, 2)
      SELECT t AS token, exact, CAST(est AS BIGINT) AS est FROM est"""
  })

  /** Shared CTE prefix for the l52 family: the portable PQ model
    * (rank-ordered 16-vector sample, 8 subspaces x 8 elements) and the
    * per-(vector, subspace) argmin-L2 codes — the DuckDB mirror of
    * [[graft.operators.Pq.fit]] + [[graft.plans.PqEncodeAll]] at the
    * (dim=64, m=8, ksub=16) design point. Distances fold (v_i - cw_i)^2
    * left-to-right exactly as the fused expression accumulates, so the
    * code assignment (row_number by d2 asc, c asc == strict < walking c
    * ascending) hash-matches bit for bit.
    */
  private def pqEncCtes: String = pqEncCtesNamed("")

  /** Same CTEs with a name prefix, so they compose with the l11p IVF
    * assignment CTEs (which also define `e`/`cent`) in one query (l53).
    */
  private def pqEncCtesNamed(p: String): String =
    s"""${p}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
      ${p}cent AS (SELECT v,
          row_number() OVER (ORDER BY
            ${graft.operators.Similarity.portableCentroidRankSql("vec_id")},
            vec_id) - 1 AS c
        FROM ${p}e
        ORDER BY
          ${graft.operators.Similarity.portableCentroidRankSql("vec_id")},
          vec_id
        LIMIT 16),
      ${p}cb AS (SELECT ss.s AS s, ${p}cent.c AS c,
          list_transform(range(1, 9), i -> v[ss.s * 8 + i]) AS cw
        FROM ${p}cent CROSS JOIN range(0, 8) ss(s)),
      ${p}dist AS (SELECT ${p}e.vec_id, ${p}cb.s, ${p}cb.c,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 9),
              i -> (${p}e.v[${p}cb.s * 8 + i] - ${p}cb.cw[i])
                 * (${p}e.v[${p}cb.s * 8 + i] - ${p}cb.cw[i]))),
            (a, b) -> a + b) AS d2
        FROM ${p}e CROSS JOIN ${p}cb),
      ${p}enc AS (SELECT vec_id, s, c AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s
            ORDER BY d2, c) AS r FROM ${p}dist) WHERE r = 1)"""

  // L52 — product-quantization encode (Jégou et al. 2011): every
  // embedding stored as 8 codes over 16-codeword subspace codebooks —
  // the 64x-compressed form a 100 TB vector store scans. Codebooks are
  // the deterministic rank-ordered sample (the IVF centroid trick), so
  // the DuckDB oracle replays fit + encode end to end and hash-matches
  // the fused pq_encode_all expression bit for bit.
  private val l52 = QueryDef("l52_pq_encode", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val model = graft.operators.Pq.fit(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16,
      rank = Similarity.portableCentroidRank)
    graft.operators.Pq.encodeExploded(emb, "vec_id", "embedding", model)
  }, Some(s"""WITH $pqEncCtes
      SELECT vec_id, CAST(s AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
      FROM enc"""))

  // L52A — asymmetric-distance (ADC) top-k by inner product over the
  // PQ codes: the full-precision query builds one per-subspace lookup
  // table (pq_lut), every corpus row scores with m lookups + adds
  // (pq_lut_score), ranking through the mergeable BoundedTopK like the
  // rest of the ANN family. The oracle replays the EXACT float order —
  // per-subspace partial dots summed in ascending-s list_reduce order,
  // which is NOT the same rounding as one concatenated dot.
  private val l52a = QueryDef("l52a_pq_adc_topk", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val model = graft.operators.Pq.fit(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16,
      rank = Similarity.portableCentroidRank)
    val codes = graft.operators.Pq.encode(emb, "vec_id", "embedding",
      model)
    graft.operators.Pq.adcTopK(codes, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", model, k = 5)
  }, Some(s"""WITH $pqEncCtes,
      q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
      sds AS (SELECT q.q_id, n.vec_id AS n_id, n.s,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 9),
              i -> q.qv[n.s * 8 + i] * cb.cw[i])),
            (a, b) -> a + b) AS sd
        FROM enc n JOIN cb ON cb.s = n.s AND cb.c = n.code
        CROSS JOIN q
        WHERE q.q_id <> n.vec_id),
      sc AS (SELECT q_id, n_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(sd ORDER BY s)), (a, b) -> a + b) AS adc_ip
        FROM sds GROUP BY q_id, n_id),
      rk AS (SELECT q_id, n_id, adc_ip,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY adc_ip DESC, n_id) AS BIGINT) AS rnk FROM sc)
      SELECT q_id, rnk, n_id, adc_ip FROM rk WHERE rnk <= 5"""))

  // L53 — IVF-PQ top-k (the FAISS-standard production ANN composition):
  // probed-cell pruning from the l11p inverted file + ADC scoring from
  // the l52 PQ codes, BOTH stages on the portable deterministic sample,
  // so ONE DuckDB query replays centroid sample -> cell assignment ->
  // codebook -> encode -> probe -> ADC -> rank and hash-matches the
  // fused engine pipeline end to end. At 100 TB this is the shape that
  // ships: a query touches nProbe/nCells of the corpus and reads m-byte
  // codes, not vectors; exact re-rank of survivors restores
  // full-precision ranks where needed (rerankTopK).
  private val l53 = QueryDef("l53_ivf_pq_topk", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val model = graft.operators.Pq.fit(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16,
      rank = Similarity.portableCentroidRank)
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5, model, nCells = 16, nProbe = 4,
      centroidRank = Similarity.portableCentroidRank)
  }, Some(s"""WITH $ivfAsgCtes,
      ${pqEncCtesNamed("p")},
      prb AS (SELECT vec_id AS q_id, v AS qv, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, cell) AS r FROM sims
          WHERE vec_id < 10) WHERE r <= 4),
      sds AS (SELECT prb.q_id, a.n_id, n.s,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 9),
              i -> prb.qv[n.s * 8 + i] * pcb.cw[i])),
            (x, y) -> x + y) AS sd
        FROM prb
        JOIN asg a ON a.cell = prb.cell
        JOIN penc n ON n.vec_id = a.n_id
        JOIN pcb ON pcb.s = n.s AND pcb.c = n.code
        WHERE prb.q_id <> a.n_id),
      sc AS (SELECT q_id, n_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(sd ORDER BY s)), (x, y) -> x + y) AS adc_ip
        FROM sds GROUP BY q_id, n_id),
      rk AS (SELECT q_id, n_id, adc_ip,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY adc_ip DESC, n_id) AS BIGINT) AS rnk FROM sc)
      SELECT q_id, rnk, n_id, adc_ip FROM rk WHERE rnk <= 5"""))

  // L53R — RESIDUAL IVF-PQ top-k (the FAISS IVFPQ form): codebooks
  // trained on vec - centroid[cell], score = dot(q, centroid) +
  // residual ADC (inner product is linear). With the portable rank on
  // both samples and no Lloyd, every stage is exact double arithmetic
  // both engines compute verbatim, so the oracle replays assignment ->
  // residuals -> residual codebook -> encode -> probe -> score -> rank
  // and the hash match covers the native vec_sub residual step too.
  private val l53r = QueryDef("l53r_ivf_pq_residual", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = Similarity.sampleCentroids(emb, "vec_id",
      "embedding", nCells = 16,
      centroidRank = Similarity.portableCentroidRank)
    val model = graft.operators.Pq.fitResidual(emb, "vec_id",
      "embedding", dim = 64, m = 8, ksub = 16, centroids,
      rank = Similarity.portableCentroidRank)
    graft.operators.Pq.ivfPqTopKResidual(emb,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      model, centroids, nProbe = 4)
  }, Some {
    val rankSql = graft.operators.Similarity.portableCentroidRankSql _
    s"""WITH $ivfAsgCtes,
      rs AS (SELECT a.n_id, a.cell,
          list_transform(range(1, 65), i -> a.nv[i] - c.cv[i]) AS rv
        FROM asg a JOIN cent c ON c.cell = a.cell),
      pcent AS (SELECT rv AS v,
          row_number() OVER (ORDER BY ${rankSql("n_id")}, n_id) - 1 AS c
        FROM rs ORDER BY ${rankSql("n_id")}, n_id LIMIT 16),
      pcb AS (SELECT ss.s AS s, pcent.c AS c,
          list_transform(range(1, 9), i -> v[ss.s * 8 + i]) AS cw
        FROM pcent CROSS JOIN range(0, 8) ss(s)),
      pdist AS (SELECT rs.n_id, pcb.s, pcb.c,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 9),
              i -> (rs.rv[pcb.s * 8 + i] - pcb.cw[i])
                 * (rs.rv[pcb.s * 8 + i] - pcb.cw[i]))),
            (x, y) -> x + y) AS d2
        FROM rs CROSS JOIN pcb),
      penc AS (SELECT n_id, s, c AS code FROM (
          SELECT *, row_number() OVER (PARTITION BY n_id, s
            ORDER BY d2, c) AS r FROM pdist) WHERE r = 1),
      prb AS (SELECT p.vec_id AS q_id, p.v AS qv, p.cell,
          ${duckDot("p.v", "c.cv", "65")} AS qc
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, cell) AS r FROM sims
          WHERE vec_id < 10) p
        JOIN cent c ON c.cell = p.cell
        WHERE p.r <= 4),
      nn AS (SELECT n_id, cell FROM rs),
      sds AS (SELECT prb.q_id, nn.n_id, en.s, prb.qc,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, 9),
              i -> prb.qv[en.s * 8 + i] * pcb.cw[i])),
            (x, y) -> x + y) AS sd
        FROM prb
        JOIN nn ON nn.cell = prb.cell
        JOIN penc en ON en.n_id = nn.n_id
        JOIN pcb ON pcb.s = en.s AND pcb.c = en.code
        WHERE prb.q_id <> nn.n_id),
      sc AS (SELECT q_id, n_id,
          qc + list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(sd ORDER BY s)), (x, y) -> x + y) AS adc_ip
        FROM sds GROUP BY q_id, n_id, qc),
      rk AS (SELECT q_id, n_id, adc_ip,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY adc_ip DESC, n_id) AS BIGINT) AS rnk FROM sc)
      SELECT q_id, rnk, n_id, adc_ip FROM rk WHERE rnk <= 5"""
  })

  private val langMarkers =
    Seq("en" -> "the", "de" -> "table", "es" -> "data", "fr" -> "filter",
      "zh" -> "window")

  // L7 — heuristic language ID (marker-token argmax, first-wins ties),
  // confusion-matrix output against the labeled lang column.
  private val l7 = QueryDef("l7_lang_id", (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("predicted", TextAnalysis.langId("text", langMarkers))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
  }, Some {
    val hits = langMarkers.map { case (lang, m) =>
      s"CAST(len(list_filter(${tokensDuckSql("text")}, t -> t = '$m')) " +
        s"AS BIGINT) AS h_$lang"
    }.mkString(", ")
    val langs = langMarkers.map(_._1)
    val caseArms = langs.zipWithIndex.dropRight(1).map { case (l, i) =>
      val laters = langs.drop(i + 1).map(o => s"h_$l >= h_$o").mkString(" AND ")
      s"WHEN $laters THEN '$l'"
    }.mkString(" ")
    s"""WITH h AS (SELECT lang, $hits FROM documents)
       SELECT lang, CASE $caseArms ELSE '${langs.last}' END AS predicted,
       CAST(count(*) AS BIGINT) AS n FROM h GROUP BY 1, 2"""
  })

  // L8 — quality-score features (the cheap pre-training filters).
  private val l8 = QueryDef("l8_quality_score", (s, dir) => {
    val feats = TextAnalysis.qualityFeatures("text", Seq("the", "a"))
    feats.foldLeft(Tables.documents(s, dir)) { case (df, (name, c)) =>
      df.withColumn(name, c)
    }.select((Seq("doc_id", "lang") ++ feats.map(_._1)).map(col): _*)
  }, Some(s"""WITH t AS (SELECT doc_id, lang, text,
        ${tokensDuckSql("text")} tk
        FROM documents)
      SELECT doc_id, lang,
        CAST(length(text) AS BIGINT) AS n_chars_m,
        CAST(len(tk) AS BIGINT) AS n_tokens,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(tk, x -> CAST(length(x) AS BIGINT))),
          (a, b) -> a + b) AS DOUBLE) / CAST(len(tk) AS BIGINT)
          AS avg_token_len,
        CAST(len(list_filter(tk, x -> list_contains(['the', 'a'], x)))
          AS DOUBLE) / CAST(len(tk) AS BIGINT) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
          / CAST(length(text) AS BIGINT) AS alpha_ratio
      FROM t"""))

  // L9 — token counting: whitespace + BPE-ish regex pre-tokenizer.
  private val l9 = QueryDef("l9_token_count", (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("ws_tokens", TextAnalysis.tokenCount("text"))
      .withColumn("bpeish_tokens", TextAnalysis.bpeishCount("text"))
      .groupBy("lang").agg(
        sum("ws_tokens").cast("long").as("ws_total"),
        sum("bpeish_tokens").cast("long").as("bpeish_total"),
        count(lit(1)).as("n_docs"))
  }, Some("""SELECT lang,
      CAST(sum(len(""" + tokensDuckSql("text") + """)) AS BIGINT) AS ws_total,
      CAST(sum(len(regexp_extract_all(text,
        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS bpeish_total,
      CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang"""))

  // L20 — within-doc trigram repetition ratio (the Gopher-style
  // duplicate-n-gram-fraction quality rule): crawled boilerplate and
  // generation loops score high; keep = ratio below 0.3. Small-int
  // division in IEEE double hash-matches across engines.
  private val l20 = QueryDef("l20_repetition_ratio", (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.repetitionRatio("text", 3).as("rep_ratio"))
      .withColumn("keep", (col("rep_ratio") < 0.3).cast("long"))
  }, Some(s"""WITH toks AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      r AS (SELECT doc_id,
        CASE WHEN len(tk) < 3 THEN CAST(0.0 AS DOUBLE)
          ELSE 1 - CAST(len(${shinglesDuckSql("tk")}) AS DOUBLE)
            / CAST(len(tk) - 2 AS DOUBLE) END AS rep_ratio
        FROM toks)
      SELECT doc_id, rep_ratio,
        CAST(rep_ratio < CAST(0.3 AS DOUBLE) AS BIGINT) AS keep
      FROM r"""))

  // L21 — per-source rate sampling (data mixing): each language keeps a
  // target share of its documents, decided per doc by a deterministic
  // portable hash of the id (Knuth multiplicative, the same rank l11p's
  // centroid sample uses) against the rate — the map-only, shuffle-free
  // form of source reweighting that holds at any scale (a top-K-per-
  // group quota via window would funnel 100 TB through one partition
  // per source). Integer threshold arithmetic end to end, so the kept
  // set — not just its size — is engine-reproducible.
  private val l21 = QueryDef("l21_rate_sample", (s, dir) => {
    val rates = Seq("en" -> 1000000L, "de" -> 600000L, "es" -> 500000L,
      "fr" -> 400000L, "zh" -> 250000L)
    val rate = rates.tail.foldLeft(
      when(col("lang") === rates.head._1, lit(rates.head._2))) {
      case (acc, (l, r)) => acc.when(col("lang") === l, lit(r))
    }.otherwise(lit(1000000L))
    val draw = pmod(
      pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)),
      lit(1000000L))
    Tables.documents(s, dir)
      .withColumn("kept", (draw < rate).cast("long"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum("kept").cast("long").as("n_kept"))
  }, Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN ((doc_id * 2654435761) % 4294967296) % 1000000 <
        CASE lang WHEN 'en' THEN 1000000 WHEN 'de' THEN 600000
          WHEN 'es' THEN 500000 WHEN 'fr' THEN 400000
          WHEN 'zh' THEN 250000 ELSE 1000000 END
        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents GROUP BY lang"""))

  // L10 — order-sensitive rolling-hash fingerprint (portable fold).
  private val l10 = QueryDef("l10_fingerprint", (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))
  }, Some(s"""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(${tokensDuckSql("text")},
        t -> CAST(length(t) * 17 + ascii(t[1]) AS BIGINT))),
      (a, b) -> (a * 31 + b) % 1000000007) AS fp
      FROM documents"""))

  // L13 — token-window chunking (size 32, stride 24 => 8-token overlap):
  // the context-window preparation step of a training pipeline.
  private val l13 = QueryDef("l13_chunking", (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.chunks("text", size = 32, stride = 24))
          .as("c"))
      .select(col("doc_id"), col("c.start").as("chunk_start"),
        col("c.chunk").as("chunk"))
  }, Some(s"""WITH t AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_start,
        array_to_string(tk[i : i + 31], ' ') AS chunk
      FROM t, LATERAL (SELECT unnest(range(1, len(tk) + 1, 24)) AS i) s"""))

  // L14 — pattern redaction over the event props payload (digit runs
  // masked), with before/after distinct counts as the check.
  private val l14 = QueryDef("l14_redact", (s, dir) => {
    Tables.events(s, dir)
      .withColumn("redacted", TextAnalysis.redactDigits("props"))
      .agg(countDistinct("props").as("n_raw"),
        countDistinct("redacted").as("n_redacted"),
        count(when(col("redacted") === "{\"k\": #}", lit(1)))
          .as("n_masked_shape"))
  }, Some("""SELECT
      CAST(count(DISTINCT props) AS BIGINT) AS n_raw,
      CAST(count(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g'))
        AS BIGINT) AS n_redacted,
      CAST(count(*) FILTER (WHERE regexp_replace(props, '[0-9]+', '#',
        'g') = '{"k": #}') AS BIGINT) AS n_masked_shape
      FROM events"""))

  // L15 — benchmark decontamination: max 3-gram overlap of each document
  // against a "benchmark" slice (here: the first 25 docs stand in for an
  // eval set). The planted near-dups surface as overlap ~1.0.
  private val l15 = QueryDef("l15_decontamination", (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.contaminationScores(
      docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
      "doc_id", "text", n = 3)
  }, Some(l15OracleSql))

  // L15B — the same decontamination through the broadcast-bloom corpus
  // prefilter (the shape for a benchmark index too big to broadcast:
  // corpus shingles are cut map-side BEFORE the only corpus-sized
  // exchange; false positives die in the exact join that follows).
  // Registered under l15's oracle SQL UNCHANGED — the hash-match IS the
  // proof the prefilter is transparent.
  private val l15b = QueryDef("l15b_decontam_bloom", (s, dir) => {
    val docs = Tables.documents(s, dir)
    Dedup.contaminationScoresBloom(
      docs.filter(col("doc_id") >= 25), docs.filter(col("doc_id") < 25),
      "doc_id", "text", n = 3)
  }, Some(l15OracleSql))

  private lazy val l15OracleSql = s"""WITH toks AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      sh AS (SELECT doc_id, ${shinglesDuckSql("tk")} s
        FROM toks WHERE len(tk) >= 3),
      c AS (SELECT doc_id doc, unnest(s) shingle FROM sh
            WHERE doc_id >= 25),
      b AS (SELECT doc_id bdoc, CAST(len(s) AS BIGINT) bn,
              unnest(s) shingle FROM sh WHERE doc_id < 25),
      ov AS (SELECT doc, bdoc, bn, CAST(count(*) AS BIGINT) shared
             FROM c JOIN b USING (shingle) GROUP BY 1, 2, 3)
      SELECT doc, max(CAST(shared AS DOUBLE) / bn) AS max_overlap
      FROM ov GROUP BY doc"""

  // M1 — multimodal binary plumbing: payload as binary + typed metadata;
  // digest/header expressions on the blob. (The mapPartitions decode stub
  // is exercised by MultimodalSpec.)
  private val m1 = QueryDef("m1_media_meta", (s, dir) => {
    Multimodal.asMediaItems(Tables.documents(s, dir), "doc_id", "text")
      .select(
        col("id"), col("mediaType"), col("sizeBytes"),
        md5(col("payload")).as("digest"),
        lower(hex(substring(col("payload"), 1, 4))).as("header_hex"))
  }, Some("""SELECT doc_id AS id, 'text/plain' AS mediaType,
      CAST(octet_length(encode(text)) AS BIGINT) AS sizeBytes,
      md5(text) AS digest,
      lower(hex(encode(substring(text, 1, 4)))) AS header_hex
      FROM documents"""))

  // M2 — interleaved multimodal sequence assembly: each doc's token
  // stream chunked at 16 tokens, synthetic image metadata (one item
  // per 120 chars — docs under 120 chars carry none, so the no-media
  // path is non-vacuous) spliced after chunk j at 32 patch-tokens
  // each, 96-token sample budget. The FULL element layout — order,
  // token costs, cumulative offsets, budget flags — hash-matches the
  // SQL mirror; payload bytes never enter the layout decision (see
  // Multimodal.interleaveSequences).
  private val m2 = QueryDef("m2_interleave_assembly", (s, dir) => {
    val docs = Tables.documents(s, dir)
    val media = docs
      .filter(expr("n_chars div 120 >= 1"))
      .select(col("doc_id"), explode(
        expr("sequence(0, cast(n_chars div 120 as int) - 1)"))
        .as("media_idx"))
    Multimodal.interleaveSequences(docs, "doc_id", "text", media,
      "doc_id", "media_idx", chunkTokens = 16, imageTokens = 32,
      budget = 96L)
  }, Some(s"""WITH t AS (SELECT doc_id,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) n_tokens, n_chars
        FROM documents),
      base AS (SELECT doc_id, n_tokens,
          (n_tokens + 15) // 16 AS n_chunks FROM t),
      te AS (SELECT doc_id, CAST(unnest(range(0, n_chunks)) AS BIGINT) pos,
          CAST(0 AS BIGINT) kind_rank, CAST(-1 AS BIGINT) media_idx,
          n_tokens, n_chunks
        FROM base WHERE n_chunks >= 1),
      te2 AS (SELECT doc_id, pos, kind_rank, media_idx,
          least(16, n_tokens - pos * 16) AS elem_tokens FROM te),
      m AS (SELECT doc_id, CAST(unnest(range(0, n_chars // 120)) AS BIGINT)
          media_idx FROM t),
      me AS (SELECT m.doc_id, least(m.media_idx + 1, b.n_chunks) AS pos,
          CAST(1 AS BIGINT) kind_rank, m.media_idx,
          CAST(32 AS BIGINT) elem_tokens
        FROM m JOIN base b ON b.doc_id = m.doc_id),
      u AS (SELECT * FROM te2 UNION ALL SELECT * FROM me),
      laid AS (SELECT doc_id AS doc,
          CAST(row_number() OVER w AS BIGINT) elem_idx,
          CASE WHEN kind_rank = 0 THEN 'text' ELSE 'image' END kind,
          media_idx, elem_tokens,
          CAST(sum(elem_tokens) OVER (PARTITION BY doc_id
            ORDER BY pos, kind_rank, media_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            cum_tokens
        FROM u
        WINDOW w AS (PARTITION BY doc_id
          ORDER BY pos, kind_rank, media_idx))
      SELECT doc, elem_idx, kind, media_idx, elem_tokens, cum_tokens,
        CAST(cum_tokens <= 96 AS BIGINT) AS within_budget
      FROM laid"""))

  // M4 — WARC crawl-container ingest (operators/Warc + the native
  // warc_parse expression): the step BEFORE Html extraction in a
  // CommonCrawl-shaped pipeline. Fixture synthesized in-query (the l62
  // discipline): each doc becomes a two-record WARC file — an HTTP
  // response (status 404 on the %11 arm, 200 otherwise) whose body
  // wraps the doc text in HTML with a <style> block and an entity, then
  // a metadata record with three arms on doc_id%7: ==3 declares a
  // Content-Length past EOF (truncated-block quarantine, parsed headers
  // retained), ==5 has a bad magic (bad-magic quarantine, all-NULL
  // metadata), else a good warc-fields record. The oracle knows the
  // generator, so it emits the expected record table DIRECTLY from the
  // arms — the hash match certifies that parsing the container
  // reproduces exactly the metadata that generated it, including the
  // extracted page text of every response body.
  private val m4 = QueryDef("m4_warc_ingest", (s, dir) => {
    import graft.operators.Warc
    val crlf = "\r\n"
    val docs = Tables.documents(s, dir)
    val body = concat(
      lit("<html><head><style>p { color: red }</style></head><body><p>"),
      col("text"),
      lit("</p><a href=\"/n\">nav &amp; more</a></body></html>"))
    val http = concat(lit("HTTP/1.1 "),
      when(pmod(col("doc_id"), lit(11L)) === 0L, lit("404 Not Found"))
        .otherwise(lit("200 OK")),
      lit(crlf + "Content-Type: text/html" + crlf + crlf), body)
    val uri = concat(lit("http://site"), pmod(col("doc_id"), lit(5L)),
      lit(".example.org/doc/"), col("doc_id"))
    val recA = concat(
      lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "WARC-Target-URI: "), uri,
      lit(crlf + "Content-Type: application/http;msgtype=response" +
        // length must be BYTES (length on binary), not characters —
        // WarcParse frames by UTF-8 octets, and document text is not
        // guaranteed ASCII
        crlf + "Content-Length: "), length(http.cast("binary")),
      lit(crlf + crlf), http, lit(crlf + crlf))
    val metaBlock = concat(lit("fetchTimeMs: "), col("doc_id"), lit(crlf))
    val metaHead = concat(
      lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf +
        "WARC-Target-URI: "), uri,
      lit(crlf + "Content-Type: application/warc-fields" + crlf +
        "Content-Length: "))
    val recB = when(pmod(col("doc_id"), lit(7L)) === 3L,
        concat(metaHead, length(metaBlock.cast("binary")) + lit(1000),
          lit(crlf + crlf), metaBlock, lit(crlf + crlf)))
      .when(pmod(col("doc_id"), lit(7L)) === 5L,
        lit("WARX/1.0" + crlf + "Content-Length: 1" + crlf + crlf +
          "x" + crlf + crlf))
      .otherwise(concat(metaHead, length(metaBlock.cast("binary")),
        lit(crlf + crlf), metaBlock, lit(crlf + crlf)))
    val raw = docs.select(col("doc_id"),
      concat(recA, recB).cast("binary").as("w"))
    Warc.records(raw, "doc_id", "w")
      .withColumn("text",
        when(col("error").isNull && col("warc_type") === "response",
          Html.cleanText("body")))
      .drop("body")
  }, Some {
    val crlf = "chr(13) || chr(10)"
    s"""WITH b AS (SELECT doc_id,
        '<html><head><style>p { color: red }</style></head><body><p>'
          || text ||
          '</p><a href="/n">nav &amp; more</a></body></html>' AS body,
        'http://site' || (doc_id % 5) || '.example.org/doc/' || doc_id
          AS uri
        FROM documents),
      h AS (SELECT doc_id, uri, body,
        'HTTP/1.1 ' || CASE WHEN doc_id % 11 = 0
            THEN '404 Not Found' ELSE '200 OK' END
          || $crlf || 'Content-Type: text/html' || $crlf || $crlf
          || body AS http,
        CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS status
        FROM b),
      r0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS rec_idx,
        'response' AS warc_type, uri AS target_uri,
        'application/http;msgtype=response' AS content_type,
        CAST(strlen(http) AS BIGINT) AS content_length,
        CAST(status AS BIGINT) AS http_status,
        'text/html' AS http_mime,
        ${graft.operators.Html.cleanTextDuckSql("body")} AS text,
        CAST(NULL AS VARCHAR) AS error
        FROM h),
      mb AS (SELECT doc_id, uri,
        'fetchTimeMs: ' || doc_id || $crlf AS metab FROM b),
      r1 AS (SELECT doc_id, CAST(1 AS BIGINT) AS rec_idx,
        CASE WHEN doc_id % 7 = 5 THEN NULL
             ELSE 'metadata' END AS warc_type,
        CASE WHEN doc_id % 7 = 5 THEN NULL ELSE uri END AS target_uri,
        CASE WHEN doc_id % 7 = 5 THEN NULL
             ELSE 'application/warc-fields' END AS content_type,
        CASE WHEN doc_id % 7 = 5 THEN NULL
             WHEN doc_id % 7 = 3 THEN CAST(strlen(metab) + 1000 AS BIGINT)
             ELSE CAST(strlen(metab) AS BIGINT) END AS content_length,
        CAST(NULL AS BIGINT) AS http_status,
        CAST(NULL AS VARCHAR) AS http_mime,
        CAST(NULL AS VARCHAR) AS text,
        CASE WHEN doc_id % 7 = 5 THEN 'bad-magic'
             WHEN doc_id % 7 = 3 THEN 'truncated-block'
             ELSE NULL END AS error
        FROM mb)
      SELECT * FROM r0 UNION ALL SELECT * FROM r1"""
  })

  // L16 — the training-corpus cleaning funnel END TO END, composed from
  // the primitive stages and fully oracle-checked: quality gate
  // (alpha-ratio + min length) -> prefix-fingerprint dedup (sha256 of the
  // first 20 normalized tokens — the cheap screen for re-crawled docs
  // whose tails differ; one hash shuffle, the l1 scale shape) -> per-lang
  // surviving doc/token stats. Thresholds sit inside the testdata's
  // feature distribution so every stage is non-vacuous (quality drops
  // ~45%, dedup removes the planted prefix-dups).
  private val l16 = QueryDef("l16_corpus_clean", (s, dir) => {
    val feats = TextAnalysis.qualityFeatures("text", Seq("the", "a")).toMap
    val kept = Tables.documents(s, dir)
      .withColumn("n_tokens", feats("n_tokens"))
      .withColumn("alpha_ratio", feats("alpha_ratio"))
      .filter(col("alpha_ratio") >= 0.82 && col("n_tokens") >= 20)
      .withColumn("fp", sha2(expr(
        s"array_join(slice(${tokensSql("text")}, 1, 20), ' ')"), 256))
    val keepers = kept.groupBy("fp").agg(min("doc_id").as("keep_id"))
    kept.join(keepers, Seq("fp"))
      .filter(col("doc_id") === col("keep_id"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"))
  }, Some(s"""WITH t AS (SELECT doc_id, lang, text,
        ${tokensDuckSql("text")} tk
        FROM documents),
      scored AS (SELECT doc_id, lang, text, tk,
          CAST(len(tk) AS BIGINT) n_tokens,
          CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
            / CAST(length(text) AS BIGINT) alpha_ratio
        FROM t),
      kept AS (SELECT *,
          sha256(array_to_string(tk[1:20], ' ')) fp
        FROM scored WHERE alpha_ratio >= 0.82 AND n_tokens >= 20),
      keepers AS (SELECT fp, min(doc_id) keep_id FROM kept GROUP BY fp)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM kept JOIN keepers
        ON kept.fp = keepers.fp AND kept.doc_id = keepers.keep_id
      GROUP BY lang"""))

  // L17 — embedding int8 quantization summary (Similarity.int8QuantStats):
  // per-vector normalize + symmetric quantize, the compression step
  // between embedding generation and ANN serving. Fold orders mirror
  // DuckDB's list_reduce, so the scale and quantized stats hash-match.
  private val l17 = QueryDef("l17_embed_quantize", (s, dir) => {
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), Similarity.int8QuantStats("v").as("q"))
      .select(col("vec_id"), col("q.scale").as("scale"),
        col("q.qsum").as("qsum"), col("q.qmin").as("qmin"),
        col("q.qmax").as("qmax"))
  }, Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        FROM embeddings),
      n AS (SELECT vec_id, v,
          sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(v, x -> x * x)), (a, b) -> a + b)) nrm
        FROM e),
      sc AS (SELECT vec_id, v, nrm,
          list_max(list_transform(v, x -> abs(x / nrm))) / 127.0 s
        FROM n)
      SELECT vec_id,
        CASE WHEN nrm = 0 THEN CAST(0.0 AS DOUBLE) ELSE s END AS scale,
        CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT) ELSE
          CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(v, x -> CAST(round(x / nrm / s, 0) AS BIGINT))),
            (a, b) -> a + b) AS BIGINT) END AS qsum,
        CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT) ELSE
          CAST(list_min(list_transform(v,
            x -> CAST(round(x / nrm / s, 0) AS BIGINT))) AS BIGINT)
          END AS qmin,
        CASE WHEN nrm = 0 THEN CAST(0 AS BIGINT) ELSE
          CAST(list_max(list_transform(v,
            x -> CAST(round(x / nrm / s, 0) AS BIGINT))) AS BIGINT)
          END AS qmax
      FROM sc"""))

  // L18 — top characteristic terms per document by integer tf-idf rank
  // (TextAnalysis.topTfidfTerms): BIGINT score = tf * N DIV doc_freq, so
  // the ranking is exactly reproducible cross-engine (a float log-idf
  // would hash-diverge in the last ulp). Restricted to the first 25 docs
  // to keep the gate output reviewable; the operator itself is
  // corpus-wide (two shuffles: term stats + per-doc window).
  private val l18 = QueryDef("l18_tfidf_terms", (s, dir) => {
    TextAnalysis.topTfidfTerms(Tables.documents(s, dir), "doc_id", "text",
        k = 3, minLen = 5)
      .filter(col("doc") < 25)
  }, Some(s"""WITH toks AS (SELECT doc_id,
        list_filter(${tokensDuckSql("text")}, t -> length(t) >= 5) tk
        FROM documents),
      tf AS (SELECT doc_id AS doc, unnest(tk) AS term FROM toks),
      tfc AS (SELECT doc, term, CAST(count(*) AS BIGINT) tf
        FROM tf GROUP BY doc, term),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) doc_freq FROM (
        SELECT DISTINCT doc, term FROM tf) GROUP BY term),
      n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) n_docs
        FROM documents),
      scored AS (SELECT doc, term, tf * n_docs // doc_freq AS score
        FROM tfc JOIN dfreq USING (term) CROSS JOIN n),
      ranked AS (SELECT doc, term, score,
          CAST(row_number() OVER (PARTITION BY doc
            ORDER BY score DESC, term) AS BIGINT) rnk
        FROM scored)
      SELECT doc, rnk, term, CAST(score AS BIGINT) AS score
      FROM ranked WHERE rnk <= 3 AND doc < 25"""))

  // L19 — deterministic train/val/test split (80/10/10) + per-split
  // corpus stats: the reproducible alternative to random sampling — the
  // same doc lands in the same split on any engine, any cluster layout,
  // any rerun (integer LCG hash of the id, no RNG state).
  private val l19 = QueryDef("l19_split_assign", (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("split", TextAnalysis.splitAssign("doc_id", 80, 10))
      .withColumn("n_tokens", TextAnalysis.tokenCount("text"))
      .groupBy("lang", "split").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"))
  }, Some("""WITH assigned AS (SELECT lang,
        """ + splitCaseDuck("doc_id") + s""" AS split,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) n_tokens
        FROM documents)
      SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM assigned GROUP BY lang, split"""))

  // L23 — cross-document duplicated-SPAN removal (exact substring dedup
  // à la Lee et al. 2021, arXiv:2107.06499): 8-token windows occurring
  // verbatim in >1 document mark their covered positions, which are cut
  // from the text. Inverted-index shape (the l2 pattern), O(1) per-gram
  // aggregation state, no pairwise comparison — see Dedup.dupSpanRemoval.
  // ONE oracle for l23 (string grams, mirrored verbatim) and l23h
  // (xxhash64 gram keys, value-identical by contract).
  private val l23OracleSql = s"""WITH toks AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      t2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) n_tokens FROM toks),
      g AS (SELECT doc_id, u['pos'] pos, u['gram'] gram
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
                   i -> {'pos': i, 'gram': array_to_string(tk[i:i+7], ' ')})) u
                  FROM toks WHERE len(tk) >= 8)),
      dup AS (SELECT gram FROM g GROUP BY gram
              HAVING count(DISTINCT doc_id) >= 2),
      fl AS (SELECT doc_id, list_sort(list_distinct(list(pos))) starts
             FROM g JOIN dup USING (gram) GROUP BY doc_id),
      c AS (SELECT t2.doc_id, tk, n_tokens,
              list_sort(list_distinct(flatten(list_transform(
                coalesce(starts, []), p -> range(p, p + 8))))) covered
            FROM t2 LEFT JOIN fl USING (doc_id))
      SELECT doc_id, n_tokens,
        CAST(len(covered) AS BIGINT) AS n_dup_positions,
        CASE WHEN n_tokens = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(len(covered) AS DOUBLE) / n_tokens END AS dup_ratio,
        coalesce(array_to_string(list_transform(
          list_filter(range(1, CAST(n_tokens AS INTEGER) + 1),
            i -> NOT list_contains(covered, i)), i -> tk[i]), ' '), '')
          AS clean_text
      FROM c"""

  private val l23 = QueryDef("l23_dup_span_removal", (s, dir) => {
    Dedup.dupSpanRemoval(Tables.documents(s, dir), "doc_id", "text", n = 8)
  }, Some(l23OracleSql))

  // L23H — l23's hashed-gram-key scale form (the refinement SCALE_r07
  // promised in prose): gram strings become xxhash64 keys before the
  // two gram shuffles. Same oracle as l23 — value-identical output is
  // the contract, so the hash-match doubles as the collision check.
  private val l23h = QueryDef("l23h_dup_span_removal_hashed", (s, dir) => {
    Dedup.dupSpanRemoval(Tables.documents(s, dir), "doc_id", "text", n = 8,
      hashedGramKeys = true)
  }, Some(l23OracleSql))

  // L24 — corpus-trained unigram surprisal in integer log2 bits (the
  // portable perplexity-filter stand-in; ln() would not hash-match
  // across libms). keep threshold 5.05 sits inside the testdata's
  // avg_bits distribution (range ~5.0-5.42) so both outcomes occur.
  private val l24 = QueryDef("l24_unigram_surprisal", (s, dir) => {
    TextAnalysis.unigramSurprisal(Tables.documents(s, dir), "doc_id",
      "text", keepBelowBits = 5.05)
  }, Some(s"""WITH toks AS (SELECT doc_id,
        unnest(${tokensDuckSql("text")}) t
        FROM documents),
      v AS (SELECT t, CAST(count(*) AS BIGINT) c FROM toks GROUP BY t),
      tot AS (SELECT CAST(sum(c) AS BIGINT) tt FROM v),
      sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens,
              CAST(sum(length(bin(tt)) - length(bin(c))) AS BIGINT)
                total_bits
             FROM toks JOIN v USING (t) CROSS JOIN tot GROUP BY doc_id)
      SELECT d.doc_id, coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
        coalesce(total_bits, CAST(0 AS BIGINT)) AS total_bits,
        CASE WHEN coalesce(n_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(total_bits AS DOUBLE) / n_tokens END AS avg_bits,
        CAST(CASE WHEN coalesce(n_tokens, 0) > 0 AND
             CAST(total_bits AS DOUBLE) / n_tokens < 5.05 THEN 1 ELSE 0
             END AS BIGINT) AS keep
      FROM documents d LEFT JOIN sc USING (doc_id)"""))

  // L24B — bigram stupid-backoff surprisal in integer bits (the bigram
  // upgrade of l24): model trained on the deterministic l19 train
  // split, scored over every document, so pruned-bigram backoff and
  // OOV paths genuinely fire. bitlen arithmetic keeps it hash-exact
  // cross-engine; keep threshold sits inside the sf0.01 avg_bits
  // distribution so both outcomes occur.
  private val l24b = QueryDef("l24b_bigram_surprisal", (s, dir) => {
    TextAnalysis.bigramSurprisal(Tables.documents(s, dir), "doc_id",
      "text", keepBelowBits = 4.93, minCount = 2L)
  }, Some(s"""WITH t AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      tok AS (SELECT doc_id, u['pos'] pos, u['t'] t
              FROM (SELECT doc_id, unnest(list_transform(
                     range(1, len(tk) + 1),
                     i -> {'pos': i, 't': tk[i]})) u
                    FROM t WHERE len(tk) > 0)),
      lg AS (SELECT doc_id, pos, t,
              lag(t) OVER (PARTITION BY doc_id ORDER BY pos) prev,
              CASE WHEN """ +
                TextAnalysis.splitBucketDuckSql("doc_id") + """
                < 80 THEN 1 ELSE 0 END
                is_train
             FROM tok),
      c1 AS (SELECT t u_t, CAST(count(*) AS BIGINT) c1 FROM lg
             WHERE is_train = 1 GROUP BY t),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) tt FROM c1),
      c2 AS (SELECT prev b_prev, t b_cur, CAST(count(*) AS BIGINT) c2
             FROM lg WHERE is_train = 1 AND prev IS NOT NULL
             GROUP BY prev, t HAVING count(*) >= 2),
      sc AS (SELECT lg.doc_id,
              CASE WHEN c2.c2 IS NOT NULL
                     THEN length(bin(p.c1)) - length(bin(c2.c2))
                   WHEN lg.prev IS NULL AND c1.c1 IS NOT NULL
                     THEN length(bin(tot.tt)) - length(bin(c1.c1))
                   WHEN lg.prev IS NULL THEN length(bin(tot.tt))
                   WHEN c1.c1 IS NOT NULL
                     THEN 1 + length(bin(tot.tt)) - length(bin(c1.c1))
                   ELSE 1 + length(bin(tot.tt)) END AS bits
             FROM lg
             LEFT JOIN c2 ON lg.prev = c2.b_prev AND lg.t = c2.b_cur
             LEFT JOIN c1 ON lg.t = c1.u_t
             LEFT JOIN c1 p ON lg.prev = p.u_t
             CROSS JOIN tot),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens,
               CAST(sum(bits) AS BIGINT) total_bits
              FROM sc GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
        coalesce(total_bits, CAST(0 AS BIGINT)) AS total_bits,
        CASE WHEN coalesce(n_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(total_bits AS DOUBLE) / n_tokens END AS avg_bits,
        CAST(CASE WHEN coalesce(n_tokens, 0) > 0 AND
             CAST(total_bits AS DOUBLE) / n_tokens < 4.93 THEN 1 ELSE 0
             END AS BIGINT) AS keep
      FROM documents d LEFT JOIN agg USING (doc_id)"""))

  // L55 — interpolated Kneser-Ney bigram surprisal (the principled-
  // smoothing upgrade of l24b's stupid backoff — what KenLM-class
  // perplexity filters actually ship). The KN mix with D=3/4 is a
  // ratio of exact integers once denominators are cleared (see
  // TextAnalysis.knBigramSurprisal), so the whole model — discounted
  // bigram mass, continuation probabilities, novel-context counts —
  // hash-matches DuckDB in integer bitlen arithmetic. Trained on the
  // deterministic l19 train split, scored over every document; keep
  // threshold 5.06 sits at the sf0.01 median so both outcomes occur.
  private val l55 = QueryDef("l55_kn_surprisal", (s, dir) => {
    TextAnalysis.knBigramSurprisal(Tables.documents(s, dir), "doc_id",
      "text", keepBelowBits = 5.06)
  }, Some(s"""WITH t AS (SELECT doc_id,
        ${tokensDuckSql("text")} tk
        FROM documents),
      tok AS (SELECT doc_id, u['pos'] pos, u['t'] t
              FROM (SELECT doc_id, unnest(list_transform(
                     range(1, len(tk) + 1),
                     i -> {'pos': i, 't': tk[i]})) u
                    FROM t WHERE len(tk) > 0)),
      lg AS (SELECT doc_id, pos, t,
              lag(t) OVER (PARTITION BY doc_id ORDER BY pos) prev,
              CASE WHEN """ +
                TextAnalysis.splitBucketDuckSql("doc_id") + """
                < 80 THEN 1 ELSE 0 END
                is_train
             FROM tok),
      c1 AS (SELECT t u_t, CAST(count(*) AS BIGINT) c1 FROM lg
             WHERE is_train = 1 GROUP BY t),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) tt FROM c1),
      c2 AS (SELECT prev b_prev, t b_cur, CAST(count(*) AS BIGINT) c2
             FROM lg WHERE is_train = 1 AND prev IS NOT NULL
             GROUP BY prev, t),
      ctx AS (SELECT b_prev v_t, CAST(sum(c2) AS BIGINT) cv,
               CAST(count(*) AS BIGINT) n1v FROM c2 GROUP BY b_prev),
      cont AS (SELECT b_cur w_t, CAST(count(*) AS BIGINT) n1w
               FROM c2 GROUP BY b_cur),
      na AS (SELECT CAST(count(*) AS BIGINT) n1all FROM c2),
      sc AS (SELECT lg.doc_id,
              CASE
                WHEN lg.prev IS NULL AND c1.c1 IS NOT NULL
                  THEN length(bin(tot.tt)) - length(bin(c1.c1))
                WHEN lg.prev IS NULL THEN length(bin(tot.tt))
                WHEN ctx.cv IS NOT NULL THEN
                  CASE WHEN greatest(4 * coalesce(c2.c2, 0) - 3, 0)
                        * na.n1all + 3 * ctx.n1v * coalesce(cont.n1w, 0)
                        >= 1
                    THEN length(bin(4 * ctx.cv * na.n1all))
                      - length(bin(greatest(4 * coalesce(c2.c2, 0) - 3, 0)
                        * na.n1all + 3 * ctx.n1v * coalesce(cont.n1w, 0)))
                    ELSE length(bin(4 * ctx.cv * na.n1all)) + 1 END
                ELSE
                  CASE WHEN coalesce(cont.n1w, 0) >= 1
                    THEN length(bin(na.n1all)) - length(bin(cont.n1w))
                    ELSE length(bin(na.n1all)) + 1 END
              END AS bits
             FROM lg
             LEFT JOIN c2 ON lg.prev = c2.b_prev AND lg.t = c2.b_cur
             LEFT JOIN ctx ON lg.prev = ctx.v_t
             LEFT JOIN cont ON lg.t = cont.w_t
             LEFT JOIN c1 ON lg.t = c1.u_t
             CROSS JOIN tot CROSS JOIN na),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens,
               CAST(sum(bits) AS BIGINT) total_bits
              FROM sc GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
        coalesce(total_bits, CAST(0 AS BIGINT)) AS total_bits,
        CASE WHEN coalesce(n_tokens, 0) = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE CAST(total_bits AS DOUBLE) / n_tokens END AS avg_bits,
        CAST(CASE WHEN coalesce(n_tokens, 0) > 0 AND
             CAST(total_bits AS DOUBLE) / n_tokens < 5.06 THEN 1 ELSE 0
             END AS BIGINT) AS keep
      FROM documents d LEFT JOIN agg USING (doc_id)"""))

  // L56 — systematic weighted sampling: exactly k=100 draws with
  // inclusion proportional to token count, over the seed-salted LCG
  // order (CorpusAssembly.systematicWeightedSample). Everything is
  // exact-integer — the cumulative weight line, the step/offset grid,
  // the per-doc draw counts — so the full 500-row assignment
  // hash-matches DuckDB's windowed mirror. The spec pins sum(n_draws)
  // == k and the proportionality bound.
  private val l56 = QueryDef("l56_weighted_sample", (s, dir) => {
    val docs = Tables.documents(s, dir)
      .withColumn("w_tokens", TextAnalysis.tokenCount("text"))
    CorpusAssembly.systematicWeightedSample(docs, "doc_id", "w_tokens",
      k = 100L, seed = 0L)
  }, Some(s"""WITH w AS (SELECT doc_id,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) w
        FROM documents),
      f AS (SELECT doc_id, w,
          ((((doc_id + 0) % 100000007 + 100000007) % 100000007)
            * 1103515245 + 12345) % 1000000007 AS h
        FROM w WHERE w > 0),
      c AS (SELECT doc_id, w,
          CAST(sum(w) OVER (ORDER BY h, doc_id) AS BIGINT) cum_w
        FROM f),
      t AS (SELECT CAST(sum(w) AS BIGINT) tot FROM f),
      p AS (SELECT tot // 100 AS step, (tot // 100) // 2 AS off FROM t)
      SELECT doc_id, w, cum_w,
        (CASE WHEN cum_w <= off THEN 0
              ELSE least(100, (cum_w - off + step - 1) // step) END)
        - (CASE WHEN cum_w - w <= off THEN 0
              ELSE least(100, (cum_w - w - off + step - 1) // step) END)
          AS n_draws
      FROM c CROSS JOIN p"""))

  // L25 — sequence packing (concat-and-chunk): the token stream in
  // doc_id order cut into 2048-token bins, reported per bin. The global
  // cumsum runs through CorpusAssembly.prefixSum (range partition +
  // per-partition windows + broadcast offsets — NO single-partition
  // window), and every quantity is exact-integer, so the per-bin rows
  // hash-match DuckDB's straightforward windowed SQL.
  private val l25 = QueryDef("l25_sequence_packing", (s, dir) => {
    CorpusAssembly.sequencePack(Tables.documents(s, dir), "doc_id",
        "text", budget = 2048L)
      .groupBy("bin").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("bin_tokens"),
        sum(col("straddles_next").cast("long")).cast("long")
          .as("n_straddlers"))
  }, Some(s"""WITH t AS (SELECT doc_id,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) n
        FROM documents),
      c AS (SELECT doc_id, n,
        CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) cum FROM t),
      b AS (SELECT doc_id, n, cum, (cum - n) // 2048 AS bin,
        CASE WHEN n > 0 AND (cum - 1) // 2048 > (cum - n) // 2048
             THEN 1 ELSE 0 END AS straddle
        FROM c)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n) AS BIGINT) AS bin_tokens,
        CAST(sum(straddle) AS BIGINT) AS n_straddlers
      FROM b GROUP BY bin"""))

  // L26 — per-source quality-quota selection (greedy quality-first data
  // mixing under per-domain token budgets). Quality = distinct-token
  // count (integer; descending, doc_id tiebreak), budget 800 tokens per
  // source — inside every source's 1.1-1.6k total at the gate SF, so
  // both kept and dropped docs occur in every source.
  private val l26 = QueryDef("l26_quality_quota", (s, dir) => {
    CorpusAssembly.qualityQuotaSelect(Tables.documents(s, dir), "source",
        "doc_id", "text", budgetPerSource = 800L)
      .groupBy("source").agg(
        count(lit(1)).as("n_candidates"),
        sum(col("kept").cast("long")).cast("long").as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(lit(0L)))
          .cast("long").as("tokens_kept"),
        min(when(col("kept"), col("quality"))).cast("long")
          .as("min_quality_kept"))
  }, Some(s"""WITH t AS (SELECT source, doc_id,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) n_tokens,
        CAST(len(list_distinct(${tokensDuckSql("text")})) AS BIGINT) quality
        FROM documents),
      r AS (SELECT source, doc_id, n_tokens, quality,
        CAST(sum(n_tokens) OVER (PARTITION BY source
          ORDER BY quality DESC, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
        FROM t),
      k AS (SELECT source, n_tokens, quality, cum <= 800 AS kept FROM r)
      SELECT source, CAST(count(*) AS BIGINT) AS n_candidates,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
          AS tokens_kept,
        CAST(min(CASE WHEN kept THEN quality END) AS BIGINT)
          AS min_quality_kept
      FROM k GROUP BY source"""))

  // L26H — histogram-threshold form of l26 (same aggregated output,
  // same oracle SQL: the value-identity contract, like l2bh -> l2b).
  // CorpusAssembly.qualityQuotaSelectHistogram classifies whole
  // (source, quality) histogram buckets against the budget; only the
  // single straddling bucket per source pays an ordered window — and
  // that window partitions by (source, quality), so a single giant
  // source never collapses into one task the way l26's per-source
  // window does.
  private val l26h = QueryDef("l26h_quality_quota_hist", (s, dir) => {
    CorpusAssembly.qualityQuotaSelectHistogram(Tables.documents(s, dir),
        "source", "doc_id", "text", budgetPerSource = 800L)
      .groupBy("source").agg(
        count(lit(1)).as("n_candidates"),
        sum(col("kept").cast("long")).cast("long").as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(lit(0L)))
          .cast("long").as("tokens_kept"),
        min(when(col("kept"), col("quality"))).cast("long")
          .as("min_quality_kept"))
  }, Some(s"""WITH t AS (SELECT source, doc_id,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) n_tokens,
        CAST(len(list_distinct(${tokensDuckSql("text")})) AS BIGINT) quality
        FROM documents),
      r AS (SELECT source, doc_id, n_tokens, quality,
        CAST(sum(n_tokens) OVER (PARTITION BY source
          ORDER BY quality DESC, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
        FROM t),
      k AS (SELECT source, n_tokens, quality, cum <= 800 AS kept FROM r)
      SELECT source, CAST(count(*) AS BIGINT) AS n_candidates,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
          AS tokens_kept,
        CAST(min(CASE WHEN kept THEN quality END) AS BIGINT)
          AS min_quality_kept
      FROM k GROUP BY source"""))

  // L27 — BM25 top-k retrieval (Okapi weighting, TREC-3): the lexical
  // side of the similarity-search family. Query mixes a rare term
  // ('dup', ~5% df), common terms ('spark'/'vector', near-ubiquitous),
  // and an absent one ('flink', df=0 — exercises the no-match guard).
  // idf is integer log2 bits (the l24 convention, +1 shift for
  // positivity); all float ops are exactly-rounded IEEE mirrored
  // operation-for-operation in the oracle, summed in sorted term
  // order -> bit-identical scores, identical (score desc, doc) rank.
  private val l27 = QueryDef("l27_bm25_topk", (s, dir) => {
    TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      Seq("dup", "spark", "vector", "flink"), k = 25)
  }, Some(s"""WITH base AS (SELECT doc_id doc,
        ${tokensDuckSql("text")} tk
        FROM documents),
      wtf AS (SELECT doc, CAST(len(tk) AS BIGINT) dl,
        CAST(len(list_filter(tk, x -> x = 'dup')) AS BIGINT) tf_0,
        CAST(len(list_filter(tk, x -> x = 'flink')) AS BIGINT) tf_1,
        CAST(len(list_filter(tk, x -> x = 'spark')) AS BIGINT) tf_2,
        CAST(len(list_filter(tk, x -> x = 'vector')) AS BIGINT) tf_3
        FROM base),
      st AS (SELECT CAST(count(*) AS BIGINT) n,
        CAST(sum(dl) AS DOUBLE) tot,
        CAST(sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT) df_0,
        CAST(sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT) df_1,
        CAST(sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT) df_2,
        CAST(sum(CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END) AS BIGINT) df_3
        FROM wtf),
      sc AS (SELECT doc, dl,
        (CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END
         + CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END
         + CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END
         + CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END) n_matched,
        ((((0.0
          + CASE WHEN tf_0 > 0 THEN
              CAST(1 + length(bin(n)) - length(bin(df_0)) AS DOUBLE)
              * ((CAST(tf_0 AS DOUBLE) * (1.2 + 1.0))
                / (CAST(tf_0 AS DOUBLE) + 1.2 * ((1.0 - 0.75)
                  + 0.75 * (CAST(dl AS DOUBLE) / (tot / CAST(n AS DOUBLE))))))
            ELSE 0.0 END)
          + CASE WHEN tf_1 > 0 THEN
              CAST(1 + length(bin(n)) - length(bin(df_1)) AS DOUBLE)
              * ((CAST(tf_1 AS DOUBLE) * (1.2 + 1.0))
                / (CAST(tf_1 AS DOUBLE) + 1.2 * ((1.0 - 0.75)
                  + 0.75 * (CAST(dl AS DOUBLE) / (tot / CAST(n AS DOUBLE))))))
            ELSE 0.0 END)
          + CASE WHEN tf_2 > 0 THEN
              CAST(1 + length(bin(n)) - length(bin(df_2)) AS DOUBLE)
              * ((CAST(tf_2 AS DOUBLE) * (1.2 + 1.0))
                / (CAST(tf_2 AS DOUBLE) + 1.2 * ((1.0 - 0.75)
                  + 0.75 * (CAST(dl AS DOUBLE) / (tot / CAST(n AS DOUBLE))))))
            ELSE 0.0 END)
          + CASE WHEN tf_3 > 0 THEN
              CAST(1 + length(bin(n)) - length(bin(df_3)) AS DOUBLE)
              * ((CAST(tf_3 AS DOUBLE) * (1.2 + 1.0))
                / (CAST(tf_3 AS DOUBLE) + 1.2 * ((1.0 - 0.75)
                  + 0.75 * (CAST(dl AS DOUBLE) / (tot / CAST(n AS DOUBLE))))))
            ELSE 0.0 END) AS score
        FROM wtf CROSS JOIN st),
      ranked AS (SELECT doc, dl, n_matched, score,
          CAST(row_number() OVER (ORDER BY score DESC, doc) AS BIGINT) rnk
        FROM sc WHERE n_matched > 0)
      SELECT doc AS doc_id, rnk, score, dl,
        CAST(n_matched AS BIGINT) AS n_matched
      FROM ranked WHERE rnk <= 25"""))

  // L27B — batch BM25: one pass scores a whole query TABLE (the
  // inverted-index join form of l27 — retrieval for many queries at
  // once). Query 3 ('flink') matches nothing and must vanish; queries
  // 1 and 2 share a term with l27 so per-term contributions exercise
  // the same arithmetic through the join path. The per-(query, doc)
  // sum folds collected contributions in sorted term order on both
  // engines -> bit-identical scores.
  private val l27b = QueryDef("l27b_bm25_batch", (s, dir) => {
    import s.implicits._
    val queries = Seq((1L, "dup"), (1L, "spark"), (2L, "vector"),
      (2L, "the"), (2L, "batch"), (3L, "flink"))
      .toDF("query_id", "term")
    TextAnalysis.bm25BatchTopK(Tables.documents(s, dir), "doc_id",
      "text", queries, k = 10)
  }, Some(s"""WITH q(query_id, term) AS (VALUES
        (1, 'dup'), (1, 'spark'), (2, 'vector'), (2, 'the'),
        (2, 'batch'), (3, 'flink')),
      base AS (SELECT doc_id doc,
        ${tokensDuckSql("text")} tk
        FROM documents),
      wdl AS (SELECT doc, CAST(len(tk) AS BIGINT) dl, tk FROM base),
      st AS (SELECT CAST(count(*) AS BIGINT) n,
        CAST(sum(dl) AS DOUBLE) tot FROM wdl),
      tf AS (SELECT doc, dl, t, CAST(count(*) AS BIGINT) tf
        FROM (SELECT doc, dl, unnest(tk) t FROM wdl)
        WHERE t IN (SELECT DISTINCT term FROM q)
        GROUP BY doc, dl, t),
      dfq AS (SELECT t, CAST(count(*) AS BIGINT) df FROM tf GROUP BY t),
      contrib AS (SELECT q.query_id, tf.doc, tf.dl, tf.t,
          CAST(1 + length(bin(n)) - length(bin(df)) AS DOUBLE)
          * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
            / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
              + 0.75 * (CAST(dl AS DOUBLE) / (tot / CAST(n AS DOUBLE))))))
          AS c
        FROM tf JOIN dfq USING (t) JOIN q ON q.term = tf.t
        CROSS JOIN st),
      perdoc AS (SELECT query_id, doc, dl,
          CAST(count(*) AS BIGINT) n_matched,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(c ORDER BY t)), (x, y) -> x + y) score
        FROM contrib GROUP BY query_id, doc, dl),
      ranked AS (SELECT query_id, doc, dl, n_matched, score,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc) AS BIGINT) rnk
        FROM perdoc)
      SELECT CAST(query_id AS BIGINT) query_id, doc AS doc_id, rnk,
        score, dl, n_matched
      FROM ranked WHERE rnk <= 10"""))

  // L28 — the composed daily-ingest pipeline (IngestPipeline.run):
  // l22's incremental dedup -> l23h's span removal -> l26h's histogram
  // quota -> l19's deterministic splits, as ONE dataflow with ONE DuckDB
  // mirror (the l16 pattern). The individually-verified stages don't
  // certify their COMPOSITION — column collisions, order sensitivity,
  // and survivor-set scoping only break end to end. Fixture: a
  // two-snapshot scenario over the standing corpus — every 5th doc
  // re-crawled verbatim under a new id (must drop at stage 1), every
  // 7th re-ingested with appended content (survives stage 1, gets its
  // duplicated prefix cut at stage 2), every 11th token-REVERSED (a
  // "genuinely new" doc: survives both, mostly intact — reversed
  // 8-grams don't appear in the standing corpus). All three id ranges
  // disjoint from the corpus and each other.
  private val l28 = QueryDef("l28_ingest_pipeline", (s, dir) => {
    val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
    val recrawled = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("source"),
        col("text"))
    val revised = docs.filter(pmod(col("doc_id"), lit(7L)) === 0L)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("source"),
        concat(col("text"), lit(" rev2")).as("text"))
    val fresh = docs.filter(pmod(col("doc_id"), lit(11L)) === 0L)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("source"),
        expr(s"array_join(reverse(${tokensSql("text")}), ' ')").as("text"))
    IngestPipeline.run(
      standing = docs.select("doc_id", "text"),
      batch = recrawled.unionByName(revised).unionByName(fresh),
      idCol = "doc_id", textCol = "text", sourceCol = "source",
      spanN = 8, budgetPerSource = 100L, trainPct = 80, valPct = 10)
  }, Some("""WITH b AS (
        SELECT doc_id + 1000000 AS doc_id, source, text
          FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, source, text || ' rev2' AS text
          FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id, source,
          array_to_string(list_reverse(""" + tokensDuckSql("text") + """),
            ' ') AS text
          FROM documents WHERE doc_id % 11 = 0),
      ex AS (SELECT DISTINCT
          sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) ch
        FROM documents),
      surv AS (SELECT b.doc_id, b.source, b.text
        FROM b LEFT JOIN ex ON ex.ch =
          sha256(regexp_replace(lower(trim(b.text)), '\s+', ' ', 'g'))
        WHERE ex.ch IS NULL),
      uni AS (SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM surv),
      toks AS (SELECT doc_id, """ + tokensDuckSql("text") + """ tk FROM uni),
      t2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) n_tokens
        FROM toks),
      g AS (SELECT doc_id, u['pos'] pos, u['gram'] gram
        FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
               i -> {'pos': i, 'gram': array_to_string(tk[i:i+7], ' ')})) u
              FROM toks WHERE len(tk) >= 8)),
      dup AS (SELECT gram FROM g GROUP BY gram
        HAVING count(DISTINCT doc_id) >= 2),
      fl AS (SELECT doc_id, list_sort(list_distinct(list(pos))) starts
        FROM g JOIN dup USING (gram) GROUP BY doc_id),
      c AS (SELECT t2.doc_id, tk, n_tokens,
          list_sort(list_distinct(flatten(list_transform(
            coalesce(starts, []), p -> range(p, p + 8))))) covered
        FROM t2 LEFT JOIN fl USING (doc_id)),
      cleanedall AS (SELECT doc_id,
          CAST(len(covered) AS BIGINT) AS n_dup_positions,
          coalesce(array_to_string(list_transform(
            list_filter(range(1, CAST(n_tokens AS INTEGER) + 1),
              i -> NOT list_contains(covered, i)), i -> tk[i]), ' '), '')
            AS clean_text
        FROM c),
      cleaned AS (SELECT s.doc_id, s.source, cl.n_dup_positions,
          cl.clean_text
        FROM surv s JOIN cleanedall cl USING (doc_id)),
      scored AS (SELECT source, doc_id, n_dup_positions,
          CAST(len(""" + tokensDuckSql("clean_text") + """) AS BIGINT) n_tokens,
          CAST(len(list_distinct(""" + tokensDuckSql("clean_text") +
            """)) AS BIGINT) quality
        FROM cleaned),
      r AS (SELECT source, doc_id, n_dup_positions, n_tokens, quality,
          CAST(sum(n_tokens) OVER (PARTITION BY source
            ORDER BY quality DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
        FROM scored),
      k AS (SELECT *, cum <= 100 AS kept FROM r),
      sp AS (SELECT source, n_tokens, n_dup_positions,
          """ + splitCaseDuck("doc_id") + """ AS split
        FROM k WHERE kept)
      SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
        CAST(sum(n_dup_positions) AS BIGINT) AS dup_positions_removed
      FROM sp GROUP BY source, split"""))

  // L29 — temperature-based source mixing (the sqrt-count reweighting
  // of the Pile/LLaMA data recipes, alpha = 0.5): each lang gets
  // floor(T * sqrt(n)/sum sqrt(n)) docs, selected as the target-many
  // smallest portable-LCG hashes — a deterministic without-replacement
  // sample that down-weights giant sources vs proportional sampling.
  // alpha is FIXED at 0.5 because sqrt is exactly-rounded IEEE where
  // pow() is not (a libm ulp would flip a floor and break the hash
  // match); the weight sum folds in sorted lang order (the l27b trick)
  // for the same reason. kept_h_sum fingerprints the exact selected
  // SET, not just its size. ONE oracle for l29 (exact per-lang window)
  // and l29h (histogram-threshold form — hash space bucketized, whole
  // buckets classified, only the straddling bucket pays a window
  // partitioned by (lang, bucket): the l26h giant-source treatment
  // applied to rank selection).
  private val l29OracleSql = """WITH sc AS (SELECT lang, doc_id,
        ((((doc_id % 100000007) + 100000007) % 100000007)
          * 1103515245 + 12345) % 1000000007 AS h
        FROM documents),
      cnt AS (SELECT lang, CAST(count(*) AS BIGINT) n_docs
        FROM sc GROUP BY lang),
      w AS (SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) wt
        FROM cnt),
      sw AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(wt ORDER BY lang)), (a, b) -> a + b) s FROM w),
      tg AS (SELECT lang, n_docs,
          CAST(floor(200.0 * wt / s) AS BIGINT) target
        FROM w CROSS JOIN sw),
      r AS (SELECT lang, doc_id, h,
          CAST(row_number() OVER (PARTITION BY lang
            ORDER BY h, doc_id) AS BIGINT) rnk
        FROM sc),
      k AS (SELECT r.lang, h, rnk <= target AS kept
        FROM r JOIN tg ON r.lang = tg.lang)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN kept THEN h ELSE 0 END) AS BIGINT)
          AS kept_h_sum
      FROM k GROUP BY lang"""

  private def mixAgg(sel: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    sel.groupBy("lang").agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).cast("long")
        .as("n_kept"),
      sum(when(col("kept"), col("h")).otherwise(lit(0L))).cast("long")
        .as("kept_h_sum"))

  private val l29 = QueryDef("l29_temperature_mix", (s, dir) => {
    mixAgg(CorpusAssembly.temperatureMixSelect(
      Tables.documents(s, dir), "lang", "doc_id", totalTarget = 200L))
  }, Some(l29OracleSql))

  private val l29h = QueryDef("l29h_temperature_mix_hist", (s, dir) => {
    mixAgg(CorpusAssembly.temperatureMixSelectHistogram(
      Tables.documents(s, dir), "lang", "doc_id", totalTarget = 200L))
  }, Some(l29OracleSql))

  // L30 — REAL BPE tokenizer (the trained-merge-table upgrade of l9's
  // "BPE-ish" count; every budget operator — l25 packing, l26 quota,
  // l29 mixing — keys on token counts, so the counts should come from a
  // trained tokenizer). Merges train on the l19 train split ONLY; the
  // encode query tokenizes ALL splits with the learned table, so the
  // held-out rows check true generalization of the merge table, not
  // memorization. All-integer and string-exact end to end: the DuckDB
  // oracle re-runs the identical training loop as 16 unrolled CTE
  // iterations and must land on the same merges AND the same per-split
  // token totals. See [[graft.operators.Bpe]] for the dataflow shape
  // (one corpus pass, then vocab-sized bounded iterations; map-only
  // literal-replace encode).
  private val bpeMerges = 16
  // Train-once-tokenize-everywhere: the merge table (and the l31
  // weights below) are driver-tiny deterministic artifacts of the sf
  // dir, so the encode/score queries reuse them instead of re-running
  // training — exactly how a real pipeline deploys a tokenizer. The
  // TRAINING queries (l30, l31) never read these memos, so the bench
  // still times training itself.
  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()
  private val qcMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private val bpeTrainFilter =
    TextAnalysis.splitBucketDuckSql("doc_id") + " < 80"
  private val bpeSplitCase = splitCaseDuck("doc_id")
  private def bpeTrainDocs(s: SparkSession, dir: String) =
    Tables.documents(s, dir)
      .filter(TextAnalysis.splitAssign("doc_id", 80, 10) === "train")

  private val l30 = QueryDef("l30_bpe_train", (s, dir) => {
    val merges = Bpe.train(bpeTrainDocs(s, dir), "text", bpeMerges)
    import s.implicits._
    merges.map(m => (m.rank.toLong, m.a, m.b, m.merged))
      .toDF("rank", "a", "b", "merged")
  }, Some(Bpe.oracleTrainSql("text", bpeTrainFilter, bpeMerges)))

  // L30B — the BATCHED merge-learning variant (the production-vocab
  // scale path: 9x the sequential learning rate at 1k merges,
  // SCALE_r12.md §4). The DuckDB oracle replays the block-greedy
  // algorithm itself — per-round pair-count snapshot, argmax-ordered
  // candidates, a RECURSIVE-CTE symbol-disjoint greedy walk, cumulative
  // ranks, guarded-slot replace unrolling — so the deviation from exact
  // Sennrich order is itself pinned cross-engine, not just spec-pinned.
  private val l30b = QueryDef("l30b_bpe_train_batched", (s, dir) => {
    val merges = Bpe.trainBatched(bpeTrainDocs(s, dir), "text",
      bpeMerges, batch = 8)
    import s.implicits._
    merges.map(m => (m.rank.toLong, m.a, m.b, m.merged))
      .toDF("rank", "a", "b", "merged")
  }, Some(Bpe.oracleTrainBatchedSql("text", bpeTrainFilter, bpeMerges,
    batch = 8)))

  private val l30e = QueryDef("l30e_bpe_tokenize", (s, dir) => {
    val merges = bpeMemo.computeIfAbsent(dir,
      d => Bpe.train(bpeTrainDocs(s, d), "text", bpeMerges))
    Bpe.encodeCounts(Tables.documents(s, dir), "text", merges)
      .withColumn("split", TextAnalysis.splitAssign("doc_id", 80, 10))
      .groupBy("lang", "split").agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").cast("long").as("total_words"),
        sum("bpe_tokens").cast("long").as("bpe_total"))
  }, Some(Bpe.oracleEncodeSql("text", bpeTrainFilter, bpeSplitCase,
    bpeMerges)))

  // L30T — the actual token STREAMS (doc_id, pos, token) for a doc
  // subset: hashes every single emitted token cross-engine, the
  // strongest possible pin on the tokenizer (counts can collide;
  // sequences can't).
  private val l30t = QueryDef("l30t_bpe_token_stream", (s, dir) => {
    val merges = bpeMemo.computeIfAbsent(dir,
      d => Bpe.train(bpeTrainDocs(s, d), "text", bpeMerges))
    Bpe.tokens(Tables.documents(s, dir).filter(col("doc_id") < 25),
      "doc_id", "text", merges)
  }, Some(Bpe.oracleTokensSql("text", bpeTrainFilter, "doc_id < 25",
    bpeMerges)))

  // L30V — the token-ID stream (doc_id, pos, token_id): l30t's tokens
  // pushed through the deterministic vocabulary (training alphabet
  // sorted, then merges in rank order — the id layout every BPE ships),
  // the actual integer hand-off a training loader consumes. Broadcast
  // vocab join (alphabet+merges-bounded), UNK -> -1 keeps positions
  // dense. The oracle rebuilds the identical vocabulary from the same
  // unrolled training CTEs, so every single id crosses engines.
  private val l30v = QueryDef("l30v_bpe_token_ids", (s, dir) => {
    val merges = bpeMemo.computeIfAbsent(dir,
      d => Bpe.train(bpeTrainDocs(s, d), "text", bpeMerges))
    val vocab = Bpe.vocabTable(bpeTrainDocs(s, dir), "text", merges)
    Bpe.tokenIds(Tables.documents(s, dir).filter(col("doc_id") < 25),
      "doc_id", "text", merges, vocab)
  }, Some(Bpe.oracleTokenIdsSql("text", bpeTrainFilter, "doc_id < 25",
    bpeMerges)))

  // L25B — first-fit-decreasing packing, the packing-QUALITY baseline
  // l25's concat-and-chunk is compared against: FFD never splits a doc
  // (zero straddlers by construction, vs l25's cut-at-every-boundary),
  // at the cost of underfull bins. Bounded per-group fold over the
  // value-deterministic global rank (groups of 256; no layout
  // dependence), recursive-CTE DuckDB oracle replays the identical
  // fold. Emitted per-doc so the hash covers every single assignment.
  private val l25b = QueryDef("l25b_ffd_packing", (s, dir) => {
    CorpusAssembly.packFirstFitDecreasing(Tables.documents(s, dir),
      "doc_id", "text", budget = 2048L, groupSize = 256)
  }, Some(CorpusAssembly.packFfdOracleSql("text", budget = 2048L,
    groupSize = 256)))

  // L25S — the per-shard/incremental form of l25 (RISKS row 5 made
  // real): each shard's running sums computed independently + a
  // map-only boundary fixup; bit-identical to the global pack over
  // (shard, doc_id) order, which — shard = doc_id div 50 being
  // monotone in doc_id — is the SAME cum the l25 mirror computes, so
  // the oracle is l25's CTE regrouped by (shard, bin). Shard token
  // totals are NOT multiples of the budget, so boundaries land mid-bin
  // and the fixup's re-division (not a bin-id shift) is what's
  // certified.
  private val l25s = QueryDef("l25s_sequence_packing_sharded", (s, dir) => {
    CorpusAssembly.sequencePackSharded(
        Tables.documents(s, dir)
          .withColumn("shard", expr("doc_id div 50")),
        "shard", "doc_id", "text", budget = 2048L)
      .groupBy("shard", "bin").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("bin_tokens"),
        sum(col("straddles_next").cast("long")).cast("long")
          .as("n_straddlers"))
  }, Some(s"""WITH t AS (SELECT doc_id, doc_id // 50 AS shard,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) n
        FROM documents),
      c AS (SELECT doc_id, shard, n,
        CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) cum FROM t),
      b AS (SELECT doc_id, shard, n, cum, (cum - n) // 2048 AS bin,
        CASE WHEN n > 0 AND (cum - 1) // 2048 > (cum - n) // 2048
             THEN 1 ELSE 0 END AS straddle
        FROM c)
      SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n) AS BIGINT) AS bin_tokens,
        CAST(sum(straddle) AS BIGINT) AS n_straddlers
      FROM b GROUP BY shard, bin"""))

  // L32 — deterministic EPOCH SHUFFLE: the loader-order step between
  // corpus assembly and training (a fresh reproducible permutation per
  // epoch — same seed => the same byte-exact schedule on any engine or
  // rerun, what makes restarts and ablations comparable). Two epochs so
  // the freshness claim is non-vacuous; the oracle replays the same
  // shared hash fragment with a plain per-epoch window (DuckDB can
  // afford the funnel at gate SF; Spark ranks through the
  // range-partitioned prefix-sum, never a per-epoch window).
  private val l32 = QueryDef("l32_epoch_shuffle", (s, dir) => {
    CorpusAssembly.epochOrder(Tables.documents(s, dir), "doc_id",
      epochs = 2, seed = 7L)
  }, Some(s"""WITH e AS (SELECT doc_id, epoch
        FROM documents, (SELECT unnest(range(1, 3)) AS epoch)),
      h AS (SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
        ${CorpusAssembly.epochHashSql("doc_id", 7L)} AS hk FROM e)
      SELECT epoch, CAST(row_number() OVER (PARTITION BY epoch
          ORDER BY hk, doc_id) AS BIGINT) AS ord, doc_id
      FROM h"""))

  // L31 — TRAINED quality classifier (l8's heuristic scorer, learned):
  // fixed-point hard-sigmoid logistic regression over poly-hashed token
  // features, full-batch gradient descent in exact BIGINT arithmetic.
  // The DuckDB oracle replays all six training iterations as unrolled
  // CTEs and must land on the IDENTICAL weight vector (l31) and the
  // identical per-lang kept counts (l31s) — cross-engine-exact model
  // TRAINING, not just inference. See
  // [[graft.operators.QualityClassifier]] for the one-job-per-iteration
  // dataflow (literal weights, posexplode + F+1-key combinable groupBy).
  private val qcCfg = QualityClassifier.Config()

  private val l31 = QueryDef("l31_trained_quality", (s, dir) => {
    val feats = QualityClassifier
      .featurize(Tables.documents(s, dir), "doc_id", "text", qcCfg)
      .cache()
    val w = try QualityClassifier.train(feats, qcCfg)
            finally feats.unpersist(blocking = false)
    import s.implicits._
    w.zipWithIndex.map { case (wv, j) => (j.toLong, wv) }.toSeq
      .toDF("j", "w")
  }, Some(QualityClassifier.oracleWeightsSql("text", qcCfg)))

  private val l31s = QueryDef("l31s_trained_quality_score", (s, dir) => {
    val feats = QualityClassifier
      .featurize(Tables.documents(s, dir), "doc_id", "text", qcCfg,
        carry = Seq("lang"))
      .cache()
    try {
      val w = qcMemo.computeIfAbsent(dir,
        _ => QualityClassifier.train(feats, qcCfg))
      QualityClassifier.score(feats, w)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).cast("long")
            .as("n_kept"),
          sum("y").cast("long").as("n_pos_label"))
        .localCheckpoint(true) // release the cache below, result stands
    } finally feats.unpersist(blocking = false)
  }, Some(QualityClassifier.oracleScoreSql("text", qcCfg)))

  // L33 — zlib compression-ratio quality signal (the Gopher-family
  // repetition/diversity filter no regex feature reproduces). DECLARED
  // ROWS-ONLY: no SQL engine can mirror DEFLATE, so unlike the
  // LSH/sketch families there is no portable sibling BY NATURE —
  // TextAnalysisSpec instead pins the bytes against an in-JVM zlib
  // recompute and the behavioral ordering (repetitive boilerplate
  // scores far below shuffled-unique text). Aggregated per lang here so
  // the row check still spans every doc's exact ratio (sums of
  // compressed bytes are as order-independent as counts).
  private val l33 = QueryDef("l33_compression_ratio", (s, dir) => {
    TextAnalysis.compressionRatio(Tables.documents(s, dir), "doc_id",
        "text")
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("raw_bytes").as("raw_total"),
        sum("compressed_bytes").as("compressed_total"),
        sum(when(col("compression_ratio") < 0.45, 1L).otherwise(0L))
          .as("n_boilerplate"))
  }, None)

  // L34 — HTML boilerplate extraction (operators/Html): the
  // crawl-to-text step that precedes every quality/dedup operator.
  // The corpus is plain text, so the fixture synthesizes a realistic
  // page around each doc IN-QUERY from a shared engine-portable
  // fragment (script with tag-looking string content, style, nav
  // links, entities, a doc_id-conditional link-heavy block) — the
  // operator under test is the extraction, and the per-doc md5 of the
  // cleaned text plus the exact link-density decision cross engines is
  // the strongest pin available.
  private val l34HtmlSynth =
    """concat('<html><head><script>var x = "1 < 2; </p>";</script>',
       '<style>p { color: red }</style></head><body><p>', text,
       '</p><div><a href="/h">home nav</a> <a>more &amp; x</a></div>',
       CASE WHEN doc_id % 3 = 0
         THEN concat('<p><a href="/x">', substring(text, 1, 40),
                     '</a></p>')
         ELSE '' END,
       '</body></html>')"""
  private val l34 = QueryDef("l34_html_extract", (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("__html", expr(l34HtmlSynth))
      .select(col("doc_id"),
        expr(Html.cleanTextSql("__html")).as("clean"),
        Html.linkDensity("__html").as("ld"))
      .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
        length(col("clean")).cast("long").as("clean_chars"),
        (col("ld") > 0.1).as("linky"))
  }, Some(s"""WITH h AS (SELECT doc_id, $l34HtmlSynth AS html
        FROM documents),
      c AS (SELECT doc_id,
        ${Html.cleanTextDuckSql("html")} AS clean,
        ${Html.linkCharsDuckSql("html")} AS lc FROM h)
      SELECT doc_id, md5(clean) AS clean_md5,
        CAST(length(clean) AS BIGINT) AS clean_chars,
        (length(clean) > 0 AND
         CAST(lc AS DOUBLE) / CAST(length(clean) AS BIGINT) > 0.1)
          AS linky
      FROM c"""))

  // L35 — Unicode canonicalization (TextAnalysis.unicodeClean + the
  // native nfc_normalize expression): the corpus is ASCII, so the
  // fixture dirties every doc IN-QUERY with the same engine-portable
  // construction — a decomposed `naïve café` suffix (combining U+0308/
  // U+0301 that NFC must recompose) and, on every third doc, a
  // zero-width space + a control byte that the strip must remove. The
  // per-doc md5 of the cleaned text crossing engines proves the JDK
  // normalizer and DuckDB's utf8proc agree byte-for-byte; removed_chars
  // pins the strip count and `recomposed` the NFC-changed decision.
  private val l35 = QueryDef("l35_unicode_clean", (s, dir) => {
    // DECOMPOSED suffix (combining diaeresis/acute as separate code
    // points, written as unicode escape sequences so no editor or
    // tool silently recomposes them) + zero-width-space/control dirt
    val dirty = concat(col("text"),
      lit(" nai\u0308ve cafe\u0301"),
      when(col("doc_id") % 3 === 0, lit("\u200Bzw\u0001ctl"))
        .otherwise(lit("")))
    TextAnalysis.unicodeClean(
      Tables.documents(s, dir).withColumn("__dirty", dirty),
      "doc_id", "__dirty")
      .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
        length(col("text_clean")).cast("long").as("clean_chars"),
        col("removed_chars"), col("recomposed"))
  }, Some(s"""WITH d AS (SELECT doc_id,
        text || ' nai' || chr(776) || 've cafe' || chr(769) ||
          CASE WHEN doc_id % 3 = 0
               THEN chr(8203) || 'zw' || chr(1) || 'ctl'
               ELSE '' END AS t
        FROM documents),
      st AS (SELECT doc_id, t, regexp_replace(regexp_replace(t,
          '${TextAnalysis.ZeroWidthPattern}', '', 'g'),
          '${TextAnalysis.ControlPattern}', '', 'g') AS s0
        FROM d)
      SELECT doc_id, md5(nfc_normalize(s0)) AS clean_md5,
        CAST(length(nfc_normalize(s0)) AS BIGINT) AS clean_chars,
        CAST(length(t) - length(s0) AS BIGINT) AS removed_chars,
        (nfc_normalize(s0) <> s0) AS recomposed
      FROM st"""))

  // L36 — URL canonicalization + registrable domain (operators/Urls):
  // the crawl-curation step before URL-keyed dedup / per-domain quotas
  // / blocklists. The corpus has no URL column, so the fixture
  // synthesizes five URL shapes per doc IN-QUERY (mixed-case scheme+
  // host, default ports, tracking params in every position, a
  // multi-label co.uk host, a blocklisted domain, a malformed
  // scheme-less string) from a shared template — engine-specific only
  // in the doc_id cast spelling. Canonical form, domain, and the
  // blocklist decision all hash-cross engines per doc.
  private def l36UrlSynth(idStr: String) =
    s"""CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN concat('HTTP://Example.COM:80/Path/p', $idStr,
          '?utm_source=x&id=', $idStr, '#frag')
        WHEN 1 THEN concat(
          'https://Sub.Site.co.uk:443/a?b=1&utm_campaign=z&c=2&gclid=',
          $idStr)
        WHEN 2 THEN concat('https://tracker.spam-domain.com/x', $idStr,
          '?fbclid=abc')
        WHEN 3 THEN concat('http://plain.org/doc/', $idStr)
        ELSE concat('no-scheme-here/', $idStr)
        END"""
  private val l36 = QueryDef("l36_url_canonicalize", (s, dir) => {
    val src = Tables.documents(s, dir)
      .withColumn("u", expr(l36UrlSynth("CAST(doc_id AS STRING)")))
    Urls.canonicalize(src, "u")
      .select(col("doc_id"), col("url_canonical"), col("url_domain"),
        coalesce(col("url_domain") === "spam-domain.com", lit(false))
          .as("blocked"))
  }, Some(s"""WITH ${Urls.canonicalDuckSql(
      s"SELECT doc_id, ${l36UrlSynth("CAST(doc_id AS VARCHAR)")} AS u " +
        "FROM documents")}
      SELECT doc_id, url_canonical, url_domain,
        coalesce(url_domain = 'spam-domain.com', false) AS blocked
      FROM c"""))

  // L14B — structured PII redaction (emails -> <EMAIL>, IPv4 -> <IP>,
  // digit runs -> #): the corpus is synthetic prose, so each doc gets a
  // portable PII suffix built in-query (a doc-id-derived email, an IP
  // with a doc-id octet, and a trailing account number); the per-doc
  // md5 of the redacted text crossing engines pins all three rules and
  // their ordering (emails before IPs before digits — the masks must
  // never be re-matched by later passes).
  private def l14bSynth(idStr: String, octetStr: String) =
    s"""concat(text, ' contact bob', $idStr, '@ex-', $idStr,
        '.com or 10.0.', $octetStr, '.7 acct 9912345')"""
  private val l14b = QueryDef("l14b_redact_pii", (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("__dirty", expr(l14bSynth("CAST(doc_id AS STRING)",
        "CAST(doc_id % 256 AS STRING)")))
      .withColumn("red", TextAnalysis.redactPii("__dirty"))
      .select(col("doc_id"), md5(col("red")).as("red_md5"),
        length(col("red")).cast("long").as("red_chars"),
        col("red").contains("<EMAIL>").as("has_email_mask"),
        col("red").contains("<IP>").as("has_ip_mask"))
  }, Some(s"""WITH d AS (SELECT doc_id,
        ${l14bSynth("CAST(doc_id AS VARCHAR)",
          "CAST(doc_id % 256 AS VARCHAR)")} AS t
        FROM documents),
      r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
          t, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
          '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
          '[0-9]+', '#', 'g') AS red
        FROM d)
      SELECT doc_id, md5(red) AS red_md5,
        CAST(length(red) AS BIGINT) AS red_chars,
        contains(red, '<EMAIL>') AS has_email_mask,
        contains(red, '<IP>') AS has_ip_mask
      FROM r"""))

  // L37 — per-domain document cap over canonicalized URLs: the l36
  // curation output feeding the standard per-domain balance rule (at
  // most K docs per registrable domain, chosen as the K smallest
  // deterministic hashes — the l29 without-replacement-sample trick,
  // so the kept set is engine/layout/rerun-stable). The window
  // partitions on url_domain, whose width is the per-domain doc count
  // (the l26h histogram treatment is the giant-domain path at 100 TB).
  private val l37 = QueryDef("l37_domain_cap", (s, dir) => {
    val src = Tables.documents(s, dir)
      .withColumn("u", expr(l36UrlSynth("CAST(doc_id AS STRING)")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("url_domain")
      .orderBy(col("h"), col("doc_id"))
    graft.operators.Barrier.filterAbove(Urls.canonicalize(src, "u"),
        col("url_domain").isNotNull)
      .withColumn("h", expr(
        "pmod(pmod(doc_id, 100000007) * 1103515245 + 12345, 1000000)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("kept", col("rnk") <= 40L)
      .groupBy("url_domain").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("h")).otherwise(0L)).as("kept_h_sum"))
  }, Some(s"""WITH ${Urls.canonicalDuckSql(
      s"SELECT doc_id, ${l36UrlSynth("CAST(doc_id AS VARCHAR)")} AS u " +
        "FROM documents")},
      hshd AS (SELECT doc_id, url_domain,
        CAST(((((doc_id % 100000007) + 100000007) % 100000007)
          * 1103515245 + 12345) % 1000000 AS BIGINT) AS h
        FROM c WHERE url_domain IS NOT NULL),
      rk AS (SELECT url_domain, h,
        CAST(row_number() OVER (PARTITION BY url_domain
          ORDER BY h, doc_id) AS BIGINT) AS rnk
        FROM hshd)
      SELECT url_domain,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN rnk <= 40 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(sum(CASE WHEN rnk <= 40 THEN h ELSE 0 END) AS BIGINT)
          AS kept_h_sum
      FROM rk GROUP BY url_domain"""))

  // L39 — near-dup CLUSTERS from near-dup PAIRS: connected components
  // (GraphRank.connectedComponents — min-label propagation + pointer
  // jumping) over the capped n-gram-Jaccard pair graph (l2bh's hashed
  // 100 TB form; value-identical to l2b by the l2h contract). Near-dup
  // similarity is NOT transitive, so A~B and B~C must collapse into
  // one group even though A~C was never emitted — the step every
  // production dedup pipeline runs between pair generation and keeper
  // selection. Every corpus doc gets a row; singletons label
  // themselves (LEFT join). The oracle replays the closure as a DuckDB
  // recursive CTE over the SAME pair SQL, so the hash-match covers the
  // pair graph AND the fixpoint labels.
  private val l39 = QueryDef("l39_dup_components", (s, dir) => {
    import graft.operators.GraphRank
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.2, maxDocFreq = 10, hashedShingles = true)
    val comp = GraphRank.connectedComponents(pairs, "doc_a", "doc_b")
    docs.select("doc_id")
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }, Some(graft.operators.GraphRank.componentsOracleSql(l2bOracleSql,
    """SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS component
       FROM documents d LEFT JOIN cc ON cc.node = d.doc_id""")))

  // L40 — canonical dedup: ONE keeper per near-dup cluster, the doc
  // with the most content (max n_chars, ties to the smaller doc_id) —
  // the "keep the longest recrawl" rule. Composition of l39's
  // components with a map-side-combinable max_by argmax; the keeper
  // table is component-keyed (8-byte shuffle both sides), never
  // broadcast (it is corpus-sized: one row per CLUSTER). Emits every
  // doc with its cluster, the cluster's keeper, and the keep flag —
  // the shape a downstream filter consumes.
  private val l40 = QueryDef("l40_canonical_dedup", (s, dir) => {
    import graft.operators.GraphRank
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.2, maxDocFreq = 10, hashedShingles = true)
    val comp = GraphRank.connectedComponents(pairs, "doc_a", "doc_b")
    val withComp = docs.select(col("doc_id"), col("n_chars"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("component"), col("doc_id")).as("component"))
    val keepers = withComp.groupBy("component")
      .agg(max_by(col("doc_id"),
        struct(col("n_chars"), -col("doc_id"))).as("keeper"))
    withComp.join(keepers, Seq("component"))
      .select(col("doc_id"), col("component"), col("keeper"),
        (col("doc_id") === col("keeper")).cast("long").as("keep"))
  }, Some(graft.operators.GraphRank.componentsOracleSql(l2bOracleSql,
    """, j AS (SELECT d.doc_id,
         coalesce(cc.component, d.doc_id) AS component, d.n_chars
         FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
       k AS (SELECT component,
         (list(doc_id ORDER BY n_chars DESC, doc_id ASC))[1] AS keeper
         FROM j GROUP BY component)
       SELECT j.doc_id, j.component, k.keeper,
         CAST(CASE WHEN j.doc_id = k.keeper THEN 1 ELSE 0 END AS BIGINT)
           AS keep
       FROM j JOIN k USING (component)""")))

  // L41 — DSIR importance resampling (operators/Dsir): every doc scored
  // by the integer-bits log-likelihood ratio of its hashed-unigram
  // stream under the TARGET distribution (the English docs — the
  // "steer the crawl toward the target domain" selection rule, Xie et
  // al. 2023) vs the raw corpus; top-100 by (avg_bits desc, id) kept
  // (per-token average — the length-debiased ranking, see Dsir). The
  // oracle replays the poly-hash bucketing, the one-pass raw+target
  // counts, the bitlen weight table, and the global rank — so the
  // hash-match pins feature hashing, smoothing, scoring, and the
  // TakeOrderedAndProject top-k against a window-rank formulation.
  private val l41 = QueryDef("l41_dsir_resample", (s, dir) => {
    graft.operators.Dsir.importanceResample(Tables.documents(s, dir),
      "doc_id", "text", targetPred = col("lang") === "en",
      buckets = 4096, topK = 100)
  }, Some(s"""WITH toks AS (SELECT doc_id, lang,
        unnest(${tokensDuckSql("text")}) t
        FROM documents),
      bkt AS (SELECT doc_id, lang,
        list_reduce(list_prepend(CAST(7 AS BIGINT),
          list_transform(range(1, length(t) + 1),
            i -> CAST(ascii(t[i]) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1073741789) % 4096 AS bk
        FROM toks),
      cnt AS (SELECT bk, CAST(count(*) AS BIGINT) rc,
        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) tc0
        FROM bkt GROUP BY bk),
      tot AS (SELECT CAST(sum(rc) AS BIGINT) rt,
        CAST(sum(tc0) AS BIGINT) tt0 FROM cnt),
      w AS (SELECT bk, CAST((length(bin(rt)) - length(bin(rc)))
          - (length(bin(tt0 + 4096)) - length(bin(tc0 + 1)))
          AS BIGINT) wb
        FROM cnt CROSS JOIN tot),
      sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens,
        CAST(sum(wb) AS BIGINT) score_bits,
        CAST(sum(wb) AS DOUBLE) / CAST(count(*) AS BIGINT) avg_bits
        FROM bkt JOIN w USING (bk) GROUP BY doc_id),
      rk AS (SELECT doc_id,
        row_number() OVER (ORDER BY avg_bits DESC, doc_id) rn
        FROM sc)
      SELECT d.doc_id,
        CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(sc.score_bits, 0) AS BIGINT) AS score_bits,
        CAST(coalesce(sc.avg_bits, 0.0) AS DOUBLE) AS avg_bits,
        CAST(CASE WHEN rk.rn <= 100 THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM documents d
      LEFT JOIN sc ON sc.doc_id = d.doc_id
      LEFT JOIN rk ON rk.doc_id = d.doc_id"""))

  // L41B — DSIR weights TRAINED on one corpus, scoring ANOTHER (the
  // deploy shape, and the batch oracle for the streaming sink's
  // scoring path): counts from the deterministic l19 train split,
  // scores over the holdout. Exercises scoreAgainstCounts' symmetric
  // add-one smoothing AND the unseen-bucket exact-0 neutrality (the
  // holdout contains tokens the train split never saw), all replayed
  // by the oracle.
  private val l41b = QueryDef("l41b_dsir_score_holdout", (s, dir) => {
    import graft.operators.Dsir
    val docs = Tables.documents(s, dir)
    val split = TextAnalysis.splitAssign("doc_id", 80, 10)
    val counts = Dsir.bucketedTokens(docs.filter(split === "train"),
        "doc_id", "text", col("lang") === "en", 4096)
      .groupBy("bk").agg(count(lit(1)).as("rc"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tc"))
    Dsir.scoreAgainstCounts(docs.filter(split =!= "train"),
      "doc_id", "text", counts, buckets = 4096, topK = 20)
  }, Some("""WITH sp AS (SELECT doc_id, lang, text,
        """ + TextAnalysis.splitBucketDuckSql("doc_id") + s""" AS h
        FROM documents),
      toks AS (SELECT doc_id, lang,
        unnest(${tokensDuckSql("text")}) t
        FROM sp WHERE h < 80),
      bkt AS (SELECT doc_id, lang,
        list_reduce(list_prepend(CAST(7 AS BIGINT),
          list_transform(range(1, length(t) + 1),
            i -> CAST(ascii(t[i]) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1073741789) % 4096 AS bk
        FROM toks),
      cnt AS (SELECT bk, CAST(count(*) AS BIGINT) rc,
        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) tc
        FROM bkt GROUP BY bk),
      tot AS (SELECT CAST(coalesce(sum(rc), 0) AS BIGINT) rt,
        CAST(coalesce(sum(tc), 0) AS BIGINT) tt FROM cnt),
      w AS (SELECT bk, CAST((length(bin(rt + 4096)) - length(bin(rc + 1)))
          - (length(bin(tt + 4096)) - length(bin(tc + 1))) AS BIGINT) wb
        FROM cnt CROSS JOIN tot),
      htoks AS (SELECT doc_id,
        unnest(${tokensDuckSql("text")}) t
        FROM sp WHERE h >= 80),
      hbkt AS (SELECT doc_id,
        list_reduce(list_prepend(CAST(7 AS BIGINT),
          list_transform(range(1, length(t) + 1),
            i -> CAST(ascii(t[i]) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1073741789) % 4096 AS bk
        FROM htoks),
      sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens,
        CAST(sum(coalesce(wb, 0)) AS BIGINT) score_bits,
        CAST(sum(coalesce(wb, 0)) AS DOUBLE) / count(*) avg_bits
        FROM hbkt LEFT JOIN w USING (bk) GROUP BY doc_id),
      rk AS (SELECT doc_id,
        row_number() OVER (ORDER BY avg_bits DESC, doc_id) rn
        FROM sc)
      SELECT d.doc_id,
        CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(sc.score_bits, 0) AS BIGINT) AS score_bits,
        CAST(coalesce(sc.avg_bits, 0.0) AS DOUBLE) AS avg_bits,
        CAST(CASE WHEN rk.rn <= 20 THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM (SELECT doc_id FROM sp WHERE h >= 80) d
      LEFT JOIN sc ON sc.doc_id = d.doc_id
      LEFT JOIN rk ON rk.doc_id = d.doc_id"""))

  // L71 — the composed "full modern curation pipeline"
  // (operators/CurationPipeline): twelve wave-5..10 stages as ONE
  // dataflow with ONE DuckDB mirror (the l28 discipline — per-stage
  // oracles don't certify the COMPOSITION). Fixture: the corpus is
  // dirtied in-query (mojibake arms per doc_id%4, a decomposed
  // nai¨ve/cafe´ suffix NFC must recompose, zero-width+control dirt on
  // doc_id%3), wrapped in uniform HTML (script/style/entity damage),
  // given the l36 URL shapes (blocked + unattributable arms both
  // populated), and extended with planted verbatim recrawls
  // (+1,000,000 ids, doc_id%6 — exact dedup must kill) and planted
  // near-dup revisions (+2,000,000 ids, doc_id%9, appended marker —
  // must pair with the original, share its component, and die at the
  // keeper stage while the split keeps both on one side). The output
  // is the per-stage funnel (docs, tokens, chars — chars make the
  // content-only stages 4/5 visible), so the hash match pins every
  // stage's survivor set AND every content transform end to end.
  private val l71MojiArm =
    """CASE CAST(doc_id % 4 AS INT)
       WHEN 0 THEN ' cafÃ© rÃ©sumÃ© dÃ©cor'
       WHEN 1 THEN ' â€œquoteâ€™â€¦â€'
       WHEN 2 THEN ' naÃ¯ve faÃ§ade Â«quotedÂ»'
       ELSE '' END"""
  private val l71HtmlPre =
    """<html><head><script>var x = "1 < 2; </p>";</script><style>p { color: red }</style></head><body><p>"""
  private val l71HtmlPost =
    """</p><div><a href="/h">home nav</a> <a>more &amp; x</a></div></body></html>"""
  private val l71Block = "spam-domain.com"
  private val l71MinWords = 40
  private val l71Budget = 900L
  private val l71Pack = 512L
  private val l71 = QueryDef("l71_curation_pipeline", (s, dir) => {
    import graft.operators.CurationPipeline
    val d0 = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      concat(col("text"), expr(l71MojiArm),
        // DECOMPOSED combining marks + zw/ctl dirt as escape
        // sequences: raw invisibles in source are
        // editor-fragile (the l35 lesson)
        lit(" nai\u0308ve cafe\u0301"),
        when(pmod(col("doc_id"), lit(3L)) === 0L,
          lit("\u200Bzw\u0001ctl")).otherwise(lit("")),
        // the synthetic corpus vocabulary contains no English
        // stopwords, so Gopher rule 7 would kill EVERY doc and leave
        // stages 8-12 vacuous; planting the stopword run on even ids
        // only makes the rule fire both directions AND keeps the %6 /
        // %9-planted dup arms (even ids) alive through the gate
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          lit(" of and that have with")).otherwise(lit("")))
        .as("t"))
    val ing0 = d0
      .unionByName(d0.filter(pmod(col("doc_id"), lit(6L)) === 0L)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          col("source"), col("t")))
      .unionByName(d0.filter(pmod(col("doc_id"), lit(9L)) === 0L)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"),
          col("source"),
          concat(col("t"), lit(" tail nine extra marker")).as("t")))
    val raw = ing0.select(col("doc_id"), col("source"),
      concat(lit(l71HtmlPre), col("t"), lit(l71HtmlPost)).as("html"),
      expr(l36UrlSynth("CAST(doc_id AS STRING)")).as("u"))
    CurationPipeline.run(raw, "doc_id", "source", "html", "u",
      blockedDomains = Seq(l71Block), lineMaxDf = 4L,
      gopherMinWords = l71MinWords, jaccN = 3, jaccThreshold = 0.2,
      jaccMaxDocFreq = 10, budgetPerSource = l71Budget,
      packBudget = l71Pack, trainPct = 80, valPct = 10,
      reline = c => concat(lit("nav home menu\n"),
        regexp_replace(c, " (the|a) ", "\n"),
        lit("\ncopyright footer 2024")))
  }, Some {
    import graft.operators.{Html, TextAnalysis, Urls}
    def tokOf(c: String) =
      s"CAST(coalesce(sum(len(${tokensDuckSql(c)})), 0) AS BIGINT)"
    def chrOf(c: String) = s"CAST(coalesce(sum(length($c)), 0) AS BIGINT)"
    def funnelRow(no: Int, name: String, cte: String, c: String) =
      s"""SELECT CAST($no AS BIGINT) AS stage_no, '$name' AS stage,
          CAST(count(*) AS BIGINT) AS n_docs,
          ${tokOf(c)} AS n_tokens, ${chrOf(c)} AS n_chars FROM $cte"""
    val lcg = TextAnalysis.splitBucketDuckSql("component")
    val sql = s"""WITH RECURSIVE
      d0 AS (SELECT doc_id, source,
        text || $l71MojiArm
          || ' nai' || chr(776) || 've cafe' || chr(769)
          || CASE WHEN doc_id % 3 = 0
               THEN chr(8203) || 'zw' || chr(1) || 'ctl' ELSE '' END
          || CASE WHEN doc_id % 2 = 0
               THEN ' of and that have with' ELSE '' END
          AS t
        FROM documents),
      ing0 AS (
        SELECT doc_id, source, t FROM d0
        UNION ALL SELECT doc_id + 1000000, source, t FROM d0
          WHERE doc_id % 6 = 0
        UNION ALL SELECT doc_id + 2000000, source,
          t || ' tail nine extra marker' FROM d0 WHERE doc_id % 9 = 0),
      ing AS (SELECT doc_id, source,
        '$l71HtmlPre' || t || '$l71HtmlPost' AS html,
        ${l36UrlSynth("CAST(doc_id AS VARCHAR)")} AS u
        FROM ing0),
      ${Urls.canonicalDuckSql("SELECT doc_id, u FROM ing")},
      s2 AS (SELECT i.doc_id, i.source, i.html
        FROM ing i JOIN c ON c.doc_id = i.doc_id
        WHERE c.url_domain IS NOT NULL
          AND c.url_domain <> '$l71Block'),
      s3 AS (SELECT doc_id, source,
        ${Html.cleanTextDuckSql("html")} AS text FROM s2),
      s4 AS (SELECT doc_id, source,
        nfc_normalize(regexp_replace(regexp_replace(text,
          '${TextAnalysis.ZeroWidthPattern}', '', 'g'),
          '${TextAnalysis.ControlPattern}', '', 'g')) AS text FROM s3),
      s5 AS (SELECT doc_id, source,
        ${TextAnalysis.mojibakeRepairDuckSql("text")} AS text FROM s4),
      lined AS (SELECT doc_id, source,
        'nav home menu' || chr(10) ||
        regexp_replace(text, ' (the|a) ', chr(10), 'g') ||
        chr(10) || 'copyright footer 2024' AS text FROM s5),
      lls AS (SELECT doc_id, string_split(text, chr(10)) l FROM lined),
      lln AS (SELECT doc_id, i AS pos, l[i] AS line
        FROM lls, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) u),
      lfreq AS (SELECT line, count(DISTINCT doc_id) line_df
        FROM lln GROUP BY line),
      lkp AS (SELECT doc_id, pos, lln.line, line_df <= 4 AS keep
        FROM lln JOIN lfreq ON lln.line = lfreq.line),
      s6 AS (SELECT lkp.doc_id, s5.source,
          coalesce(string_agg(CASE WHEN keep THEN lkp.line END,
            chr(10) ORDER BY pos), '') AS text
        FROM lkp JOIN s5 ON s5.doc_id = lkp.doc_id
        GROUP BY lkp.doc_id, s5.source),
      gb AS (SELECT doc_id, source, text,
        list_filter(string_split(replace(text, chr(10), ' '), ' '),
          t -> length(t) > 0) w,
        list_filter(string_split(text, chr(10)), x -> length(x) > 0) l,
        (length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) // 3
          AS nsym
        FROM s6),
      gr AS (SELECT doc_id, source, text,
        ${TextAnalysis.gopherRulesDuckSql(minWords = l71MinWords)}
        FROM gb),
      s7 AS (SELECT doc_id, source, text FROM gr
        WHERE r_wordcount * r_meanlen * r_symbol * r_bullet
          * r_ellipsis * r_alpha * r_stopwords = 1),
      eh AS (SELECT doc_id, source, text,
        sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) ch
        FROM s7),
      eg AS (SELECT ch, min(doc_id) keep_id FROM eh GROUP BY ch),
      s8 AS (SELECT eh.doc_id, eh.source, eh.text
        FROM eh JOIN eg ON eh.ch = eg.ch AND eh.doc_id = eg.keep_id),
      toks2 AS (SELECT doc_id, ${tokensDuckSql("text")} tk FROM s8),
      sh2 AS (SELECT doc_id, ${shinglesDuckSql("tk")} sg
        FROM toks2 WHERE len(tk) >= 3),
      ex2 AS (SELECT doc_id AS doc, unnest(sg) AS shingle FROM sh2),
      freq2 AS (SELECT shingle, count(*) AS df FROM ex2 GROUP BY 1),
      kept2 AS (SELECT ex2.doc, ex2.shingle FROM ex2
        JOIN freq2 USING (shingle) WHERE df <= 10),
      cand2 AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM kept2 a JOIN kept2 b
        ON a.shingle = b.shingle AND a.doc < b.doc),
      inter2 AS (SELECT c2.doc_a, c2.doc_b,
          CAST(count(*) AS BIGINT) AS inter
        FROM cand2 c2 JOIN ex2 ea ON ea.doc = c2.doc_a
        JOIN ex2 eb ON eb.doc = c2.doc_b AND eb.shingle = ea.shingle
        GROUP BY 1, 2),
      sizes2 AS (SELECT doc_id, CAST(len(sg) AS BIGINT) AS n FROM sh2),
      prs AS (SELECT doc_a, doc_b FROM inter2
        JOIN sizes2 sa ON sa.doc_id = doc_a
        JOIN sizes2 sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE)
          / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.2),
      cc_e AS (SELECT doc_a AS s, doc_b AS d FROM prs
        UNION ALL SELECT doc_b AS s, doc_a AS d FROM prs),
      cc_r(node, m) AS (
        SELECT s, s FROM cc_e
        UNION
        SELECT cc_e.d, cc_r.m FROM cc_r
        JOIN cc_e ON cc_e.s = cc_r.node WHERE cc_r.m < cc_e.d),
      cc AS (SELECT node, min(m) AS component FROM cc_r GROUP BY node),
      s9 AS (SELECT s8.doc_id, s8.source, s8.text,
          coalesce(cc.component, s8.doc_id) AS component
        FROM s8 LEFT JOIN cc ON cc.node = s8.doc_id),
      s9s AS (SELECT *,
          CASE WHEN $lcg < 80 THEN 'train'
               WHEN $lcg < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM s9),
      s10 AS (SELECT doc_id, source, text FROM s9
        WHERE doc_id = component),
      q1 AS (SELECT source, doc_id, text,
        CAST(len(${tokensDuckSql("text")}) AS BIGINT) n_tokens,
        CAST(len(list_distinct(${tokensDuckSql("text")})) AS BIGINT) quality
        FROM s10),
      q2 AS (SELECT source, doc_id, text, n_tokens,
        CAST(sum(n_tokens) OVER (PARTITION BY source
          ORDER BY quality DESC, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) cum
        FROM q1),
      s11 AS (SELECT source, doc_id, text, n_tokens FROM q2
        WHERE cum <= $l71Budget),
      p1 AS (SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) cum
        FROM s11),
      p2 AS (SELECT doc_id, n_tokens,
        (cum - n_tokens) // $l71Pack AS bin FROM p1)
      ${funnelRow(1, "ingest", "ing", "html")}
      UNION ALL ${funnelRow(2, "url_blocklist", "s2", "html")}
      UNION ALL ${funnelRow(3, "html_extract", "s3", "text")}
      UNION ALL ${funnelRow(4, "unicode_clean", "s4", "text")}
      UNION ALL ${funnelRow(5, "mojibake_repair", "s5", "text")}
      UNION ALL ${funnelRow(6, "line_boilerplate", "s6", "text")}
      UNION ALL ${funnelRow(7, "gopher_quality", "s7", "text")}
      UNION ALL ${funnelRow(8, "exact_dedup", "s8", "text")}
      UNION ALL SELECT CAST(9 AS BIGINT), 'split_' || split,
        CAST(count(*) AS BIGINT), ${tokOf("text")}, ${chrOf("text")}
        FROM s9s GROUP BY split
      UNION ALL ${funnelRow(10, "near_dedup", "s10", "text")}
      UNION ALL ${funnelRow(11, "source_quota", "s11", "text")}
      UNION ALL SELECT CAST(12 AS BIGINT), 'pack',
        CAST(count(DISTINCT bin) AS BIGINT),
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT),
        (SELECT ${chrOf("text")} FROM s11)
        FROM p2"""
    materializeCtes(sql, Seq("d0", "ing0", "ing", "u0", "u1", "u2",
      "u3", "c", "s2", "s3", "s4", "s5", "lined", "lls", "lln",
      "lfreq", "lkp", "s6", "gb", "gr", "s7", "eh", "eg", "s8",
      "toks2", "sh2", "ex2", "freq2", "kept2", "cand2", "inter2",
      "sizes2", "prs", "cc_e", "cc", "s9", "s9s", "s10", "q1", "q2",
      "s11", "p1", "p2"))
  })

  // L72 — unigram-LM (SentencePiece-class) tokenizer trainer
  // (operators/UnigramLm, Kudo 2018): seed substring vocab -> 3 hard-EM
  // rounds (native unigram_viterbi segmentation, recount, integer
  // bit-surprisal re-costing, prune to singles + top-V multis) -> final
  // vocabulary. The oracle replays the ENTIRE training run: the seed
  // selection and, per round, the DP lattice as a DuckDB list-fold, the
  // longest-piece-first backtrace as a second fold (VARCHAR-list
  // accumulator — DuckDB 1.0's struct accumulators re-evaluate lazily
  // and read their FINAL value, found while building this oracle), the
  // usage recount and the prune — to the identical (piece, n_uses,
  // cost_bits) table. The l30 BPE treatment for the other production
  // tokenizer family.
  // caps chosen to BIND on the gate corpus (31 distinct words, ~200
  // candidate substrings): both the seed selection and the per-round
  // prune actually cut, so the ORDER BY ... LIMIT tie-break is
  // certified, not just present
  // --- l72 mirror machinery, shared by l72 (train) and l72e (encode):
  // the Viterbi DP lattice and its longest-piece-first backtrace,
  // UNROLLED over positions 1..16, ONE CTE PER STEP (see the l72
  // scaladoc for why no lambda ever sees the vocabulary map and why a
  // lateral-alias chain is a 4^16 tree). `label` namespaces the CTE
  // family: training rounds use "1".."3", the encode pass "e".
  private val l72Unk = graft.operators.UnigramLm.UnknownCost
  private val l72MaxW = 16
  private def l72CostOf(e: String) =
    s"coalesce(list_extract(map_extract(mp, $e), 1), $l72Unk)"
  private def l72DpChain(label: String): String = {
    val head = s"f${label}_0 AS (SELECT word, wf, mp, " +
      s"CAST(0 AS BIGINT) AS d0 FROM words, m$label)"
    val steps = (1 to l72MaxW).map { k =>
      val arms = (1 to 4).filter(_ <= k).map { l =>
        s"d${k - l} + ${l72CostOf(s"substr(word, ${k - l + 1}, $l)")}"
      }
      s"""f${label}_$k AS (SELECT *, CASE WHEN length(word) >= $k
          THEN least(${arms.mkString(", ")})
          ELSE $l72Unk END AS d$k FROM f${label}_${k - 1})"""
    }
    (head +: steps).mkString(",\n        ")
  }
  private def l72BtChain(label: String): String = {
    val head = s"b${label}_0 AS (SELECT word, wf, mp, " +
      s"[${(0 to l72MaxW).map(k => s"d$k").mkString(", ")}] AS dl, " +
      s"CAST(length(word) AS BIGINT) AS pp0 FROM f${label}_$l72MaxW)"
    val steps = (1 to l72MaxW).map { j =>
      val p = s"pp${j - 1}"
      val arms = (2 to 4).reverse.map { l =>
        s"""WHEN $p >= $l AND dl[$p + 1] = dl[$p - ${l - 1}] +
            ${l72CostOf(s"substr(word, $p - ${l - 1}, $l)")}
            THEN substr(word, $p - ${l - 1}, $l)"""
      }.mkString(" ")
      val pick = s"CASE WHEN $p <= 0 THEN '' $arms " +
        s"ELSE substr(word, $p, 1) END"
      s"""b${label}_$j AS (SELECT *, $pick AS sg$j,
          $p - length($pick) AS pp$j FROM b${label}_${j - 1})"""
    }
    (head +: steps).mkString(",\n        ")
  }
  // the backtrace fills sg1 with the LAST piece (it walks from the
  // word's end), so the in-order piece list is the reverse with
  // empties (exhausted steps) filtered out
  private val l72SgList =
    (1 to l72MaxW).map(j => s"sg$j").mkString("[", ", ", "]")
  private val l72SgListRev =
    (1 to l72MaxW).reverse.map(j => s"sg$j").mkString("[", ", ", "]")
  private def l72Iter(i: Int): String = {
    val prev = s"c${i - 1}"
    s"""m$i AS (SELECT map(list(piece ORDER BY piece),
          list(cost ORDER BY piece)) mp FROM $prev),
      ${l72DpChain(i.toString)},
      ${l72BtChain(i.toString)},
      cnt$i AS MATERIALIZED (SELECT piece, CAST(sum(wf) AS BIGINT) cnt
        FROM (SELECT wf, unnest($l72SgList) AS piece FROM b${i}_$l72MaxW)
        WHERE piece <> '' GROUP BY piece),
      v$i AS MATERIALIZED (
        SELECT s.piece, coalesce(c.cnt, 0) AS cnt
        FROM sing s LEFT JOIN cnt$i c USING (piece)
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM cnt$i
          WHERE length(piece) > 1 AND cnt >= 1
          ORDER BY cnt DESC, piece LIMIT $l72VocabTop)),
      t$i AS (SELECT CAST(sum(cnt) AS BIGINT) t FROM v$i),
      c$i AS MATERIALIZED (SELECT piece, cnt,
        length(bin(t)) - length(bin(cnt)) + 1 AS cost
        FROM v$i, t$i)"""
  }
  /** The WITH-body prefix shared by the l72 and l72e mirrors: word
    * table, seed vocabulary, and all `l72Iters` training rounds,
    * ending at `c<iters>` = the final (piece, cnt, cost) table.
    */
  // Multi-referenced CTEs are MATERIALIZED (round-17, the l66/l74
  // lesson): `words` is read by the seed selection AND every round's
  // DP-chain head (5 references), `sing` by every round's prune (4),
  // `subs`/`toks` twice — DuckDB versions that re-inline CTEs would
  // otherwise recompute the corpus word table per reference.
  // Result-identical: materialization hints only.
  private def l72TrainChains: String =
    s"""toks AS MATERIALIZED (SELECT doc_id,
          ${tokensDuckSql("text")} tk FROM documents),
      w0 AS (SELECT substr(u.t, 1, 16) AS word FROM toks,
        LATERAL (SELECT unnest(tk) AS t) u),
      words AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) wf
        FROM w0 GROUP BY word),
      subl AS (SELECT wf, flatten(list_transform(
          range(1, length(word) + 1), s ->
          list_filter(list_transform([1, 2, 3, 4], l ->
            CASE WHEN s + l - 1 <= length(word)
                 THEN substr(word, s, l) END),
            p -> p IS NOT NULL))) AS ps FROM words),
      subs0 AS (SELECT wf, unnest(ps) AS piece FROM subl),
      subs AS MATERIALIZED (SELECT piece, CAST(sum(wf) AS BIGINT) cnt
        FROM subs0 GROUP BY piece),
      sing AS MATERIALIZED (SELECT piece, cnt FROM subs
        WHERE length(piece) = 1),
      v0 AS (SELECT piece, cnt FROM sing
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM subs WHERE length(piece) > 1
          ORDER BY cnt DESC, piece LIMIT $l72SeedTop)),
      t0 AS (SELECT CAST(sum(cnt) AS BIGINT) t FROM v0),
      c0 AS (SELECT piece, cnt,
        length(bin(t)) - length(bin(cnt)) + 1 AS cost FROM v0, t0),
      ${(1 to l72Iters).map(l72Iter).mkString(",\n      ")}"""

  private val l72SeedTop = 40
  private val l72VocabTop = 12
  private val l72Iters = 3
  private val l72 = QueryDef("l72_unigram_lm", (s, dir) => {
    graft.operators.UnigramLm.train(Tables.documents(s, dir), "text",
      seedTop = l72SeedTop, vocabTop = l72VocabTop, iters = l72Iters)
  }, Some {
    // LAMBDA-FREE mirror: DuckDB 1.0's list_reduce accumulator
    // re-evaluates lazily (struct fields read their FINAL value) and is
    // thread-nondeterministic when the lambda captures a cross-joined
    // map column — both found while building this oracle. The DP and
    // its backtrace are therefore UNROLLED over positions 1..16 (the
    // maxWordLen bound) as plain expressions, ONE CTE PER STEP: a
    // single-SELECT lateral-alias chain would substitute each step's
    // expression into the next (branching factor 4 -> a 4^16 tree);
    // across CTE boundaries each step is computed once and referenced
    // as a column. No lambda ever sees the vocabulary map.
    s"""WITH ${l72TrainChains}
      SELECT piece, cnt AS n_uses,
        CAST(length(bin(t)) - length(bin(cnt)) + 1 AS BIGINT)
          AS cost_bits
      FROM v$l72Iters, t$l72Iters"""
  })

  // L72E — unigram-LM ENCODE certified cross-engine: segment the whole
  // corpus with the l72-trained vocabulary and emit, per doc, the piece
  // count and an ORDER-SENSITIVE rolling-hash fingerprint of the piece
  // stream (the l21 fold — pieces never contain spaces, so the stream
  // fingerprints exactly). The mirror replays training (shared chains),
  // then runs ONE more DP+backtrace pass per distinct word against the
  // final vocabulary and reassembles each doc's stream in token order.
  // Train (l72) pins the model; this pins the INFERENCE path on real
  // corpus words — together the tokenizer family's full lifecycle is
  // hash-checked, the l30/l30e treatment for the unigram side.
  /** The full l72e mirror body (shared with l74's per-family wrap):
    * per doc (doc_id, n_pieces, piece_fp) under the l72-trained
    * unigram vocabulary. */
  private lazy val l72EncodeMirrorSql =
    s"""WITH ${l72TrainChains},
      me AS (SELECT map(list(piece ORDER BY piece),
          list(cost ORDER BY piece)) mp FROM c$l72Iters),
      ${l72DpChain("e")},
      ${l72BtChain("e")},
      wp AS (SELECT word,
          list_filter($l72SgListRev, p -> p <> '') AS pieces
        FROM be_$l72MaxW),
      tokend AS (SELECT doc_id, u.i AS pos,
          substr(tk[u.i], 1, 16) AS word
        FROM toks, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) u),
      dstream AS (SELECT t.doc_id,
          flatten(list(wp.pieces ORDER BY t.pos)) AS stream
        FROM tokend t JOIN wp ON wp.word = t.word
        GROUP BY t.doc_id)
      SELECT d.doc_id,
        CAST(coalesce(len(s.stream), 0) AS BIGINT) AS n_pieces,
        CAST(coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(s.stream, t ->
            CAST(length(t) * 17 + ascii(substr(t, 1, 1)) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1000000007), 0) AS BIGINT)
          AS piece_fp
      FROM documents d LEFT JOIN dstream s ON s.doc_id = d.doc_id"""

  private val l72e = QueryDef("l72e_unigram_encode", (s, dir) => {
    import graft.operators.UnigramLm
    val docs = Tables.documents(s, dir)
    val vocab = UnigramLm.train(docs, "text", seedTop = l72SeedTop,
        vocabTop = l72VocabTop, iters = l72Iters)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    UnigramLm.encode(docs, "doc_id", "text", vocab)
      .select(col("doc_id"), col("n_pieces"),
        expr("""aggregate(pieces, CAST(0 AS BIGINT), (a, t) ->
            (a * 31 + length(t) * 17 + ascii(substring(t, 1, 1)))
              % 1000000007)""").as("piece_fp"))
  }, Some(l72EncodeMirrorSql))

  // L73 — WordPiece merge training (Schuster & Nakajima 2012; the BERT
  // tokenizer family): BPE's greedy agglomerative loop with the
  // LIKELIHOOD argmax — score(a,b) = count(ab)/(count(a)·count(b)), one
  // exactly-rounded double division of exact integers, ties (a,b)
  // lexicographic. The mirror replays every round (pair counts + symbol
  // counts + the identical score expression) as unrolled CTEs; the two
  // engines must land on the identical merge table — which DIFFERS from
  // l30's frequency-ordered table on this corpus, pinning that the
  // score, not the shared machinery, decides.
  private val wpMerges = 16
  private val wpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Bpe.Merge]]()
  private val l73 = QueryDef("l73_wordpiece_train", (s, dir) => {
    val merges = WordPiece.train(bpeTrainDocs(s, dir), "text", wpMerges)
    import s.implicits._
    merges.map(m => (m.rank.toLong, m.a, m.b, m.merged))
      .toDF("rank", "a", "b", "merged")
  }, Some(WordPiece.oracleTrainSql("text", bpeTrainFilter, wpMerges)))

  // L73E — WordPiece greedy longest-match-first ENCODE certified
  // cross-engine (the l72e treatment for the greedy family): the whole
  // corpus segmented against the l73-trained vocabulary (train-alphabet
  // singles + merged surfaces) by the native wordpiece_pieces
  // expression; per doc the piece count and the order-sensitive rolling
  // fingerprint. The mirror replays training, then the greedy walk as
  // 16 unrolled longest-match steps per distinct word.
  private val l73e = QueryDef("l73e_wordpiece_encode", (s, dir) => {
    val merges = wpMemo.computeIfAbsent(dir,
      d => WordPiece.train(bpeTrainDocs(s, d), "text", wpMerges))
    val vocab = WordPiece.vocabTokens(bpeTrainDocs(s, dir), "text",
      merges)
    WordPiece.encode(Tables.documents(s, dir), "doc_id", "text", vocab)
      .select(col("doc_id"), col("n_pieces"),
        expr("""aggregate(pieces, CAST(0 AS BIGINT), (a, t) ->
            (a * 31 + length(t) * 17 + ascii(substring(t, 1, 1)))
              % 1000000007)""").as("piece_fp"))
  }, Some(WordPiece.oracleEncodeSql("text", bpeTrainFilter, wpMerges)))

  // L74 — the tokenizer-selection harness: all THREE families (BPE
  // l30, unigram-LM l72, WordPiece l73) trained exactly as their
  // registered queries train them, then the WHOLE corpus encoded by
  // each, compared on one axis every tokenizer decision starts from —
  // compression (chars per emitted piece over the shared [a-z]+ word
  // domain). ONE mirror replays all three trainings AND all three
  // encodes (each family's existing certified mirror, wrapped as a
  // subquery and re-aggregated), so the comparison table itself is
  // hash-checked cross-engine — the l71 composed-oracle discipline
  // applied across tokenizer families. chars_per_piece is one double
  // division of exact BIGINTs (the BM25 determinism discipline).
  private val l74 = QueryDef("l74_tokenizer_eval", (s, dir) => {
    import s.implicits._
    import graft.operators.UnigramLm
    val docs = Tables.documents(s, dir)
    val chars = docs.select(explode(expr(
        wordsSql("text"))).as("w"))
      .agg(sum(length(col("w"))).cast("long").as("total_chars"))
    val bm = bpeMemo.computeIfAbsent(dir,
      d => Bpe.train(bpeTrainDocs(s, d), "text", bpeMerges))
    val bpeTotal = Bpe.encodeCounts(docs, "text", bm)
      .agg(sum("bpe_tokens").cast("long").as("total_pieces"))
      .select(lit("bpe").as("tokenizer"), col("total_pieces"))
    val wm = wpMemo.computeIfAbsent(dir,
      d => WordPiece.train(bpeTrainDocs(s, d), "text", wpMerges))
    val wv = WordPiece.vocabTokens(bpeTrainDocs(s, dir), "text", wm)
    val wpTotal = WordPiece.encode(docs, "doc_id", "text", wv)
      .agg(sum("n_pieces").cast("long").as("total_pieces"))
      .select(lit("wordpiece").as("tokenizer"), col("total_pieces"))
    val uv = UnigramLm.train(docs, "text", seedTop = l72SeedTop,
        vocabTop = l72VocabTop, iters = l72Iters)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    val ugTotal = UnigramLm.encode(docs, "doc_id", "text", uv)
      .agg(sum("n_pieces").cast("long").as("total_pieces"))
      .select(lit("unigram").as("tokenizer"), col("total_pieces"))
    bpeTotal.unionByName(wpTotal).unionByName(ugTotal)
      .crossJoin(chars)
      .select(col("tokenizer"), col("total_pieces"), col("total_chars"),
        (col("total_chars").cast("double") /
          col("total_pieces").cast("double")).as("chars_per_piece"))
  }, Some {
    // Each family total is referenced ONCE (plain cross join of the
    // one-row CTEs) and every family CTE is MATERIALIZED: the previous
    // form read `(SELECT p FROM ${name}_t)` twice per row, and DuckDB
    // versions that re-inline CTEs then computed each family's ENTIRE
    // encode mirror twice — the l66 disease; this mirror was 276 s of
    // the driver's round-16 oracle run. Result-identical (hints +
    // reference count only).
    def row(name: String) =
      s"""SELECT '$name' AS tokenizer, p AS total_pieces,
            total_chars,
            CAST(total_chars AS DOUBLE) /
              CAST(p AS DOUBLE) AS chars_per_piece
          FROM chars, ${name}_t"""
    s"""WITH chars AS MATERIALIZED (SELECT CAST(sum(length(w)) AS BIGINT)
            AS total_chars
          FROM (SELECT unnest(${wordsDuckSql("text")})
                  AS w FROM documents)),
        bpe_t AS MATERIALIZED (SELECT CAST(sum(bpe_total) AS BIGINT)
          AS p FROM (
          ${Bpe.oracleEncodeSql("text", bpeTrainFilter, bpeSplitCase,
            bpeMerges)}) q1),
        wordpiece_t AS MATERIALIZED (SELECT CAST(sum(n_pieces) AS BIGINT)
          AS p FROM (
          ${WordPiece.oracleEncodeSql("text", bpeTrainFilter,
            wpMerges)}) q2),
        unigram_t AS MATERIALIZED (SELECT CAST(sum(n_pieces) AS BIGINT)
          AS p FROM (
          $l72EncodeMirrorSql) q3)
        ${row("bpe")}
        UNION ALL ${row("wordpiece")}
        UNION ALL ${row("unigram")}"""
  })

  val defs: Seq[QueryDef] =
    Seq(l1, l2, l2b, l2bh, l2h, l3, l3p, l4, l5, l6, l6m, l6p, l7, l8, l9,
      l10,
      l11, l11p, l12, l12c, l12p, l12cp, l38,
      l13, l14, l14b, l15, l15b, l16, l17, l18, l19, l20, l21, l22, l23, l23h,
      l24,
      l24b, l25, l25b, l25s, l26, l26h, l27, l27b, l28, l29, l29h, l30,
      l30b, l30e,
      l30t, l30v, l31, l31s, l32, l33, l34, l35, l36, l37, l39, l40, l41,
      l41b, l42, l43, l44, l44p, l44r, l45, l46, l46p, l47, l48, l48p,
      l49,
      l51, l52, l52a,
      l53,
      l53r, l54, l54h, l55, l56, l57, l58, l59, l60, l61, l61c, l61h, l62,
      l63, l64, l65, l66, l67, l68, l69, l70, l70h, l71, l72, l72e,
      l73, l73e, l74, l75, l76, l77, l78, m1, m2, m3, m4, m5, m6)
}
