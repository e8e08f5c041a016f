package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Document deduplication for LLM training-data pipelines: exact,
  * n-gram-Jaccard, MinHash-LSH, and SimHash variants.
  *
  * Scale shapes (the whole point — none of these is all-pairs):
  *  - exact: one hash-shuffle on the content digest;
  *  - n-gram Jaccard: inverted-index blocking — pairs are generated only
  *    for documents sharing a shingle (a pair with J>0 necessarily shares
  *    one), then verified exactly;
  *  - MinHash-LSH: band buckets bound the candidate set; the signature is
  *    computed per-document in one pass, candidates verified exactly;
  *  - SimHash: constant-size fingerprint, near-dup = small Hamming
  *    distance, banded by fingerprint bytes.
  * No crossJoin appears in any plan.
  */
object Dedup {

  /** Whitespace-collapsed, trimmed, lowercased content (the normalization
    * applied before hashing/shingling).
    */
  def normalizeText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Exact dedup: sha-256 of normalized content, keep-min-id per group.
    * DuckDB mirror: sha256(regexp_replace(lower(trim(x)), '\s+', ' ', 'g')).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("content_hash", sha2(normalizeText(col(textCol)), 256))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental (cross-snapshot) dedup: flag each NEW-batch document
    * whose normalized content hash already exists in the standing
    * corpus — the daily-ingest path of a production crawler, where
    * dedup runs new-vs-existing instead of all-vs-all. One hash shuffle
    * join on the digest (the l1 shape); the existing side reduces to
    * DISTINCT hashes before the join, so the probe carries corpus
    * CARDINALITY, not corpus volume, and at 100 TB the standing side is
    * the precomputed hash index a snapshot pipeline would keep anyway.
    */
  def incrementalDupFlags(existing: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String): DataFrame =
    incrementalDupFlagsFromIndex(
      existing.select(
        sha2(normalizeText(col(textCol)), 256).as("content_hash")),
      batch, idCol, textCol)

  /** [[incrementalDupFlags]] against a PRE-HASHED index (a
    * `content_hash` column) — the entry point when the standing corpus
    * is represented by its maintained hash index (the streaming
    * delta-log state, or the precomputed index a snapshot pipeline
    * keeps) instead of re-hashing corpus text every run.
    */
  def incrementalDupFlagsFromIndex(index: DataFrame, batch: DataFrame,
                                   idCol: String,
                                   textCol: String): DataFrame = {
    val known = index.select("content_hash").distinct()
      .withColumn("__known", lit(1L))
    batch
      .select(col(idCol),
        sha2(normalizeText(col(textCol)), 256).as("content_hash"))
      .join(known, Seq("content_hash"), "left")
      .select(col(idCol),
        coalesce(col("__known"), lit(0L)).as("dup_of_existing"))
  }

  /** Distinct word-`n`-gram shingles of column `textCol`. Documents
    * shorter than `n` tokens yield an empty array (guarded: Spark's
    * sequence(1, 0) would count DOWN, not produce an empty range).
    *
    * The token array is bound ONCE as a lambda variable (the
    * transform-over-singleton trick): a naive expression that repeats the
    * tokenizer sub-expression gets it re-evaluated per shingle position
    * after Catalyst inlines projections — O(len^2) tokenization measured
    * 6.6s over 500 docs; this form is ~20x cheaper.
    */
  def shingles(textCol: String, n: Int): Column = expr(
    s"""element_at(transform(array(${TextAnalysis.tokensSql(textCol)}), ts ->
          IF(size(ts) < $n, array(),
             array_distinct(transform(sequence(1, size(ts) - ${n - 1}),
               i -> array_join(slice(ts, i, $n), ' '))))), 1)""")

  /** (doc, sh) shingle table, cached: the arrays feed several consumers
    * (the inverted index and the exact verification), and nothing else
    * would stop CollapseProject from inlining the whole tokenize+shingle
    * expression into each.
    */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    Barrier.filterAbove(
      df.select(col(idCol).as("doc"), shingles(textCol, n).as("sh")),
      size(col("sh")) > 0).cache()

  /** Exploded (doc, shingle) inverted index, with shingles whose document
    * frequency exceeds `maxDocFreq` dropped BEFORE any join. The cap is
    * the hot-shingle guard a 100 TB corpus needs: a boilerplate shingle
    * appearing in d documents contributes d^2/2 candidate pairs on its
    * own (a license header in 1M docs = 5*10^11 pairs from one shingle);
    * capping bounds every shingle's contribution at maxDocFreq^2/2 while
    * dropping only shingles so common they carry no discriminating
    * signal.
    */
  private def invertedIndex(sh: DataFrame, maxDocFreq: Int): DataFrame = {
    val inv = sh.select(col("doc"), explode(col("sh")).as("shingle"))
    if (maxDocFreq == Int.MaxValue) inv
    else {
      val hot = inv.groupBy("shingle").agg(count(lit(1)).as("doc_freq"))
        .filter(col("doc_freq") > maxDocFreq).select("shingle")
      inv.join(hot, Seq("shingle"), "left_anti")
    }
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing an index shingle. */
  private def candidatePairs(inv: DataFrame): DataFrame =
    inv.as("a")
      .join(inv.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()

  /** Bounded per-shingle doc collector for the capped candidate path:
    * keeps at most `cap + 1` ids, so a hot shingle's aggregation state
    * stays O(cap) however many documents share it — a plain collect_list
    * would buffer ALL of them before any size filter could drop the
    * group, which is exactly the unbounded-bucket OOM the cap exists to
    * prevent. Truncation cannot change the output: a group that
    * overflows cap+1 is over the cap and is dropped whole.
    */
  private final class BoundedDocs(cap: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.empty
    override def reduce(b: Array[Long], x: Long): Array[Long] =
      if (b.length > cap) b else b :+ x
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.length > cap) a
      else if (b.length > cap) b
      else {
        val m = a ++ b
        if (m.length > cap + 1) m.take(cap + 1) else m
      }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = BoundedDocs.enc
    override def outputEncoder: Encoder[Array[Long]] = BoundedDocs.enc
  }

  private object BoundedDocs {
    // derived once per JVM, catalyst-native (NOT Encoders.kryo: a kryo
    // buffer costs a fresh Kryo instantiation per task per aggregator —
    // see Audit.BoundedIds)
    val enc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Capped candidate pairs in ONE shuffle: group the exploded index per
    * shingle with the bounded collector, drop over-cap groups, emit each
    * surviving group's pairs map-side (fan-out bounded at cap^2/2 per
    * shingle). The alternative — count doc frequencies, anti-join the hot
    * set, then self-join — shuffles the exploded index three times;
    * measured ~2x slower at sf0.1 and strictly worse at scale.
    * Requires long doc ids (the Aggregator input type); callers fall back
    * to the anti-join + self-join path otherwise.
    */
  private def cappedCandidatePairs(sh: DataFrame,
                                   maxDocFreq: Int): DataFrame = {
    val collectDocs = udaf(new BoundedDocs(maxDocFreq), Encoders.scalaLong)
    sh.select(col("doc"), explode(col("sh")).as("shingle"))
      .groupBy("shingle").agg(collectDocs(col("doc")).as("docs"))
      .filter(size(col("docs")).between(2, maxDocFreq))
      .select(explode(expr(
        """filter(flatten(transform(docs, a ->
             transform(docs, b -> struct(a AS doc_a, b AS doc_b)))),
           p -> p.doc_a < p.doc_b)""")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  private def hasLongIds(sh: DataFrame): Boolean =
    sh.schema("doc").dataType == LongType

  /** Candidate pairs under the doc-frequency cap, picking the cheapest
    * physical shape available (see [[cappedCandidatePairs]]).
    */
  private def candidatesUnderCap(sh: DataFrame, maxDocFreq: Int): DataFrame =
    if (maxDocFreq != Int.MaxValue && hasLongIds(sh))
      cappedCandidatePairs(sh, maxDocFreq)
    else candidatePairs(invertedIndex(sh, maxDocFreq))

  /** Inverted-index candidate pairs for [[ngramJaccardPairs]], exposed so
    * the hot-shingle cap's candidate-set reduction is observable/testable
    * without running the verification stage.
    */
  def ngramCandidates(df: DataFrame, idCol: String, textCol: String,
                      n: Int, maxDocFreq: Int = Int.MaxValue): DataFrame =
    candidatesUnderCap(shingleTable(df, idCol, textCol, n), maxDocFreq)

  /** Exact near-dup pairs by `n`-gram Jaccard >= `threshold`, blocked on
    * shared shingles (inverted index self-join; complete because J > 0
    * implies a shared shingle). Output: (doc_a, doc_b, jaccard), a < b.
    *
    * `maxDocFreq` engages the hot-shingle cap (see [[invertedIndex]]):
    * candidate GENERATION ignores shingles shared by more than that many
    * documents, but every surviving candidate is verified against the
    * FULL shingle sets, so reported jaccard values are always exact. With
    * the cap, completeness weakens from "all pairs with J > 0" to "all
    * pairs sharing at least one non-hot shingle" — the standard trade: a
    * pair similar only through boilerplate is exactly the pair dedup
    * should not chase.
    *
    * Two physical paths, same values (DedupSpec pins them equal):
    *  - UNCAPPED: the index join itself counts shared shingles (one
    *    groupBy over the join output; only shingle sizes join in) —
    *    cheapest, since no shingle arrays travel through the shuffle;
    *  - CAPPED: the count over a filtered index would undercount, so
    *    candidates re-verify against the full arrays instead.
    *
    * `hashedShingles` is the 100 TB form: each doc's shingle set maps
    * once through xxhash64 before any shuffle, so the inverted-index
    * exchanges (and the capped path's verify arrays) carry 8-byte keys
    * instead of n-token strings. Jaccard is preserved exactly unless
    * two distinct shingles collide in 64 bits (~p^2/2^65 corpus-wide);
    * the default stays strings so l2's DuckDB oracle mirrors the
    * pipeline verbatim, and l2h pins the hashed path against the SAME
    * oracle.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDocFreq: Int = Int.MaxValue,
                        hashedShingles: Boolean = false): DataFrame = {
    val sh0 = shingleTable(df, idCol, textCol, n)
    val sh =
      if (hashedShingles)
        sh0.withColumn("sh", expr("transform(sh, t -> xxhash64(t))"))
      else sh0
    val jaccardOf =
      if (maxDocFreq == Int.MaxValue) {
        val sizes = sh.select(col("doc"),
          size(col("sh")).cast("long").as("n_sh"))
        invertedIndex(sh, maxDocFreq).as("a")
          .join(invertedIndex(sh, maxDocFreq).as("b"),
            col("a.shingle") === col("b.shingle") &&
              col("a.doc") < col("b.doc"))
          .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc").as("doc_a"),
            col("n_sh").as("n_a")), "doc_a")
          .join(sizes.select(col("doc").as("doc_b"),
            col("n_sh").as("n_b")), "doc_b")
          .withColumn("jaccard", col("inter").cast("double") /
            (col("n_a") + col("n_b") - col("inter")).cast("double"))
      } else {
        candidatesUnderCap(sh, maxDocFreq)
          .join(sh.select(col("doc").as("doc_a"),
            col("sh").as("sh_a")), "doc_a")
          .join(sh.select(col("doc").as("doc_b"),
            col("sh").as("sh_b")), "doc_b")
          .withColumn("inter",
            expr("intersect_count(sh_a, sh_b)"))
          .withColumn("jaccard", col("inter").cast("double") /
            (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")
              - col("inter")).cast("double"))
      }
    jaccardOf.filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact near-dup pairs by `n`-gram Jaccard >= `threshold` via PREFIX
    * FILTERING (AllPairs / PPJoin: Bayardo et al. WWW'07, Xiao et al.
    * WWW'08) — the COMPLETE scale path that [[ngramJaccardPairs]]'s
    * `maxDocFreq` cap only approximates. The cap buys a bounded
    * candidate volume by dropping hot shingles, weakening recall to
    * "pairs sharing a non-hot shingle"; the prefix filter gets a far
    * smaller candidate set WITHOUT losing a single true pair:
    *
    *  - order every document's shingle set by a global total order
    *    (document frequency ascending, shingle as tiebreak — rarest
    *    first, the order that makes prefixes selective);
    *  - a document with `m` shingles needs overlap `t = ceil(tau*m)`
    *    with any valid partner (J >= tau implies inter >= tau*union >=
    *    tau*m), so by pigeonhole two qualifying documents MUST collide
    *    within their first `m - t + 1` shingles — index only that
    *    prefix;
    *  - the candidate join adds the length filter (J >= tau implies
    *    tau*m_a <= m_b <= m_a/tau), and every candidate is verified
    *    against the FULL shingle sets, so precision is exact and
    *    completeness is the theorem above.
    *
    * The registered l54 query pins that theorem cross-engine every
    * round: its DuckDB oracle is the plain quadratic Jaccard join — a
    * hash match IS a proof that prefix filtering lost nothing on that
    * corpus. `ceil(tau*m)` is computed with a 1e-9 slack so a float
    * rounding error can only LENGTHEN a prefix (extra candidates),
    * never shorten one (lost pairs).
    *
    * Scale shape: df count (one combinable groupBy), prefix selection
    * (one per-doc window — partitions are doc-sized, never corpus-
    * sized), prefix self-join (the candidate volume bound: hot shingles
    * sit at the END of the order, so they are indexed only by docs
    * whose prefix reaches them — a df=10^6 boilerplate shingle
    * generates ~zero candidates instead of 5*10^11), then an
    * intersect_count verify per candidate. `hashedShingles` maps
    * shingles through xxhash64 before any shuffle (8-byte keys; the
    * global order becomes (df, hash) — completeness holds under ANY
    * total order).
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
                               textCol: String, n: Int, threshold: Double,
                               hashedShingles: Boolean = false): DataFrame = {
    val (sh, cand) = prefixStage(df, idCol, textCol, n, threshold,
      hashedShingles)
    verifiedJaccard(cand, sh, threshold)
  }

  /** CONTAINMENT (asymmetric-Jaccard) join: ordered pairs (a, b) with
    * `|Sa ∩ Sb| / |Sa| >= threshold` — a's shingle set tau-contained in
    * b's. This catches exactly what symmetric Jaccard REJECTS through
    * its length filter: a paragraph quoted inside a 100x-longer page,
    * a doc re-published with a long appendix, boilerplate-wrapped
    * content — `J = inter/union` vanishes as the container grows while
    * containment stays 1. The directional output (`doc_a` contained,
    * `doc_b` container) is what a dedup policy needs: kill or flag the
    * CONTAINED side.
    *
    * Blocking is the asymmetric prefix filter (the l54 theorem, one-
    * sided): a needs overlap `t = ceil(tau*|Sa|)` with ANY container,
    * so if none of a's rarest-first `|Sa| - t + 1` shingles is in Sb,
    * the overlap is at most t-1 — probe a's PREFIX against b's FULL
    * inverted list (the container side cannot be prefix-shortened: no
    * upper length bound exists for it, unlike Jaccard's two-sided
    * filter). The only cheap container-side condition is
    * `|Sb| >= t` (it must hold the intersection). Every candidate is
    * verified against full sets, so precision is exact and
    * completeness is the pigeonhole above — the l61 oracle (plain
    * quadratic containment join) re-proves it cross-engine every
    * round. `ceil` carries the 1e-9 slack so float rounding can only
    * LENGTHEN a prefix. Exact duplicates emit BOTH directions by
    * design.
    *
    * Scale shape: probe side = short rarest-first prefixes (candidate
    * volume bounded by the df of a's rarest shingles); index side =
    * the inverted index every shingle operator already builds; 8-byte
    * keys under `hashedShingles`. The honest caveat l54 carries
    * applies: a corpus whose rare shingles are still hot (literal
    * replication) fattens candidates — measured in SCALE_r12 §25.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       hashedShingles: Boolean = false): DataFrame = {
    val (sh, cand) = containmentStage(df, idCol, textCol, n, threshold,
      hashedShingles)
    verifyContainment(sh, cand, threshold)
  }

  /** [[containmentPairs]] over the DF-CAPPED shingle universe — the
    * l2b treatment for the containment family's one honest weak spot:
    * the container-side inverted list has no df cap by completeness
    * (no upper length bound exists for containers), so a stop-shingle
    * present in most docs — a universal boilerplate line, a legal
    * footer — lands its full df in one inverted-list key and the
    * candidate join fans out df(hot)·(probing prefixes) wide
    * (measured: SCALE_r13 hot-shingle row). This variant REDEFINES the
    * semantics the capped-Jaccard way: shingles with df > `maxDf` are
    * removed from every document's set BEFORE m, t, prefix, and the
    * verify are computed, so the result is EXACT containment over the
    * sub-cap universe. The tradeoff is explicit and spec-pinned: a
    * containment witnessed ONLY by super-cap shingles is invisible
    * here (it is also exactly the pair class that is boilerplate, not
    * content); rare-shingle-witnessed pairs are identical to the
    * uncapped operator's.
    */
  def containmentPairsCapped(df: DataFrame, idCol: String,
                             textCol: String, n: Int, threshold: Double,
                             maxDf: Long,
                             hashedShingles: Boolean = false): DataFrame = {
    val (sh, cand) = containmentStage(df, idCol, textCol, n, threshold,
      hashedShingles, maxDf)
    verifyContainment(sh, cand, threshold)
  }

  private def verifyContainment(sh: DataFrame, cand: DataFrame,
                                threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(sh.select(col("doc").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .withColumn("inter", expr("intersect_count(sh_a, sh_b)"))
      .withColumn("containment", col("inter").cast("double") /
        size(col("sh_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")

  private def sh0Inv(shAll: DataFrame): DataFrame =
    shAll.select(col("doc"), size(col("sh")).cast("long").as("m"),
      explode(col("sh")).as("shingle"))

  private def containmentStage(df: DataFrame, idCol: String,
                               textCol: String, n: Int, threshold: Double,
                               hashedShingles: Boolean,
                               maxDf: Long = 0L)
      : (DataFrame, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh0 = shingleTable(df, idCol, textCol, n)
    val shAll =
      if (hashedShingles)
        sh0.withColumn("sh", expr("transform(sh, t -> xxhash64(t))"))
      else sh0
    // df cap (maxDf > 0): restrict the universe FIRST, then rebuild
    // per-doc sets/sizes so m, t, prefix and verify all agree on the
    // same (sub-cap) universe — exactness within it, the l2b contract.
    // The uncapped path keeps its original shape: m carried inline
    // from the array column, dfreq joined onto the PROBE side only
    // (the container-side inverted list never pays the dfreq join).
    val (sh, inv, prefixSrc) =
      if (maxDf > 0L) {
        val invAll = shAll.select(col("doc"),
          explode(col("sh")).as("shingle"))
        val kept = invAll.join(
          invAll.groupBy("shingle").agg(count(lit(1)).as("dfreq"))
            .filter(col("dfreq") <= maxDf), Seq("shingle"))
        val shC = kept.groupBy("doc")
          .agg(sort_array(collect_list(col("shingle"))).as("sh"))
        val sized = kept.join(shC.select(col("doc"),
          size(col("sh")).cast("long").as("m")), Seq("doc"))
        (shC, sized.select("doc", "m", "shingle"), sized)
      } else {
        val inv0 = sh0Inv(shAll)
        (shAll, inv0,
          inv0.join(inv0.groupBy("shingle")
            .agg(count(lit(1)).as("dfreq")), Seq("shingle")))
      }
    val t = ceil(lit(threshold) * col("m") - lit(1e-9)).cast("long")
    val p = col("m") - t + lit(1L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("dfreq"), col("shingle"))
    val prefix = prefixSrc
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= p)
      .select("doc", "m", "shingle")
    val cand = prefix.as("a").join(inv.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc") =!= col("b.doc") &&
          col("b.m") >=
            ceil(lit(threshold) * col("a.m") - lit(1e-9)).cast("long"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    (sh, cand)
  }

  /** Candidate pairs of [[prefixFilterJaccardPairs]] (before the exact
    * verify), exposed so the prefix filter's candidate-set reduction vs
    * the full inverted index is observable/testable.
    */
  def prefixFilterCandidates(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double,
                             hashedShingles: Boolean = false): DataFrame =
    prefixStage(df, idCol, textCol, n, threshold, hashedShingles)._2

  /** (shingle table, candidate pairs) for the prefix-filter family. */
  private def prefixStage(df: DataFrame, idCol: String, textCol: String,
                          n: Int, threshold: Double,
                          hashedShingles: Boolean): (DataFrame, DataFrame) = {
    val sh0 = shingleTable(df, idCol, textCol, n)
    val sh =
      if (hashedShingles)
        sh0.withColumn("sh", expr("transform(sh, t -> xxhash64(t))"))
      else sh0
    val inv = sh.select(col("doc"), size(col("sh")).cast("long").as("m"),
      explode(col("sh")).as("shingle"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("dfreq"))
    // prefix length p = m - ceil(tau*m) + 1 (slack: see scaladoc)
    val p = (col("m") - ceil(lit(threshold) * col("m") - lit(1e-9))
      .cast("long") + lit(1L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("dfreq"), col("shingle"))
    val prefix = inv.join(dfreq, Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= p)
      .select("doc", "m", "shingle")
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc") < col("b.doc") &&
          col("b.m") >= lit(threshold) * col("a.m") - lit(1e-9) &&
          col("a.m") >= lit(threshold) * col("b.m") - lit(1e-9))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    (sh, cand)
  }

  /** MinHash-LSH near-dup candidates, verified with exact Jaccard.
    *
    * bands x rowsPerBand = k. A pair collides if any band of their
    * signatures matches exactly; collision probability is 1-(1-J^r)^b, so
    * at 16x4 a J=0.5 pair is caught w.p. ~0.67 and J=0.8 w.p. ~0.999.
    * Candidates (bounded by bucket joins, never all-pairs) are verified
    * against true shingle-set Jaccard, so precision is exact and only
    * recall is probabilistic — DedupSpec pins recall against
    * [[ngramJaccardPairs]] on the testdata.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.2): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, n)
    // signature via explode + k min-aggregates — one shuffle on doc id,
    // map-side partial mins keep the exchange tiny. Each shingle STRING
    // is hashed exactly once (xxhash64), then the k permutations re-hash
    // that fixed-width LONG (xxhash64(i, h)): k constant-width hashes per
    // shingle instead of k variable-length string traversals. (Affine
    // maps would be cheaper still, but long multiplication overflows
    // under ANSI mode. An array-expression signature column would be
    // worse: CollapseProject inlines it into every downstream reference
    // and recomputes the k x |shingles| hash tensor per reference.)
    val exploded = sh.select(col("doc"), explode(col("sh")).as("shingle"))
      .withColumn("h", xxhash64(col("shingle")))
    val banded = bandedFromHashes(exploded, bands, rowsPerBand)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // exact verification of the bounded candidate set
    verifiedJaccard(cand, sh, threshold)
  }

  /** MinHash signatures + LSH (band, bucket) rows from the exploded
    * per-shingle hash stream `(doc, h)`: k = bands x rowsPerBand
    * min-aggregates (one doc-keyed shuffle, map-side partial mins),
    * then the per-band bucket fold. Shared by [[minHashLshPairs]] and
    * the STREAMING near-dup index
    * ([[graft.streaming.StreamOps.nearDupIndexForeachBatch]]), so
    * batch and streamed candidate generation are value-identical by
    * construction — the streamed store keeps 8-byte shingle hashes and
    * re-derives nothing.
    */
  private[graft] def bandedFromHashes(exploded: DataFrame, bands: Int,
                                      rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val minAggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"h$i"))
    val sig = exploded.groupBy("doc").agg(minAggs.head, minAggs.tail: _*)
    sig.select(col("doc"),
      posexplode(expr((0 until bands).map { b =>
        val slice = (0 until rowsPerBand)
          .map(r => s"h${b * rowsPerBand + r}").mkString(", ")
        s"xxhash64($b, array($slice))"
      }.mkString("array(", ", ", ")"))).as(Seq("band", "bucket")))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the full shingle table: the common final stage of every blocked
    * near-dup variant (LSH recall is probabilistic, precision is made
    * exact here).
    */
  private[graft] def verifiedJaccard(cand: DataFrame, sh: DataFrame,
                                     threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter",
        expr("intersect_count(sh_a, sh_b)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Constants of the PORTABLE MinHash ([[minHashLshPairsPortable]]):
    * affine permutations (a_i * h + b_i) mod P over the polynomial
    * shingle hash, with coefficients any engine can recompute — the
    * DuckDB oracle mirrors every step, so the WHOLE LSH pipeline is
    * hash-checkable cross-engine (unlike xxhash64, which only Spark
    * implements). P is the same 2^30-scale prime as
    * [[portableTokenHash]]: products a_i * h stay under 2^60, safely
    * inside BIGINT on both engines.
    */
  object Portable {
    val P = 1073741789L
    def aCoef(i: Int): Long = (i.toLong * 2654435761L + 1L) % P
    def bCoef(i: Int): Long = (i.toLong * 40503L + 7L) % P
    /** Left-fold band hash over signature column names, mod P at every
      * step (same SQL text works in Spark and DuckDB).
      */
    def bucketFold(hs: Seq[String]): String =
      hs.tail.foldLeft(hs.head)((acc, h) => s"(($acc * 31 + $h) % $P)")
  }

  /** [[minHashLshPairs]] with PORTABLE permutations (see [[Portable]]):
    * the same explode/aggregate signature shape, band fold, bucket join
    * and exact verification, but every hash is reproducible in plain SQL
    * — registered as l3p with a full DuckDB oracle. xxhash64 stays the
    * default for production (one multiply-free hash per element vs a
    * per-character fold); this variant is the cross-engine-checkable
    * sibling, and its recall obeys the same 1-(1-J^r)^b law.
    */
  def minHashLshPairsPortable(df: DataFrame, idCol: String, textCol: String,
                              n: Int = 3, bands: Int = 16,
                              rowsPerBand: Int = 4,
                              threshold: Double = 0.2): DataFrame = {
    import Portable._
    val k = bands * rowsPerBand
    val sh = shingleTable(df, idCol, textCol, n)
    val exploded = sh.select(col("doc"), explode(col("sh")).as("shingle"))
      .withColumn("h", expr(portableTokenHash("shingle")))
    val minAggs = (0 until k).map(i =>
      min((lit(aCoef(i)) * col("h") + lit(bCoef(i))) % lit(P)).as(s"h$i"))
    val sig = exploded.groupBy("doc").agg(minAggs.head, minAggs.tail: _*)
    val banded = sig.select(col("doc"),
      posexplode(expr((0 until bands).map { b =>
        bucketFold((0 until rowsPerBand).map(r => s"h${b * rowsPerBand + r}"))
      }.mkString("array(", ", ", ")"))).as(Seq("band", "bucket")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, sh, threshold)
  }

  /** Benchmark decontamination: for each document of `corpus`, the
    * maximum `n`-gram overlap ratio against ANY document of `benchmark`
    * (|shared shingles| / |benchmark doc's shingles|). Training docs with
    * high overlap against an eval set get dropped before training.
    *
    * Same inverted-index blocking as [[ngramJaccardPairs]], across two
    * corpora: candidates only where a shingle is shared, never all-pairs.
    *
    * `maxDocFreq` caps shingles by their CORPUS document frequency before
    * the cross-corpus join (the blowup term is |corpus docs with shingle|
    * x |benchmark docs with shingle|); surviving (doc, bdoc) candidates
    * are verified against full shingle sets, so overlap ratios stay
    * exact.
    */
  def contaminationScores(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          n: Int,
                          maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val cSh = shingleTable(corpus, idCol, textCol, n)
    val bSh = Barrier.filterAbove(
      benchmark.select(col(idCol).as("bdoc"),
        shingles(textCol, n).as("bsh")),
      size(col("bsh")) > 0).cache()
    val cInv = invertedIndex(cSh, maxDocFreq)
    val bInv = bSh.select(col("bdoc"), explode(col("bsh")).as("shingle"))
    // Same two physical paths as [[ngramJaccardPairs]]: uncapped, the
    // index join's group-count IS the exact shared-shingle count (shingle
    // arrays are distinct), so no full arrays travel through the shuffle;
    // capped, the filtered index would undercount, so the surviving
    // candidates re-verify against the full shingle sets.
    val overlaps =
      if (maxDocFreq == Int.MaxValue) {
        val bSizes = bSh.select(col("bdoc"),
          size(col("bsh")).cast("long").as("n_b"))
        cInv.join(bInv, "shingle")
          .groupBy("doc", "bdoc").agg(count(lit(1)).as("shared"))
          .join(bSizes, "bdoc")
          .withColumn("overlap", col("shared").cast("double") / col("n_b"))
      } else {
        cInv.join(bInv, "shingle")
          .select("doc", "bdoc").distinct()
          .join(cSh, "doc")
          .join(bSh, "bdoc")
          .withColumn("shared",
            expr("intersect_count(sh, bsh)"))
          .withColumn("overlap",
            col("shared").cast("double") / size(col("bsh")).cast("long"))
      }
    overlaps.groupBy("doc").agg(max("overlap").as("max_overlap"))
  }

  /** [[contaminationScores]] (uncapped form) with a BROADCAST BLOOM
    * PREFILTER on the corpus side — the 100 TB shape when the benchmark
    * index outgrows the broadcast-join threshold. At full-eval-suite
    * decontamination scale the benchmark side is ~10^7 shingles: too
    * big for a broadcast hash join, so the corpus⋈benchmark index join
    * becomes a shuffle that moves EVERY corpus shingle (trillions of
    * rows whose overwhelming majority match nothing). The fix is one
    * driver-built bloom filter over the benchmark shingle hashes
    * (16 bits/key at fpp 3% — ~20 MB for 10^7 keys, task-broadcast as
    * a plan reference), applied map-side to the exploded corpus
    * shingles BEFORE the exchange: only (rare true matches + fpp of
    * the rest) ever shuffle. False positives just fail the exact join
    * that follows, so the result is IDENTICAL to [[contaminationScores]]
    * — l15b registers under l15's oracle SQL unchanged.
    *
    * Two benchmark-bounded jobs run at construction (size estimate +
    * filter build — the `df.stat.bloomFilter` contract); the corpus
    * side stays fully lazy.
    */
  def contaminationScoresBloom(corpus: DataFrame, benchmark: DataFrame,
                               idCol: String, textCol: String,
                               n: Int, fpp: Double = 0.03): DataFrame = {
    val cSh = shingleTable(corpus, idCol, textCol, n)
    val bSh = Barrier.filterAbove(
      benchmark.select(col(idCol).as("bdoc"),
        shingles(textCol, n).as("bsh")),
      size(col("bsh")) > 0)
    // cache ONLY across the two construction-time jobs (key count +
    // filter build), then release before returning: the returned lazy
    // plan re-shingles the benchmark side twice (bInv join + bSizes),
    // which is benchmark-bounded and cheap, whereas a cache entry with
    // no owner outlives every action on the result (the round-11 leak)
    bSh.cache()
    val bInv = bSh.select(col("bdoc"), explode(col("bsh")).as("shingle"))
    val bf =
      try {
        val nKeys = math.max(1L, bInv.count())
        bInv.select(xxhash64(col("shingle")).as("h"))
          .stat.bloomFilter("h", nKeys, fpp)
      } finally bSh.unpersist(blocking = false)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val cInv = invertedIndex(cSh, Int.MaxValue)
      .filter(call_function("bloom_might_contain",
        lit(bytes), xxhash64(col("shingle"))))
    val bSizes = bSh.select(col("bdoc"),
      size(col("bsh")).cast("long").as("n_b"))
    cInv.join(bInv, "shingle")
      .groupBy("doc", "bdoc").agg(count(lit(1)).as("shared"))
      .join(bSizes, "bdoc")
      .withColumn("overlap", col("shared").cast("double") / col("n_b"))
      .groupBy("doc").agg(max("overlap").as("max_overlap"))
  }

  /** Cross-document duplicated-SPAN removal — exact substring dedup in
    * the sense of Lee et al. 2021 (arXiv:2107.06499, "Deduplicating
    * Training Data Makes Language Models Better"): any window of `n`
    * tokens that occurs verbatim in MORE THAN ONE document is flagged,
    * and every token position covered by a flagged window is dropped
    * from the document. For duplicated regions of length >= n tokens
    * this marks exactly the positions a suffix-array pass would (every
    * length-n window inside such a region is itself cross-duplicated),
    * without building the suffix array: the distributed shape is the l2
    * inverted-index pattern — one explode of the n-token windows, one
    * groupBy(gram) with a distinct-doc count, one join back; per-doc
    * array work is bounded by document length. No pairwise comparison
    * anywhere.
    *
    * `hashedGramKeys` is the 100 TB form: the gram strings become
    * 64-bit xxhash64 keys BEFORE the aggregate/join shuffles, so the
    * two gram exchanges carry 8-byte keys instead of n-token strings
    * (~9x fewer shuffle bytes measured at sf5 — SCALE_r08.md). Output
    * is identical to the string path unless two distinct grams collide
    * in 64 bits (~p^2/2^65 for p grams; at p = 10^12 odds ~3%, and a
    * collision merely flags one extra window) — the default stays
    * strings so the registry's l23 mirrors the DuckDB oracle verbatim,
    * and l23h pins the hashed path against the SAME oracle. Unlike
    * l2's Jaccard verify, a hot boilerplate gram costs O(1)
    * aggregation state (the reduction is a count, not a pair list), so
    * no l2b-style cap is needed on this operator.
    *
    * Reference scope: the reference's dedup is row-identity
    * (`etl_transform.py`); this is a training-data-pipeline extension
    * in the l2/l3 family.
    *
    * @return per input doc: `n_tokens`, `n_dup_positions` (token
    *         positions covered by a cross-doc duplicated window),
    *         `dup_ratio`, and `clean_text` (whitespace-normalized text
    *         with covered positions removed).
    */
  def dupSpanRemoval(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, hashedGramKeys: Boolean = false): DataFrame = {
    val toks = spanToks(docs, idCol, textCol)
    val grams = spanGrams(toks, n, hashedGramKeys)
    val dupGrams = grams.groupBy("gk")
      .agg(countDistinct(col("doc")).as("nd"))
      .filter(col("nd") >= 2).select("gk")
    val flagged = grams.join(dupGrams, Seq("gk"))
      .groupBy("doc")
      .agg(sort_array(array_distinct(collect_list(col("pos"))))
        .as("starts"))
    spanAssemble(toks, flagged, idCol, n)
  }

  /** (doc, tk, n_tokens) token table shared by [[dupSpanRemoval]] and
    * the streaming span index. */
  private[graft] def spanToks(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      TextAnalysis.tokens(textCol).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))

  /** (doc, pos, gk) n-token window keys of every doc with >= n tokens.
    * The key is computed BEFORE any shuffle, so the hashed form never
    * moves a gram string off its map side. */
  private[graft] def spanGrams(toks: DataFrame, n: Int,
                               hashedGramKeys: Boolean): DataFrame =
    toks.filter(col("n_tokens") >= n)
      .select(col("doc"), posexplode(expr(
        s"""transform(sequence(1, size(tk) - ${n - 1}),
              i -> array_join(slice(tk, i, $n), ' '))"""))
        .as(Seq("p0", "gram")))
      .select(col("doc"), (col("p0") + 1).as("pos"),
        (if (hashedGramKeys) xxhash64(col("gram")) else col("gram"))
          .as("gk"))

  /** Per-doc flag/clean assembly from flagged window starts — the
    * decision rule (what counts as a duplicated window) is the
    * caller's; coverage math and reassembly are shared. */
  private[graft] def spanAssemble(toks: DataFrame, flagged: DataFrame,
                                  idCol: String, n: Int): DataFrame =
    toks.join(flagged, Seq("doc"), "left")
      .withColumn("starts",
        coalesce(col("starts"), expr("CAST(array() AS array<int>)")))
      .withColumn("covered", expr(
        s"""array_sort(array_distinct(flatten(
              transform(starts, p -> sequence(p, p + ${n - 1})))))"""))
      .select(
        col("doc").as(idCol),
        col("n_tokens"),
        size(col("covered")).cast("long").as("n_dup_positions"),
        when(col("n_tokens") === 0, lit(0.0d))
          .otherwise(size(col("covered")).cast("double") /
            col("n_tokens")).as("dup_ratio"),
        // n_tokens=0 guard: Spark's sequence(1, 0) is the DESCENDING
        // [1, 0] (not empty like DuckDB's range), and element_at would
        // then throw under ANSI — an empty doc must clean to ''
        when(col("n_tokens") === 0, lit(""))
          .otherwise(expr("""array_join(transform(
            filter(sequence(1, CAST(n_tokens AS INT)),
                   i -> NOT array_contains(covered, i)),
            i -> element_at(tk, i)), ' ')""")).as("clean_text"))

  /** LINE-frequency boilerplate removal — the CCNet/RefinedWeb cleaning
    * step (Wenzek et al. 2019; Penedo et al. 2023): split every
    * document into lines, count how many DISTINCT documents each exact
    * line occurs in across the corpus, and drop lines whose document
    * frequency exceeds `maxDocFreq` — navigation menus, cookie
    * banners, copyright footers and share buttons repeat across
    * thousands of pages while genuine content lines are (near-)unique.
    * This is a different decision rule from [[dupSpanRemoval]]: spans
    * are killed by ANY cross-doc duplication (dedup), lines only by
    * exceeding a frequency threshold (boilerplate), so a legitimately
    * quoted passage in 2 documents survives here.
    *
    * Mechanics: split on the LITERAL `delim` (Pattern.quote — callers
    * pass "\n", not a regex), posexplode with the line index, one
    * combinable distinct-doc count per line key, then an anti-join
    * shape: only OVER-threshold lines come back (the `hot` frame — by
    * the boilerplate hypothesis a tiny fraction of distinct lines), a
    * left join marks survivors, and per-doc reassembly is a bounded
    * collect_list sorted by position. `hashedLineKeys` is the 100 TB
    * form (8-byte xxhash64 keys through both shuffles; the default
    * stays strings so the l59 oracle mirrors every step verbatim).
    *
    * Scale shape: two line-keyed exchanges (count + hot join — the
    * second carries only hot keys against the line table; AQE
    * broadcasts the hot side when it is as small as boilerplate makes
    * it) and one doc-keyed reassembly bounded by document length. A
    * 10^6-doc boilerplate line costs O(1) aggregation state — a count,
    * not a pair list — the same property that lets [[dupSpanRemoval]]
    * skip hot-key caps.
    *
    * @return per input doc: `n_lines`, `n_kept_lines`, `clean_text`
    *         (kept lines re-joined by `delim` in original order; a doc
    *         whose every line is boilerplate cleans to '').
    */
  def lineFrequencyFilter(docs: DataFrame, idCol: String, textCol: String,
                          maxDocFreq: Long, delim: String = "\n",
                          hashedLineKeys: Boolean = false): DataFrame = {
    val lines = lineTable(docs, idCol, textCol, delim, hashedLineKeys)
    lineFilterAgainst(lines, lineDocFreq(lines), maxDocFreq, delim, idCol)
  }

  /** (doc, pos, line, lk) line table of a corpus — the shared first
    * stage of the one-shot filter and the streaming line-frequency
    * state ([[graft.streaming.StreamOps.lineFreqForeachBatch]]). The
    * key is computed BEFORE any shuffle (the dupSpanRemoval trick).
    */
  private[graft] def lineTable(docs: DataFrame, idCol: String,
                               textCol: String, delim: String,
                               hashedLineKeys: Boolean): DataFrame =
    docs
      .select(col(idCol).as("doc"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("p0", "line")))
      .select(col("doc"), col("p0").cast("long").as("pos"), col("line"),
        (if (hashedLineKeys) xxhash64(col("line")) else col("line"))
          .as("lk"))

  /** Per-line-key distinct-doc frequency (`lk`, `line_df`) — one
    * combinable aggregate.
    */
  private[graft] def lineDocFreq(lines: DataFrame): DataFrame =
    lines.groupBy("lk").agg(countDistinct(col("doc")).as("line_df"))

  /** Apply the boilerplate decision against an EXTERNAL frequency
    * table (`lk`, `line_df`) — the streaming consumer passes its
    * standing folded state here; the one-shot form passes its own
    * corpus frequency.
    */
  private[graft] def lineFilterAgainst(lines: DataFrame, freq: DataFrame,
                                       maxDocFreq: Long, delim: String,
                                       idCol: String): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val hot = freq.filter(col("line_df") > maxDocFreq)
      .select(col("lk"), lit(1L).as("__hot"))
    lines.join(hot, Seq("lk"), "left")
      .withColumn("keep", col("__hot").isNull)
      .groupBy("doc")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("keep").cast("long")).as("n_kept_lines"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          delim).as("clean_text"))
      .withColumnRenamed("doc", idCol)
  }

  /** Portable 31-polynomial hash of lambda-var token `t`, mod a prime —
    * deliberately NOT xxhash64: the DuckDB oracle reproduces it with
    * list_reduce, so SimHash/portable-MinHash results are cross-engine
    * checkable. Resolves to the native codegen'd
    * [[graft.plans.PolyHash]] (one compiled loop per string; the SQL
    * higher-order fold it replaces interpreted a lambda per CHARACTER,
    * dominating every portable-hash operator).
    */
  private def portableTokenHash(t: String): String = s"poly_hash($t)"

  /** 16-bit SimHash over frequency-weighted tokens of column `textCol`:
    * bit j is set iff the sum over tokens of (bit j of the portable hash
    * ? +1 : -1) is positive. Token hashes are bound once as a lambda
    * variable (same trick as [[shingles]]) so the char-level hash fold
    * runs once per token, not once per (token, bit).
    */
  def simHash16(textCol: String): Column = expr(
    s"""element_at(transform(
          array(transform(${TextAnalysis.tokensSql(textCol)},
                t -> ${portableTokenHash("t")})),
          hs -> aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, j) ->
            acc + IF(
              aggregate(hs, CAST(0 AS BIGINT), (v, h) ->
                v + IF((h DIV CAST(power(2, j) AS BIGINT)) % 2 = 1,
                       1, -1)) > 0,
              CAST(power(2, j) AS BIGINT), CAST(0 AS BIGINT)))), 1)""")

  /** The PassJoin SEGMENT keys of a (doc, txt, len) frame: one
    * `xxhash64(i, len, segment)` per segment — the indexed side.
    * Shared by the batch join and the streaming index
    * (StreamOps.edDistIndexForeachBatch), which also PERSISTS them as
    * its standing state.
    */
  private[graft] def passSegments(base: DataFrame, k: Int): DataFrame = {
    val kp1 = k + 1
    base.filter(col("len") >= kp1)
      .select(col("doc"), col("txt"), col("len"),
        posexplode(expr(
          s"""transform(sequence(0, $k), i -> named_struct(
              'st', i * (len DIV $kp1)
                    + greatest(0, i - ($kp1 - len % $kp1)) + 1,
              'sl', (len DIV $kp1)
                    + IF(i >= $kp1 - len % $kp1, 1, 0)))"""))
          .as(Seq("i", "seg")))
      .select(col("doc"),
        xxhash64(col("i"), col("len"),
          expr("substring(txt, seg.st, seg.sl)")).as("key"))
  }

  /** The PassJoin PROBE keys of a (doc, txt, len) frame: for every
    * (segment index i, length gap in [0, k], shift d in the exact
    * |d| + |gap - d| <= k window), `xxhash64(i, len - gap, substring)`
    * — the keys that hit a (shorter-or-equal) partner's segment when
    * the pair is within edit distance k. Shared with the streaming
    * index, where the SYMMETRIC theorem (a segment of the shorter side
    * also survives in the longer) makes persisted probe keys the way a
    * new arrival finds its LONGER standing partners without rescanning
    * them.
    */
  private[graft] def passProbes(base: DataFrame, k: Int): DataFrame = {
    val kp1 = k + 1
    base.filter(col("len") >= kp1)
      .select(col("doc"), col("txt"), col("len"),
        explode(expr(s"sequence(0, $k)")).as("i"))
      .select(col("doc"), col("txt"), col("len"), col("i"),
        explode(expr(s"sequence(0, $k)")).as("gap"))
      .filter(col("len") - col("gap") >= kp1)
      .withColumn("pl", expr(s"(len - gap) DIV $kp1"))
      .withColumn("pr", expr(s"(len - gap) % $kp1"))
      .withColumn("sl", expr(s"pl + IF(i >= $kp1 - pr, 1, 0)"))
      .withColumn("p",
        expr(s"i * pl + greatest(0, i - ($kp1 - pr)) + 1"))
      .select(col("doc"), col("txt"), col("len"), col("i"),
        col("gap"), col("sl"), col("p"),
        explode(expr(
          s"sequence(-(($k - gap) DIV 2), (gap + $k) DIV 2)")).as("d"))
      .withColumn("start", col("p") + col("d"))
      .filter(col("start") >= 1 &&
        col("start") + col("sl") - 1 <= col("len"))
      .select(col("doc"),
        xxhash64(col("i"), col("len") - col("gap"),
          expr("substring(txt, start, sl)")).as("key"))
  }

  /** The length-bucket short-tier candidates among documents with
    * len <= 2k+1 (partners of sub-(k+1) docs all land there): bucket
    * width k+1, the probe side fans to the 3 adjacent buckets — an
    * equi-join, no cartesian, no nested loop. Shared by the batch join
    * and the streaming index.
    */
  private[graft] def shortTierCandidates(base: DataFrame,
                                         k: Int): DataFrame = {
    val shorts = base.filter(col("len") <= 2 * k + 1)
      .withColumn("bkt", floor(col("len") / (k + 1)))
    val sprobe = shorts.select(col("doc"), col("len"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    sprobe.as("a")
      .join(shorts.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.doc") < col("b.doc") &&
          abs(col("a.len") - col("b.len")) <= k)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
  }

  /** PassJoin edit-distance similarity join (Li, Deng & Feng, ICDE
    * 2011): every pair of documents (id_a < id_b) with
    * `levenshtein(text_a, text_b) <= k`, with its distance, found
    * WITHOUT an all-pairs comparison and with EXACT recall — the
    * blocking is a theorem, not a heuristic. Segment keys, not q-grams:
    * fixed-length grams on text built from a shared vocabulary carry no
    * rarity at any q, so q-gram prefix signatures go hot on
    * self-similar corpora (SCALE_r12 §18: 94 s / 24 GB spill at 260k
    * docs against 11 s / no spill here).
    *
    * Exact-recall blocking by the segment pigeonhole: split every
    * document into k+1 contiguous segments (lengths len/(k+1) rounded,
    * LAST len mod (k+1) segments one char longer). k edits transforming
    * a into b touch at most k of a's k+1 segments, so some segment
    * survives VERBATIM as a substring of b, shifted by the net
    * insert/delete balance before it: shift d satisfies
    * |d| + |Δ - d| <= k with Δ = len_b - len_a (prefix edits produce
    * |d| of it, suffix edits must absorb the remaining Δ - d).
    *
    * Plan shape: the index is (k+1) segment keys per document —
    * xxhash64(i, len, segment) so a key only matches probes aimed at
    * exactly this segment index AND this partner length; the probe
    * side enumerates, per document, each (segment index i, length gap
    * Δ in [0, k], shift d in the exact window above) and emits the
    * hashed substring at the arithmetically determined position — all
    * codegen'd generators and substring/hash calls, no windows, no
    * interpreted lambdas. Segment keys are ~len/(k+1) chars long
    * (whole phrases), so buckets are near-singleton on any corpus that
    * is not literally duplicated — the heat that kills gram blocking
    * cannot occur. Probe volume is (k+1) * (k+1) * ~(k+1) rows per
    * document — O(k^2 * N) 16-byte rows, uniform keys, no skew.
    *
    * Documents with len < k+1 have empty segments and route through
    * the length-bucket short tier ([[shortTierCandidates]]); their
    * partners (len <= 2k+1) are included in the tier, and mid-size
    * documents covered by both tiers dedupe in the candidate distinct.
    * Verification is Spark's threshold `levenshtein(a, b, k)`, which
    * computes only the 2k+1-wide diagonal band and returns -1 past the
    * bound. Exactness (== brute force) is EditDistanceJoinSpec-pinned,
    * including a seeded property over the tier-boundary lengths.
    */
  def editDistanceJoinPass(df: DataFrame, idCol: String, textCol: String,
                           k: Int, broadcastIndex: Boolean = false
                          ): DataFrame = {
    require(k >= 1, s"editDistanceJoinPass needs k >= 1, got $k")
    val base = df.select(col(idCol).as("doc"), col(textCol).as("txt"),
      length(col(textCol)).as("len")).cache()

    // Index: the k+1 segments of every document long enough to have
    // non-empty segments everywhere.
    val segs = passSegments(base, k).withColumnRenamed("doc", "doc_a")

    // Probes: for every (i, gap, shift) against a hypothetical partner
    // of length len - gap, the substring the pigeonhole theorem says a
    // surviving segment must equal.
    val probes = passProbes(base, k).withColumnRenamed("doc", "doc_b")

    // The index is two longs per segment — (k+1)*16 bytes per document
    // — so up to the low-GB corpus range it broadcasts, which removes
    // the probe-side sort entirely (the probes are the 100x-heavier
    // side: O(k^2) rows per doc; sort-merge spills sorting them —
    // measured 7 GB spill / 21 s vs 0 spill / 9 s broadcast at 260k
    // docs). Default stays sort-merge: at true corpus scale the index
    // is corpus-sized and the uniform 16-byte keys shuffle cleanly.
    val idx = if (broadcastIndex) broadcast(segs) else segs
    val longCand = probes.join(idx, Seq("key"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))

    // Short tier: partners of sub-(k+1) documents all have len <= 2k+1;
    // bucket-join that set.
    val shortCand = shortTierCandidates(base, k)

    val cand = longCand.union(shortCand).distinct()
    cand
      .join(base.select(col("doc").as("doc_a"), col("txt").as("ta")),
        Seq("doc_a"))
      .join(base.select(col("doc").as("doc_b"), col("txt").as("tb")),
        Seq("doc_b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), k).cast("long"))
      // barrier: a bare filter on the derived column gets pushed into
      // the join condition by substitution and the banded levenshtein
      // runs TWICE per candidate (the SCALE_r12 §7/§8 trap, seen live
      // in this plan) — the referenced non-deterministic column pins it
      // above the projection
      .transform(df => graft.operators.Barrier.filterAbove(df,
        col("dist") =!= -1L))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("dist"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= `maxDist`, banded on
    * the two fingerprint bytes (pigeonhole-complete for maxDist 0; a
    * recall-bound heuristic above that — finer bands buy completeness).
    */
  def simHashNearPairs(df: DataFrame, idCol: String, textCol: String,
                       maxDist: Int = 3): DataFrame = {
    val fp = df.select(col(idCol).as("doc"), simHash16(textCol).as("fp"))
    val banded = fp.select(col("doc"), col("fp"),
      posexplode(array(col("fp") % 256, expr("fp DIV 256")))
        .as(Seq("band", "bucket")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(fp_a ^ fp_b)").cast("long"))
      .filter(col("hamming") <= maxDist)
  }

  /** Sentence-level exact dedup, keep-FIRST-occurrence (the C4
    * discipline, Raffel et al. 2020 / Lee et al. 2021: a sentence
    * appearing verbatim in many documents survives in exactly ONE —
    * the earliest (doc, pos) — where [[lineFrequencyFilter]]'s
    * threshold rule would either keep all copies or kill them all).
    * Input is a pre-split sentence table (doc, pos, sentence) —
    * splitting policy is the caller's (chunking, regex, a real
    * segmenter); the dedup itself is splitter-agnostic.
    *
    * Shape: one combinable min(struct(doc, pos)) aggregate per
    * sentence key + one join back on the key — both on 8-byte
    * xxhash64 keys when `hashedKeys` (the l23h collision contract:
    * value-identical output is the spec's check). Returns one row per
    * doc: sentence counts and the md5 of the kept text reassembled in
    * original order (sort_array over per-doc bounded structs — no
    * window, no corpus-sized exchange).
    */
  def sentenceDedup(sent: DataFrame, docCol: String, posCol: String,
                    sentCol: String,
                    hashedKeys: Boolean = false): DataFrame = {
    val keyed = sent.select(col(docCol).as("doc"),
      col(posCol).cast("long").as("pos"), col(sentCol).as("s"),
      (if (hashedKeys) xxhash64(col(sentCol)) else col(sentCol)).as("sk"))
    val first = keyed.groupBy("sk")
      .agg(min(struct(col("doc"), col("pos"))).as("f"))
      .select(col("sk"), col("f.doc").as("fdoc"), col("f.pos").as("fpos"))
    keyed.join(first, Seq("sk"))
      .withColumn("keep",
        (col("doc") === col("fdoc") && col("pos") === col("fpos"))
          .cast("long"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_sent"),
        sum("keep").cast("long").as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep") === 1L,
            struct(col("pos"), col("s"))))),
          x => x("s")), " | ")).as("clean_md5"))
      .select(col("doc"), col("n_sent"), col("n_kept"), col("clean_md5"))
  }

  /** Corpus snapshot diff — the dataset-versioning primitive behind
    * "what changed between crawl N and crawl N+1": per id,
    * added / removed / changed / unchanged by content digest. One full
    * outer join on the 8-byte id; digests are computed MAP-SIDE before
    * the exchange, so document payloads never shuffle — at 100 TB the
    * join moves (id, 16-byte digest) pairs only.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, payloadCol: String): DataFrame =
    oldSnap.select(col(idCol).as("id"),
        md5(col(payloadCol)).as("h_old"))
      .join(newSnap.select(col(idCol).as("id"),
        md5(col(payloadCol)).as("h_new")), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
}
