package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType,
  LongType}

/** Corpus-wide duplicated-span detection via PREFIX DOUBLING — the
  * suffix-array rank construction (Manber–Myers) expressed as dataflow,
  * applied to the Lee et al. 2022 ("Deduplicating Training Data Makes
  * Language Models Better") problem: find every corpus position whose
  * suffix shares a long prefix with a suffix in ANOTHER document,
  * without committing to a fixed n-gram width up front.
  *
  * Relation to the fixed-n forms ([[Dedup.dupSpanRemoval]], l23): a
  * fixed n answers "is this exact n-window duplicated?" — one pass, but
  * n is a design-time guess. Prefix doubling answers "how LONG is the
  * longest duplicated prefix at this position?" on a power-of-two grid
  * {1, 2, 4, ..., horizon} in ⌈log2(horizon)⌉ rounds, and stops EARLY
  * the round no rank group spans two documents — so the round count is
  * data-adaptive: ⌈log2(longest cross-doc repeat)⌉ + 1, not
  * log2(corpus length). A corpus whose longest cross-doc repeat is 100
  * tokens finishes in 7 rounds whether it is 1 GB or 100 TB.
  *
  * Scale shape (the reason this is dataflow and not a single-node
  * suffix array) — per round:
  *   1. cross-doc tie flags: one combinable groupBy(rank) — map-side
  *      partial aggregation keeps a hot rank group (site boilerplate)
  *      skew-safe: O(group) aggregation rows, never the O(group²)
  *      pairs naive n-gram pair generation pays (RISKS row 1);
  *   2. the rank 2^(k-1) ahead: lead() over a per-DOCUMENT window
  *      (bounded by document length — never a global window);
  *   3. dense re-rank of the (rank, rank-ahead) pairs: ONE
  *      range-partitioned sort + the two-light-job dense-id pass
  *      ([[denseRankOver]] — the [[Gold.orderedId]] zipWithIndex trick
  *      generalized to equal-keys-get-equal-ids), replacing the
  *      distinct + id + join-back shape that costs three extra
  *      corpus-sized exchanges per round (measured 170.9 s → see
  *      SCALE_r15 §11 for the before/after at 13.5M positions).
  * State is always (position → rank), linear in the corpus. Rounds are
  * driver-paced like Bpe.train: ≤ log2(horizon) bounded iterations,
  * one early-stop isEmpty action each.
  */
object SuffixArray {

  /** (doc, pos, tok): 1-based positions over whitespace tokens — the
    * l23 tokenization so the two span families agree on positions. */
  private def tokens(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        posexplode(TextAnalysis.tokens(textCol)).as(Seq("pos0", "tok")))
      .select(col("doc"), (col("pos0") + 1).cast("long").as("pos"),
        col("tok"))

  /** Dense 1-based ranks of `df` in `keyCols` order — equal keys get
    * EQUAL ranks (the orderedId contract relaxed from unique rows to
    * key groups): range-partition + sort on the keys, then job 1
    * counts DISTINCT keys per partition and job 2 assigns
    * offset + local dense index. Equal keys are co-located by the
    * range partitioner and contiguous after the sort, so the two
    * streaming passes need O(1) state per partition. One shuffle
    * total; both jobs reuse its output.
    */
  private[operators] def denseRankOver(df: DataFrame,
                                       keyCols: Seq[String],
                                       outName: String): DataFrame =
    denseRankOverWithMax(df, keyCols, outName)._1

  /** [[denseRankOver]] plus the TOTAL distinct-key count (= the maximum
    * assigned rank) — known for free from the per-partition counts, and
    * what [[gridDupSpansWithRounds]] uses to decide whether the next
    * round can PACK (rank, rank-ahead) pairs into one long instead of
    * paying a full dense re-rank (see the pack note there).
    */
  private[operators] def denseRankOverWithMax(df: DataFrame,
                                              keyCols: Seq[String],
                                              outName: String)
      : (DataFrame, Long) = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{
      GenericInternalRow, JoinedRow}
    val sorted = df.repartitionByRange(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*)
    val schema = sorted.schema
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema.fields(_).dataType)
    // samePrev compares internal values with Objects.equals: binary keys
    // would compare by array reference and floating keys break on
    // -0.0 vs 0.0, so only atomic, non-binary, non-floating keys rank.
    keyCols.zip(keyTypes).foreach { case (c, t) =>
      require(GraftSqlShim.isAtomic(t) &&
        !Seq(BinaryType, FloatType, DoubleType).contains(t),
        s"denseRankOver key column $c has type ${t.simpleString}; keys " +
          "must be atomic, non-binary and non-floating")
    }
    val nk = keyIdx.length
    // Both passes run on INTERNAL rows (round-16 verdict item 4 /
    // guide §5): `Dataset.rdd` deserialized every UnsafeRow to a
    // GenericRow — decoding the token UTF8Strings to java.lang.String
    // twice per corpus position — and pass 2 re-encoded them through
    // createDataFrame. toRdd + internalCreateDataFrame keep the sorted
    // bytes as-is; only the (rare) group-boundary key copy allocates.
    val rdd = sorted.queryExecution.toRdd
    // equal-to-previous-group check + group-boundary key capture; the
    // captured values are copied (UTF8String may alias a reused buffer)
    def samePrev(r: InternalRow, last: Array[Any], has: Boolean)
        : Boolean = {
      if (!has) return false
      var i = 0
      while (i < nk) {
        if (!java.util.Objects.equals(
          r.get(keyIdx(i), keyTypes(i)), last(i))) return false
        i += 1
      }
      true
    }
    def saveKeys(r: InternalRow, last: Array[Any]): Unit = {
      var i = 0
      while (i < nk) {
        last(i) = InternalRow.copyValue(r.get(keyIdx(i), keyTypes(i)))
        i += 1
      }
    }
    val counts = rdd.mapPartitions { it =>
      var n = 0L
      var has = false
      val last = new Array[Any](nk)
      it.foreach { r =>
        if (!samePrev(r, last, has)) { n += 1; has = true
          saveKeys(r, last) }
      }
      Iterator.single(n)
    }.collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val offB = df.sparkSession.sparkContext.broadcast(offsets)
    val outSchema = schema.add(outName, LongType, nullable = false)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      var rank = offB.value(pi)
      var has = false
      val last = new Array[Any](nk)
      // reused wrappers: the downstream RDD scan's UnsafeProjection
      // copies each row out before the next iteration
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { r =>
        if (!samePrev(r, last, has)) { rank += 1; has = true
          saveKeys(r, last) }
        rankRow.setLong(0, rank)
        joined(r, rankRow): InternalRow
      }
    }
    (GraftSqlShim.internalDf(df.sparkSession, out, outSchema),
      offsets.last)
  }

  /** Per-document duplicated-span summary on the power-of-two grid.
    *
    * For each position p, span(p) = the largest ℓ = min(2^k, suffix
    * length) with 2^k ≤ horizon such that the first ℓ tokens of p's
    * suffix also open a suffix in a DIFFERENT document (the l23
    * cross-doc contract). Clamping to the suffix length keeps the
    * reported span an actual token count — a duplicated 3-token
    * document tail reports 3, not the round's 2^k. The grid value is a
    * lower bound within 2× of the true maximal duplicated prefix
    * (binary search between grid points is the refinement lever; the
    * grid is what the dedup decision needs).
    *
    * Output: (doc_id, n_tokens, max_dup_span, n_dup_pos_8,
    * n_dup_pos_32) — one row per input document, zero-filled for
    * documents with no duplicated span (or no tokens). The result is
    * localCheckpointed (every internal table is freed before return),
    * so it is pinned at docs-count size (MEMORY_AND_DISK — evicts to
    * disk, never OOMs); for a corpus-release-sized doc count, write it
    * to a table and drop the reference rather than holding it hot.
    *
    * Rank-tie ⇔ window-equality invariant (what the DuckDB mirror
    * replays): two positions share a round-k rank iff their suffixes'
    * first min(2^k, remaining) tokens are equal AND both clamp at the
    * same length — exactly string equality of the space-joined clamped
    * window, because round 0 ranks by token value and each doubling
    * appends the rank 2^(k-1) ahead (sentinel 0 when no such position,
    * and 0 < every assigned rank).
    */
  def gridDupSpans(docs: DataFrame, idCol: String, textCol: String,
                   horizon: Int = 64): DataFrame =
    gridDupSpansWithRounds(docs, idCol, textCol, horizon)._1

  /** [[gridDupSpans]] plus the number of doubling rounds actually run —
    * the data-adaptivity evidence the scale probes record (rounds =
    * ⌈log2(longest cross-doc repeat)⌉ + 1 with early stop, vs the full
    * log2(horizon) + 1 only when long repeats exist). */
  def gridDupSpansWithRounds(docs: DataFrame, idCol: String,
                             textCol: String,
                             horizon: Int = 64): (DataFrame, Int) = {
    require(horizon >= 1 && (horizon & (horizon - 1)) == 0,
      s"horizon must be a power of two, got $horizon")
    import org.apache.spark.storage.StorageLevel.{DISK_ONLY,
      MEMORY_AND_DISK}
    // memory discipline: every corpus-sized intermediate is persisted
    // DISK_ONLY (serialized, off the unified pool's storage side — the
    // rounds' sorts and joins need the execution side), MATERIALIZED
    // eagerly, and unpersisted the moment its last consumer ran — so
    // the operator's standing footprint is one rank table + the
    // per-round flag tables (dup positions only), never all rounds'
    // ranks at once, and nothing leaks past the return (the result is
    // localCheckpointed, everything internal is freed).
    def mat(df: DataFrame,
            level: org.apache.spark.storage.StorageLevel): DataFrame = {
      df.persist(level); df.count(); df
    }
    // materialize AND return the row count (the count is paid anyway;
    // reusing it for the early stop kills the per-round isEmpty job)
    def matN(df: DataFrame,
             level: org.apache.spark.storage.StorageLevel)
        : (DataFrame, Long) = {
      df.persist(level); (df, df.count())
    }
    val tk = mat(tokens(docs, idCol, textCol), DISK_ONLY)
    val lens = mat(tk.groupBy("doc").agg(count(lit(1)).as("n")),
      MEMORY_AND_DISK)

    val (ranks0, bound0) = denseRankOverWithMax(tk, Seq("tok"), "r")
    var ranks = mat(ranks0.select(col("doc"), col("pos"), col("r")),
      DISK_ONLY)
    // exact upper bound on the current rank values — the PACK decision
    // below needs it (rank values after a dense round are 1..bound)
    var bound = bound0
    tk.unpersist(false)

    // Largest v with (v+1)^2 - 1 <= Long.MaxValue: pairs over values
    // <= v pack losslessly into one long as r*(v+1)+r2.
    val MaxPackable = 3037000498L

    // flags carry the RAW grid value s; the suffix-length clamp is a
    // single lens join AFTER the loop (max over rounds commutes with
    // the clamp: rem is fixed per position and least(·, rem) is
    // monotone in s)
    val flagsByRound = Seq.newBuilder[DataFrame]
    var s = 1L
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      // only CROSS-doc tied groups matter for both flagging and the
      // early stop: groups can only split as rounds double, so once no
      // rank group spans two documents none ever will again
      val (cross, nCross) = matN(ranks.groupBy("r")
        .agg(count(lit(1)).as("cnt"), min("doc").as("dmin"),
          max("doc").as("dmax"))
        .filter(col("cnt") >= 2 && col("dmin") =!= col("dmax"))
        .select("r"), MEMORY_AND_DISK)
      flagsByRound += mat(ranks.join(cross, "r")
        .select(col("doc"), col("pos"), lit(s).as("s")), DISK_ONLY)
      val stop = nCross == 0L || s >= horizon
      cross.unpersist(false)
      if (stop) done = true
      else {
        val ahead = lead(col("r"), s.toInt, 0L)
          .over(Window.partitionBy("doc").orderBy("pos"))
        val prev = ranks
        // PACK-ALTERNATE doubling: a round's rank only carries an
        // EQUALITY CLASS (two positions share it iff their windows are
        // equal — density and order are never consumed), so when the
        // current values fit, the (r, r-ahead) pair packs LOSSLESSLY
        // into r*(bound+1)+r2 (r in [1,bound], r2 in [0,bound] with 0
        // the lead sentinel, so packed values stay >= 1 and distinct
        // pairs stay distinct) — a pure projection that replaces the
        // dense re-rank's range-sample pass + corpus-wide range
        // exchange + two assignment passes, AND keeps the (doc, pos)
        // window layout so the NEXT round's lead() re-sorts without
        // re-shuffling. Packed values square the bound, so rounds
        // alternate pack / dense re-rank (the re-rank restores small
        // dense values); a corpus with more than ~3e9 distinct windows
        // (bound > MaxPackable after a dense round) simply never packs
        // — the adaptive fallback is the old always-dense path.
        if (bound <= MaxPackable) {
          ranks = mat(prev.withColumn("r2", ahead)
            .select(col("doc"), col("pos"),
              (col("r") * lit(bound + 1L) + col("r2")).as("r")),
            DISK_ONLY)
          bound = (bound + 1L) * (bound + 1L) - 1L
        } else {
          val (rr, mx) = denseRankOverWithMax(
            prev.withColumn("r2", ahead), Seq("r", "r2"), "rn")
          ranks = mat(rr.select(col("doc"), col("pos"),
            col("rn").as("r")), DISK_ONLY)
          bound = mx
        }
        prev.unpersist(false)
        s *= 2
      }
    }
    ranks.unpersist(false)

    val flags = flagsByRound.result()
    val spans = flags.reduce(_ unionByName _)
    val perPos = spans.groupBy("doc", "pos").agg(max("s").as("s"))
      .join(lens, "doc")
      .select(col("doc"), col("pos"),
        least(col("s"), col("n") - col("pos") + 1L).as("span"))
    val perDoc = perPos.groupBy("doc").agg(
      max("span").as("max_dup_span"),
      sum(when(col("span") >= 8, 1L).otherwise(0L)).as("n_dup_pos_8"),
      sum(when(col("span") >= 32, 1L).otherwise(0L)).as("n_dup_pos_32"))
    val out = docs.select(col(idCol).as("doc")).distinct()
      .join(lens, Seq("doc"), "left")
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        coalesce(col("max_dup_span"), lit(0L)).as("max_dup_span"),
        coalesce(col("n_dup_pos_8"), lit(0L)).as("n_dup_pos_8"),
        coalesce(col("n_dup_pos_32"), lit(0L)).as("n_dup_pos_32"))
      .localCheckpoint()
    flags.foreach(_.unpersist(false))
    lens.unpersist(false)
    (out, rounds)
  }
}
