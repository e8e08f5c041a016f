package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.operators.TextAnalysis

/** Dev-only: inflate the driver-generated testdata to larger scale
  * factors by key-shifted replication, preserving every distribution the
  * operators care about (values, dates, text, per-key fan-outs) while
  * keeping referential integrity (each copy's orders reference that
  * copy's customers, etc.). Bounded dims (nation, region — fixed by
  * schema, not SF) are copied unchanged, exactly as TPC-H scales.
  *
  * Copy i shifts every key column by i * base where base = max(key) + 1
  * of the source table, so key spaces never collide. Embedding vectors
  * get a small deterministic per-copy perturbation (exact-duplicate
  * vectors would degenerate cosine ranking into ties); document text is
  * replicated EXACTLY — the worst case for the dedup operators, which is
  * the point of a stress run.
  *
  * Usage: runMain graft.tools.ScaleGen <baseDir> <outDir> <factor> [zipf]
  *   e.g. ScaleGen /root/testdata/sf0.1 testdata-scale/sf0.5 5
  *
  * Mode `zipf` additionally SKEWS the workload-bearing foreign keys after
  * inflation — TPC-H-style data is uniformly keyed, so a uniform scale
  * run never stresses the classic 100 TB killer (one hot key owning a
  * shuffle partition). With probability 0.5 a row's key is remapped to
  * one of the 8 hottest keys with rank probability ∝ 1/rank (Zipf(1),
  * via the inverse-CDF approximation rank = floor(exp(u·ln(H+1))) ∈
  * [1, H] — ln(H) would top out at rank H−1 and give the coldest hot
  * key probability zero), drawn
  * deterministically from xxhash64 of the key itself. H=8 keys against
  * 32 shuffle partitions means most partitions hold NO hot key — the
  * hot partition stands out at >5x the median, the same shape a single
  * dominant customer has at 100 TB (64 hot keys over 32 partitions
  * would spread ~2 per partition and flatten the skew into uniform
  * warmth no splitter can or should act on):
  *  - lineitem.l_orderkey  (the lineitem⋈orders sort-merge join — a8)
  *  - orders.o_custkey     (fact⋈customer — g5/a8 dims)
  *  - events.user_id       (sessionize window partitions — x1)
  *  - documents.text       (hot duplicate texts — l1 exact dedup)
  * Hot keys are drawn from copy 0's key range, so referential integrity
  * holds (every remapped key exists in its dimension).
  */
object ScaleGen {

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).collect()(0).getLong(0) + 1L

  private val HotKeys = 8
  private val HotShare = 0.5

  /** `textdiv` word generator (see main's flag doc): per-token Zipf rank
    * from a seeded hash, rank -> 2-3 syllables by base-40 digits. HOF
    * lambdas evaluate interpreted per element — fine HERE because
    * ScaleGen is a one-shot dev generator, not a benched operator; the
    * nested transform binds each rank once so the 3 syllable lookups
    * don't re-derive it (the CollapseProject re-evaluation trap).
    */
  private def synthTextSql(seed: Int): String = {
    val syls = for {
      c <- Seq("b", "d", "f", "g", "k", "l", "m", "n", "r", "s")
      v <- Seq("a", "e", "i", "o")
    } yield c + v
    val sylArr = syls.map("'" + _ + "'").mkString("array(", ",", ")")
    val lnV = math.log(50000.0)
    s"""array_join(transform(
          transform(sequence(1, greatest(8,
              size(${TextAnalysis.wordsSql("text")}))),
            j -> CAST(exp((pmod(xxhash64(doc_id, j, $seed), 1000000L)
                 / 1000000.0D) * ${lnV}D) AS BIGINT) - 1),
          r -> concat(
            element_at($sylArr, CAST(1 + r % 40 AS INT)),
            element_at($sylArr, CAST(1 + (r DIV 40) % 40 AS INT)),
            IF(r % 7 < 3,
              element_at($sylArr, CAST(1 + (r DIV 1600) % 40 AS INT)),
              ''))), ' ')"""
  }

  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir, factorStr) = args.take(3)
    val k = factorStr.toInt
    val flags = args.drop(3).toSet
    val zipf = flags.contains("zipf")
    // `cluster`: inflated embedding copies are CLUSTERED around seed
    // centers instead of replica+epsilon-jitter. Exact-replica
    // inflation makes at-scale recall numbers vacuous (every query's
    // true top-k is its own copies, recall 1.000 for any method — the
    // round-10 honesty caveat); clustered copies give queries
    // NON-TRIVIAL nearest neighbors: cluster id = xxhash64(vec_id) %
    // 64, vector = base-corpus seed center + a per-(id, dim)
    // deterministic jitter (the l12 planted-twin trick generalized to
    // whole clusters).
    val cluster = flags.contains("cluster")
    // `textdiv`: inflated document copies get CONTENT-DIVERSE synthetic
    // text instead of exact replicas — the `cluster`-mode honesty trick
    // applied to text. Exact-replica inflation makes ingest/BPE scale
    // numbers vacuous: the span-dedup stage cuts ~100% of batch tokens
    // (every doc is a duplicate, so the quota stage ranks all-zero
    // counts) and BPE finds only the base corpus's ~31-word vocabulary
    // (SCALE_r11.md §3/§4). Here copy i>0 docs are regenerated by
    // seeded per-token sampling from a power-law vocabulary of
    // syllable-structured words: token j of doc d draws rank
    // r = exp(u·lnV) (P(rank) ∝ 1/rank, V=50k) from u =
    // xxhash64(doc_id, j)/1e6, and word(r) concatenates 2-3 syllables
    // from a 40-syllable base by the base-40 digits of r — shared
    // sub-word structure a real tokenizer can learn (thousands of
    // distinct learnable merges), document length preserved from the
    // replica's token count. Copy 0 stays intact for cross-checks.
    val textDiv = flags.contains("textdiv")
    // `embonly`/`doconly`: rewrite only the embeddings / documents table
    // into an existing inflated dir (probe turnaround; everything else
    // is unchanged).
    val embOnly = flags.contains("embonly")
    val docOnly = flags.contains("doconly")
    val spark = Sessions.build("graft-scalegen", Sessions.cpusFromEnv(32))

    def read(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")

    // key bases from the SOURCE tables (computed once; referenced by the
    // tables that point at them)
    val custBase = maxOf(read("customer"), "c_custkey")
    val suppBase = maxOf(read("supplier"), "s_suppkey")
    val partBase = maxOf(read("part"), "p_partkey")
    val orderBase = maxOf(read("orders"), "o_orderkey")
    val eventBase = maxOf(read("events"), "event_id")
    val userBase = maxOf(read("events"), "user_id")
    val docBase = maxOf(read("documents"), "doc_id")
    val vecBase = maxOf(read("embeddings"), "vec_id")

    /** Union k copies of `df`, copy i adding i*base to each listed key. */
    def inflate(df: DataFrame, shifts: Map[String, Long],
                perCopy: (DataFrame, Int) => DataFrame = (d, _) => d)
        : DataFrame =
      (0 until k).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, base)) =>
          d.withColumn(c, (col(c) + lit(i * base)).cast(d.schema(c).dataType))
        }
        perCopy(shifted, i)
      }.reduce(_ unionByName _)

    /** Zipf(1) remap of key column `c`: with prob [[HotShare]] the value
      * becomes hot key `floor(exp(u·ln(H+1))) - 1` ∈ [0, H-1] (P(rank
      * r) ∝ ~1/r), else stays. u is a deterministic per-row uniform draw
      * from the (already copy-shifted) key, so each copy draws
      * independently.
      */
    def zipfRemap(c: String, salt: Int)(df: DataFrame): DataFrame =
      if (!zipf) df
      else {
        val u = pmod(xxhash64(col(c), lit(salt)), lit(1000000L))
          .cast("double") / 1000000.0
        val hot = least(lit(HotKeys.toLong - 1),
          floor(exp(u / HotShare * math.log(HotKeys + 1.0))) - 1)
        df.withColumn(c,
          when(u < HotShare, hot.cast(df.schema(c).dataType))
            .otherwise(col(c)))
      }

    /** Hot-duplicate texts: with prob [[HotShare]] a document's text is
      * replaced by one of the [[HotKeys]] base texts (Zipf-ranked), the
      * boilerplate-heavy corpus shape exact/near dedup meets in practice.
      */
    def zipfHotTexts(base: DataFrame)(df: DataFrame): DataFrame =
      if (!zipf) df
      else {
        val u = pmod(xxhash64(col("doc_id"), lit(99)), lit(1000000L))
          .cast("double") / 1000000.0
        val hot = least(lit(HotKeys.toLong - 1),
          floor(exp(u / HotShare * math.log(HotKeys + 1.0))) - 1)
        val hotTexts = broadcast(base.filter(col("doc_id") < HotKeys)
          .select(col("doc_id").as("__hot_id"),
            col("text").as("__hot_text")))
        df.withColumn("__hot", when(u < HotShare, hot))
          .join(hotTexts, col("__hot") === col("__hot_id"), "left")
          .withColumn("text", coalesce(col("__hot_text"), col("text")))
          .drop("__hot", "__hot_id", "__hot_text")
      }

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> inflate(read("customer"), Map("c_custkey" -> custBase)),
      "supplier" -> inflate(read("supplier"), Map("s_suppkey" -> suppBase)),
      "part" -> inflate(read("part"), Map("p_partkey" -> partBase)),
      "orders" -> zipfRemap("o_custkey", 2)(inflate(read("orders"),
        Map("o_orderkey" -> orderBase, "o_custkey" -> custBase))),
      "lineitem" -> zipfRemap("l_orderkey", 1)(inflate(read("lineitem"),
        Map("l_orderkey" -> orderBase, "l_partkey" -> partBase,
          "l_suppkey" -> suppBase))),
      "events" -> zipfRemap("user_id", 3)(inflate(read("events"),
        Map("event_id" -> eventBase, "user_id" -> userBase))),
      "documents" -> zipfHotTexts(read("documents"))(
        inflate(read("documents"), Map("doc_id" -> docBase),
          perCopy = (d, i) =>
            if (!textDiv || i == 0) d
            else d.withColumn("text", expr(synthTextSql(1000 + i)))
              .withColumn("n_chars", length(col("text")).cast("long")))),
      "embeddings" -> {
        val nClusters = 64
        lazy val centers = broadcast(read("embeddings")
          .filter(col("vec_id") < nClusters)
          .select(col("vec_id").as("__cid"),
            col("embedding").as("__cvec")))
        inflate(read("embeddings"), Map("vec_id" -> vecBase),
          perCopy = (d, i) =>
            if (i == 0) d // base corpus (and the probe queries) intact
            else if (cluster)
              d.withColumn("__c",
                  pmod(xxhash64(col("vec_id")), lit(nClusters.toLong)))
                .join(centers, col("__c") === col("__cid"), "left")
                .withColumn("embedding", expr(
                  s"""zip_with(__cvec, sequence(0, size(__cvec) - 1),
                      (x, j) -> CAST(x + 0.05D
                        * sin(CAST(j AS DOUBLE) * 1.7D
                          + CAST(vec_id AS DOUBLE) * 0.61D) AS FLOAT))"""))
                .drop("__c", "__cid", "__cvec")
            else d.withColumn("embedding", expr(
              s"""zip_with(embedding, sequence(0, size(embedding) - 1),
                  (x, j) -> CAST(x + 0.01D * sin(CAST(j AS DOUBLE) * 1.7D
                    + CAST(vec_id AS DOUBLE)) AS FLOAT))""")))
      })

    tables
      .filter { case (name, _) =>
        (!embOnly || name == "embeddings") &&
          (!docOnly || name == "documents") }
      .foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[scalegen] $name -> $outDir/$name.parquet")
      }
    spark.stop()
  }
}
