package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Dev-only: the round-15 scale-evidence runs behind SCALE_r15.md.
  *
  * Modes (arg 1):
  *  - `bucketedgraph`: SCALE_r14 §7's closing lever measured — the
  *    same 20M-edge / 2M-node graph as ProbeR14 `graph` (identical
  *    key expressions, so the rank checksum must reproduce §7's
  *    2096770468367), with the edge list written BUCKETED on src at
  *    write time. Times the one-time bucketed write, then cold-start
  *    PageRank / CC from the bucketed tables vs the per-run
  *    pre-partitioned forms; prints the bucketed scan's reported
  *    partitioning (the thing EnsureRequirements consumes).
  */
object ProbeR15 {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = Sessions.build("graft-probe-r15", Sessions.cpusFromEnv(32))
    val metrics = TaskMetricsListener.installed(spark)

    def timed[T](name: String, reps: Int = 3)(body: => T): Unit =
      for (rep <- 1 to reps) {
        metrics.reset()
        val t0 = System.nanoTime()
        val r = body
        metrics.drain()
        println(f"PROBE15 $name rep$rep " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s result=$r " +
          f"shuffle=${metrics.shuffleWriteMb} MB " +
          f"spill=${metrics.spillMb} MB " +
          f"maxTask=${metrics.maxTaskSec}%.1f s")
      }

    mode match {
      case "bucketedgraph" =>
        import graft.operators.GraphRank
        val nEdges = 20L * 1000 * 1000
        val nNodes = 2L * 1000 * 1000
        val e = spark.range(nEdges).select(
          pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
          pmod(xxhash64(col("id") + lit(nEdges)), lit(nNodes)).as("dst"))
          .filter(col("src") =!= col("dst"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_p15_bucketed").toString
        timed("bucketed_write_pr_20m", reps = 1) {
          GraphRank.writeEdgesBucketed(e, "src", "dst",
            "p15_pr_edges", 32, s"$tmp/pr", symmetrizeForCC = false)
          "ok"
        }
        timed("bucketed_write_cc_sym_20m", reps = 1) {
          GraphRank.writeEdgesBucketed(e, "src", "dst",
            "p15_cc_edges", 32, s"$tmp/cc", symmetrizeForCC = true)
          "ok"
        }
        val scanPart = spark.table("p15_pr_edges")
          .queryExecution.executedPlan.collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.outputPartitioning.toString
          }.getOrElse("NO FileSourceScanExec")
        println(s"PROBE15 bucketed_scan_partitioning $scanPart")

        timed("pagerank_20m_prepart", reps = 2) {
          val r = GraphRank.pageRankFixedPoint(e, "src", "dst",
            iters = 6, prePartitionEdges = true)
          val chk = r.agg(sum(col("r"))).collect()(0).getLong(0)
          r.unpersist(blocking = false)
          spark.sharedState.cacheManager.clearCache()
          chk
        }
        timed("pagerank_20m_bucketed_cold", reps = 2) {
          val r = GraphRank.pageRankFromBucketed(spark, "p15_pr_edges",
            iters = 6)
          val chk = r.agg(sum(col("r"))).collect()(0).getLong(0)
          r.unpersist(blocking = false)
          spark.sharedState.cacheManager.clearCache()
          chk
        }
        timed("cc_20m_prepart", reps = 2) {
          val r = GraphRank.connectedComponents(e, "src", "dst",
            prePartitionEdges = true)
          val chk = r.agg(sum(col("component")), count(lit(1)))
            .collect()(0)
          r.unpersist(blocking = false)
          spark.sharedState.cacheManager.clearCache()
          s"(sum=${chk.getLong(0)},n=${chk.getLong(1)})"
        }
        timed("cc_20m_bucketed_cold", reps = 2) {
          val r = GraphRank.componentsFromBucketed(spark, "p15_cc_edges")
          val chk = r.agg(sum(col("component")), count(lit(1)))
            .collect()(0)
          r.unpersist(blocking = false)
          spark.sharedState.cacheManager.clearCache()
          s"(sum=${chk.getLong(0)},n=${chk.getLong(1)})"
        }
        spark.sql("DROP TABLE IF EXISTS p15_pr_edges")
        spark.sql("DROP TABLE IF EXISTS p15_cc_edges")

      case "curationkill" =>
        // Verdict item 5: the checkpointed curation pipeline's restart
        // story at scale, with a REAL mid-run JVM kill. Three child
        // JVMs: (A) uninterrupted run into dirA (per-stage walls from
        // the _SUCCESS commit mtimes); (B) a run into dirB halted the
        // moment stage 6's funnel commits; (C) a fresh JVM resuming
        // dirB. Proof of skip: stages 1-6's _SUCCESS mtimes are
        // BYTE-UNCHANGED across the restart; proof of correctness: C's
        // printed funnel == A's, row for row.
        val corpusDir = if (args.length > 1) args(1) else "/tmp/tds5"
        val base = java.nio.file.Files
          .createTempDirectory("graft_p15_curation").toString
        val dirA = s"$base/uninterrupted"
        val dirB = s"$base/killed"
        def funnelLines(out: String): Seq[String] =
          out.linesIterator.filter(_.contains("CURATIONKILL funnel"))
            .map(_.dropWhile(_ != 'C')).toSeq
        def mtimes(dir: String): Map[String, Long] = {
          val d = new java.io.File(dir)
          if (!d.exists()) Map.empty
          else d.listFiles().filter(_.isDirectory).flatMap { st =>
            val s = new java.io.File(st, "_SUCCESS")
            if (s.exists()) Some(st.getName -> s.lastModified())
            else None
          }.toMap
        }
        val t0 = System.nanoTime()
        val (cA, outA) = ChildJvm.run("graft.tools.CurationKillDriver",
          Seq(corpusDir, dirA, "-1"))
        val wallA = (System.nanoTime() - t0) / 1e9
        require(cA == 0, s"uninterrupted run failed rc=$cA\n" +
          outA.takeRight(2000))
        println(f"PROBE15 curation_uninterrupted $wallA%.1f s (incl JVM)")
        val mA = mtimes(dirA).toSeq
          .filter(_._1.startsWith("funnel_s"))
          .sortBy(p => p._1.stripPrefix("funnel_s").toInt)
        mA.sliding(2).foreach {
          case Seq((a, ta), (b, tb)) =>
            println(f"PROBE15 stage_wall $b ${(tb - ta) / 1000.0}%.1f s")
          case _ =>
        }
        val t1 = System.nanoTime()
        val (cB, outB) = ChildJvm.run("graft.tools.CurationKillDriver",
          Seq(corpusDir, dirB, "6"))
        val wallB = (System.nanoTime() - t1) / 1e9
        require(cB == 42, s"kill run should halt(42), got rc=$cB\n" +
          outB.takeRight(2000))
        val beforeRestart = mtimes(dirB)
        println(f"PROBE15 curation_killed_after_s6 $wallB%.1f s " +
          s"complete_dirs=${beforeRestart.keys.toSeq.sorted.mkString(",")}")
        val t2 = System.nanoTime()
        val (cC, outC) = ChildJvm.run("graft.tools.CurationKillDriver",
          Seq(corpusDir, dirB, "-1"))
        val wallC = (System.nanoTime() - t2) / 1e9
        require(cC == 0, s"restart run failed rc=$cC\n" +
          outC.takeRight(2000))
        val afterRestart = mtimes(dirB)
        val preserved = beforeRestart.filter { case (k, t) =>
          afterRestart.get(k).contains(t) }
        println(f"PROBE15 curation_restart $wallC%.1f s " +
          s"preserved=${preserved.keys.toSeq.sorted.mkString(",")}")
        val skipOk = (1 to 6).forall(i =>
          preserved.contains(s"s$i") && preserved.contains(s"funnel_s$i"))
        val funnelOk = funnelLines(outA) == funnelLines(outC)
        println(s"PROBE15 curation_skip_1_to_6=$skipOk " +
          s"funnel_identical=$funnelOk " +
          f"restart_vs_full=${wallC / wallA}%.2f")
        require(skipOk && funnelOk,
          "curation kill/restart proof FAILED")

      case "ann1m" =>
        // Verdict item 8: the ANN economics curve PAST the "brute wins
        // <1M" crossover (SCALE_r12 §16a) — 1M clustered 64-d vectors,
        // IVF-PQ (residual codebook) at 3 probe widths, with and
        // without exact re-rank, vs the brute baseline. Recall@10 is
        // against brute ground truth on 50 held-in queries.
        import graft.operators.{Pq, Similarity}
        val n = 1000000L
        val dim = 64
        val nClusters = 2048
        // Hierarchical fixture: 16 consecutive ids form a TIGHT group
        // (own-jitter 0.02) inside a cluster-scale neighborhood
        // (group-jitter 0.15) — so a query's true top-10 is its 15
        // groupmates, WELL-SEPARATED from the ~7,800 same-cluster
        // near-ties. (The first cut jittered every vector directly at
        // 0.15: top-10 among ~488 equidistant members is decided by
        // noise, recall@10 measures luck — the SCALE_r12 §16 honesty
        // caveat, now baked into the fixture.)
        val corpus = spark.range(n).select(col("id").as("vec_id"),
          expr(s"""transform(sequence(0, ${dim - 1}), d ->
              CAST(pmod(xxhash64(pmod(xxhash64(vec_id DIV 16L),
                ${nClusters}L), d), 4096L) - 2048L AS DOUBLE) / 2048.0D
            + CAST(pmod(xxhash64(vec_id DIV 16L, d, 13L), 4096L)
                - 2048L AS DOUBLE) / 2048.0D * 0.15D
            + CAST(pmod(xxhash64(vec_id, d, 7L), 4096L) - 2048L
                AS DOUBLE) / 2048.0D * 0.02D)""").as("embedding"))
          .cache()
        corpus.count()
        // 2,000 queries: at 50 the job overhead dominates every method
        // and brute "wins" vacuously; the crossover the row exists to
        // price is per-query scan cost at a real batch size.
        val queries = corpus.filter(pmod(col("vec_id"), lit(500L))
          === 3L).cache()
        // Without this, EVERY top-k in this mode degrades past 128
        // queries: the BoundedTopK udaf plans as ObjectHashAggregate,
        // whose sort-based fallback (key-count threshold, default 128)
        // sorts the full scored stream — measured 141 GB spill / 7.5×
        // wall on the brute row. BoundedTopK state is O(k); 65536
        // keys of it is a few MB per partition.
        spark.conf.set(
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
          "65536")
        println(s"PROBE15 ann1m queries=${queries.count()}")
        def topMap(df: org.apache.spark.sql.DataFrame)
            : Map[Long, Set[Long]] =
          df.select("q_id", "n_id").collect()
            .groupBy(_.getLong(0))
            .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        var truth: Map[Long, Set[Long]] = Map.empty
        timed("ann1m_brute", reps = 2) {
          truth = topMap(Similarity.bruteForceTopK(corpus, queries,
            "vec_id", "embedding", k = 10))
          truth.size
        }
        def recallOf(got: Map[Long, Set[Long]]): Double =
          truth.map { case (q, t) =>
            got.getOrElse(q, Set.empty).count(t) / 10.0 }.sum / truth.size
        // standing index: sampled centroids + residual PQ codebook
        // (m=8 -> 8 bytes/vector vs 512 raw = 64x smaller, plus
        // 1024 x 64 centroid doubles + the 8x256x8 codebook)
        val nCells = 4096
        var centroids: org.apache.spark.sql.DataFrame = null
        var model: Pq.Model = null
        var codes: org.apache.spark.sql.DataFrame = null
        timed("ann1m_index_fit", reps = 1) {
          centroids = corpus.select(col("vec_id").as("n_id"),
              col("embedding").cast("array<double>").as("cv"))
            .withColumn("cn", sqrt(call_function("vec_dot", col("cv"),
              col("cv"))))
            .orderBy(xxhash64(col("n_id")), col("n_id")).limit(nCells)
            .select(col("n_id").as("cell"), col("cv").as("centroid"),
              col("cn").as("centroid_nrm"))
            .cache()
          centroids.count()
          model = Pq.fitResidual(corpus, "vec_id", "embedding", dim,
            m = 8, ksub = 256, centroids = centroids, lloydIters = 1)
          s"cells=$nCells m=8 ksub=256 " +
            s"index_bytes/vec=8 raw_bytes/vec=${dim * 8}"
        }
        timed("ann1m_index_encode", reps = 1) {
          codes = Pq.encodeResidual(corpus, "vec_id", "embedding",
            centroids, model)
            .withColumnRenamed("vec_id", "n_id").cache()
          codes.count()
        }
        val cellsOf = codes.select(col("n_id"), col("cell")).cache()
        cellsOf.count()
        for (nProbe <- Seq(1, 4, 16)) {
          // (a) ADC only — codes scanned, vectors never read: the
          // recall FLOOR and the cheapest scan (the 64x byte cut)
          timed(s"ann1m_adc_probe$nProbe", reps = 2) {
            val adc = Pq.ivfPqTopKResidualCodes(codes, queries,
              "vec_id", "embedding", k = 10, model, centroids,
              nProbe = nProbe)
            f"recall@10=${recallOf(topMap(adc))}%.3f"
          }
          // (b) FAISS-standard: ADC top-1000 candidates, exact re-rank
          // of the survivors (recall == what ADC coverage admits)
          timed(s"ann1m_ivfpq_probe${nProbe}_rerank1000", reps = 2) {
            val cand = Pq.ivfPqTopKResidualCodes(codes, queries,
              "vec_id", "embedding", k = 1000, model, centroids,
              nProbe = nProbe).select("q_id", "n_id")
            val rr = topMap(Similarity.rerankTopK(cand, corpus,
              queries, "vec_id", "embedding", k = 10))
            f"recall@10=${recallOf(rr)}%.3f"
          }
          // (c) IVF-Flat: exact cosine over EVERY probed-cell member —
          // recall == cell coverage, cost = nProbe/nCells of brute
          timed(s"ann1m_ivfflat_probe$nProbe", reps = 2) {
            val probedQ = Similarity.assignCells(
              queries.select(col("vec_id").as("q_id"),
                col("embedding").cast("array<double>").as("qv"))
                .withColumn("qn", sqrt(call_function("vec_dot",
                  col("qv"), col("qv")))),
              "qv", "qn", centroids, "cell", take = nProbe)
            val cand = cellsOf.join(
              broadcast(probedQ.select("cell", "q_id")), Seq("cell"))
              .select("q_id", "n_id")
            val rr = topMap(Similarity.rerankTopK(cand, corpus,
              queries, "vec_id", "embedding", k = 10))
            f"recall@10=${recallOf(rr)}%.3f"
          }
        }
        corpus.unpersist(blocking = false)

      case "warccurate" =>
        // Verdict item 6's throughput half: the FUSED read+curate —
        // real multi-member .warc.gz files (one gzip member per
        // record, the ProbeR14 `warcfiles` synthesis) driven straight
        // into the full 12-stage curation pipeline. records/s is for
        // the whole composition, file bytes to funnel.
        import java.util.zip.GZIPOutputStream
        import graft.operators.CurationPipeline
        val sfDir = if (args.length > 1) args(1) else "/tmp/tds5"
        val crlf = "\r\n"
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val dir = java.nio.file.Files.createTempDirectory("warc15")
          .toString
        val nFiles = 4
        docs.repartition(nFiles).foreachPartition {
          it: Iterator[org.apache.spark.sql.Row] =>
            if (it.hasNext) {
              val f = java.nio.file.Files.createTempFile(
                java.nio.file.Paths.get(dir), "part-", ".warc.gz")
              val out = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(f.toFile), 1 << 20)
              it.foreach { r =>
                val id = r.getLong(0)
                val body = "<html><head><script>var x = 1;</script>" +
                  "</head><body><p>" + r.getString(1) +
                  (if (id % 2 == 0) " of and that have with" else "") +
                  "</p><a href=\"/n\">nav</a></body></html>"
                val http = "HTTP/1.1 200 OK" + crlf +
                  "Content-Type: text/html" + crlf + crlf + body
                val httpB = http.getBytes("UTF-8")
                val rec = ("WARC/1.0" + crlf +
                  "WARC-Type: response" + crlf +
                  s"WARC-Target-URI: https://site${id % 5}" +
                  (if (id % 5 == 2) ".spam-domain.com" else
                    ".example.org") + s"/doc/$id" + crlf +
                  "Content-Type: application/http" + crlf +
                  s"Content-Length: ${httpB.length}" + crlf + crlf)
                  .getBytes("UTF-8") ++ httpB ++
                  (crlf + crlf).getBytes("UTF-8")
                val shield = new java.io.FilterOutputStream(out) {
                  override def write(b: Array[Byte], o: Int,
                                     n: Int): Unit = out.write(b, o, n)
                  override def close(): Unit = ()
                }
                val g = new GZIPOutputStream(shield)
                g.write(rec); g.close()
              }
              out.close()
            }
        }
        val nRecs = docs.count()
        val mb = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(java.nio.file.Paths.get(dir))
            .iterator().asScala
            .map(p => java.nio.file.Files.size(p)).sum / 1e6
        }
        println(f"PROBE15 warccurate corpus $nRecs recs / $mb%.1f MB " +
          s"compressed in $nFiles files")
        timed("warccurate_fused", reps = 2) {
          val tStart = System.nanoTime()
          // read: gzip walk -> warc_parse -> 2xx filter -> extract;
          // curate: the full 12-stage funnel on the extracted text.
          // The html/url columns re-wrap the EXTRACTED text so the
          // pipeline's own extraction stage has real work (the l71
          // fixture shape) — records/s prices the whole path.
          val texts = graft.sources.WarcFiles
            .responseTexts(spark, s"$dir/*.warc.gz",
              splitBytes = 32L << 20)
            .select(
              regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
                .cast("long").as("doc_id"),
              col("target_uri").as("u"),
              concat(lit("<html><body><p>"), col("text"),
                lit("</p></body></html>")).as("html"))
            .withColumn("source",
              concat(lit("s"), pmod(col("doc_id"), lit(4L))))
          val funnel = CurationPipeline.run(texts, "doc_id", "source",
            "html", "u", blockedDomains = Seq("spam-domain.com"),
            lineMaxDf = (nRecs / 10).max(4L), gopherMinWords = 20,
            jaccN = 3, jaccThreshold = 0.2, jaccMaxDocFreq = 10,
            budgetPerSource = 100000L, packBudget = 2048L,
            trainPct = 80, valPct = 10,
            reline = c => concat(lit("nav home menu\n"),
              regexp_replace(c, " (the|a) ", "\n"),
              lit("\ncopyright footer 2024")))
          val rows = funnel.collect()
          f"funnel_rows=${rows.length} recs/s=${nRecs /
            math.max(0.001, (System.nanoTime() - tStart) / 1e9)}%.0f"
        }

      case "ohathresh" =>
        // Does the ObjectHashAggregate sort-based fallback (the §7
        // finding) also tax the BENCHED queries? The near-dup family
        // aggregates O(1)-state min_by/BoundedTopK over corpus-scale
        // group counts — all past the 128-key default, so all
        // sort-based today. Measure the registered queries at sf0.1
        // under the default vs a raised threshold; results must be
        // IDENTICAL (the conf is execution-strategy-only).
        val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
        val names = Seq("l2b_ngram_jaccard_capped", "l23_dup_span_removal",
          "l12c_cosine_near_dup_capped", "l40_canonical_dedup",
          "l5_knn_brute", "x8_collect_sorted")
        for (thresh <- Seq("128", "65536");
             name <- names) {
          spark.conf.set(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            thresh)
          timed(s"oha_${name}_t$thresh", reps = 2) {
            spark.sharedState.cacheManager.clearCache()
            val df = graft.SparkEntry.queries(name)(spark, sfDir)
            val n = df.count()
            s"rows=$n"
          }
        }
        spark.conf.set(
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
          "128")

      case "suffix" =>
        // l77 prefix-doubling at 250k docs / ~13.5M token positions,
        // three regimes: (a) content-diverse corpus — the early-stop
        // claim (rounds = ceil(log2(longest repeat)) + 1, not
        // log2(horizon) + 1); (b) diverse + a planted 64-token
        // boilerplate line on 10% of docs — the RISKS-row-1 skew shape:
        // one ~25k-position rank group persisting to the horizon, which
        // here is an AGGREGATION group (O(group) rows), never the
        // O(group^2) pairs that shape costs an n-gram pair join;
        // (c) x50 exact-replica corpus — EVERY position's suffix
        // duplicated cross-doc, all groups tied to the horizon, the
        // absolute worst case. Each regime also times the fixed-8
        // dupSpanRemoval comparator (what one l23 pass costs).
        import graft.operators.{Dedup, SuffixArray}
        val divDir = if (args.length > 1) args(1) else "/tmp/sfsuffix_div"
        val repDir = if (args.length > 2) args(2) else "/tmp/sfsuffix_rep"
        val div = spark.read.parquet(s"$divDir/documents.parquet")
        val boiler = (1 to 64).map(i => s"boil$i").mkString(" ")
        val planted = div.withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" " + boiler)))
            .otherwise(col("text")))
        val rep = spark.read.parquet(s"$repDir/documents.parquet")
        for ((label, docs) <- Seq("textdiv" -> div, "planted" -> planted,
            "replica" -> rep)) {
          timed(s"suffix_grid_$label", reps = 2) {
            val (out, rounds) = SuffixArray.gridDupSpansWithRounds(
              docs, "doc_id", "text", horizon = 64)
            val r = out.agg(
              coalesce(sum("n_dup_pos_8"), lit(0L)),
              coalesce(max("max_dup_span"), lit(0L)),
              count(lit(1))).collect()(0)
            s"rounds=$rounds dup8=${r.getLong(0)} " +
              s"maxspan=${r.getLong(1)} docs=${r.getLong(2)}"
          }
          timed(s"fixed8_l23_$label", reps = 2) {
            val out = Dedup.dupSpanRemoval(docs, "doc_id", "text", n = 8,
              hashedGramKeys = true)
            val r = out.agg(coalesce(sum("n_dup_positions"), lit(0L)),
              count(lit(1))).collect()(0)
            s"dup=${r.getLong(0)} docs=${r.getLong(1)}"
          }
        }

      case "compact1k" =>
        // RISKS row 6 says the uncompacted delta-log read dominates
        // "after ~10^3 batches" — measured only to 8 batches in
        // StreamOpsSpec. Drive the dedup standing index to 1,000
        // batches under tiered compaction (maxDeltas=8) and to 300
        // under no compaction, recording per-batch wall windows: the
        // tiered arm must stay FLAT, the uncompacted arm shows the
        // listed-dir growth. Batches are 100 docs with a 50k-key id
        // space so later batches carry real duplicates.
        import graft.streaming.StreamOps
        val base = java.nio.file.Files
          .createTempDirectory("graft_p15_c1k").toString
        def docsFor(b: Long, n: Int) = {
          val off = b * n
          spark.range(n).select(
            (col("id") + off).as("doc_id"),
            concat_ws(" ", lit("alpha tok"),
              pmod(col("id") + off, lit(50000L)).cast("string"),
              lit("body line"),
              pmod(col("id"), lit(97L)).cast("string")).as("text"))
        }
        val arms = args.drop(1) match {
          case a if a.nonEmpty => a.toSeq
          case _ => Seq("tiered", "uncompacted")
        }
        for (label <- arms) {
          val idx = s"$base/$label/index"
          val flags = s"$base/$label/flags"
          val (nBatches, sink) = label match {
            case "uncompacted" =>
              (300, StreamOps.dedupIndexForeachBatch(idx, flags,
                "doc_id", "text"))
            case "tiered" =>
              (1000, StreamOps.dedupIndexForeachBatchTiered(idx, flags,
                "doc_id", "text", maxDeltas = 8, fanout = 4))
            case other => sys.error(s"unknown compact1k arm: $other")
          }
          val walls = Array.ofDim[Double](nBatches)
          val t0 = System.nanoTime()
          for (b <- 0 until nBatches) {
            val tb = System.nanoTime()
            sink(docsFor(b.toLong, 100), b.toLong)
            walls(b) = (System.nanoTime() - tb) / 1e9
          }
          val total = (System.nanoTime() - t0) / 1e9
          def w(from: Int, until: Int): String = {
            val sl = walls.slice(from, until)
            f"${sl.sum / sl.length}%.3f"
          }
          val windows = Seq(0 -> 50, 100 -> 150, 250 -> 300)
            .filter(_._2 <= nBatches) ++
            (if (nBatches >= 1000) Seq(500 -> 550, 950 -> 1000)
             else Seq.empty)
          val detail = windows
            .map { case (a, b) => s"avg[$a,$b)=${w(a, b)}" }
            .mkString(" ")
          val idxPath = new org.apache.hadoop.fs.Path(idx)
          val fs = idxPath
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val nDirs = fs.listStatus(idxPath)
            .count(_.getPath.getName.startsWith("d="))
          val mb = fs.getContentSummary(idxPath).getLength / 1e6
          println(f"PROBE15 c1k_$label batches=$nBatches " +
            f"total=$total%.1f s dirs=$nDirs size=$mb%.1f MB $detail")
        }

      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}
