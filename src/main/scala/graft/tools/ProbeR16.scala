package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Dev-only: the round-16 scale-evidence runs behind SCALE_r16.md.
  *
  * Modes (arg 1):
  *  - `suffixdelta`: RISKS row 15's stance priced (round-15 verdict
  *    item 5). The documented policy for incremental corpora is
  *    "fixed-n span flags per batch ([[graft.streaming.StreamOps
  *    .dupSpanIndexForeachBatch]]), recompute the l77 grid per
  *    release". This measures, at a 250k-doc standing corpus (the
  *    ProbeR15 `suffix` corpus): (a) the per-batch cost of the
  *    streamed fixed-8 pass for a 2.5k-doc batch (1%) against the
  *    standing gram index, at several standing sizes; (b) the full
  *    grid recompute; and prints the CROSSOVER — how many batches of
  *    delta-log flagging cost one grid recompute. Release cadences
  *    shorter than that many batches should just recompute the grid.
  *  - `lsmtail`: flat-tail proof for a NON-dedup store under the
  *    shared tiered compactor (round-15 verdict item 2's probe row):
  *    drives the ADDITIVE lineFreq store (the fold where compaction
  *    correctness is hardest) for 600 batches under the tiered sink
  *    (maxDeltas=8), printing per-100-batch wall windows and live
  *    bytes: the tail must stay flat.
  */
object ProbeR16 {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark = Sessions.build("graft-probe-r16", Sessions.cpusFromEnv(32))
    val metrics = TaskMetricsListener.installed(spark)

    def timed[T](name: String, reps: Int = 3)(body: => T): Unit =
      for (rep <- 1 to reps) {
        metrics.reset()
        val t0 = System.nanoTime()
        val r = body
        metrics.drain()
        println(f"PROBE16 $name rep$rep " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s result=$r " +
          f"shuffle=${metrics.shuffleWriteMb} MB " +
          f"spill=${metrics.spillMb} MB " +
          f"maxTask=${metrics.maxTaskSec}%.1f s")
      }

    mode match {
      case "suffixdelta" =>
        import graft.operators.SuffixArray
        import graft.streaming.StreamOps
        val divDir = if (args.length > 1) args(1) else "/tmp/sfsuffix_div"
        val div = spark.read.parquet(s"$divDir/documents.parquet")
          .select("doc_id", "text").cache()
        val total = div.count()
        println(s"PROBE16 corpus docs=$total")
        // batches of 1%: bootstrap the standing index to 25%/50%/100%
        // of the corpus, then time one arriving batch at each size —
        // the per-batch cost curve vs standing size is the number the
        // policy needs (flat-ish = index read is bounded by compaction)
        val root = java.nio.file.Files
          .createTempDirectory("graft_suffixdelta").toString
        val sink = StreamOps.dupSpanIndexForeachBatchTiered(
          s"$root/index", s"$root/flags", "doc_id", "text", n = 8,
          maxDeltas = 8, hashedGramKeys = true)
        def slice(fromPct: Long, toPct: Long) =
          div.filter(pmod(col("doc_id"), lit(100L)) >= fromPct &&
            pmod(col("doc_id"), lit(100L)) < toPct)
        // bootstrap in 1%-slice batches; %-buckets 97-99 are reserved
        // as FRESH measurement batches so each timed arm sees docs the
        // standing index has never indexed (a re-sent batch would
        // measure the cheaper all-known path instead)
        var nextPct = 0L
        var batchId = 0L
        def bootstrapTo(pct: Long): Unit =
          while (nextPct < pct) {
            sink(slice(nextPct, nextPct + 1L), batchId)
            nextPct += 1L; batchId += 1L
          }
        for ((standPct, freshPct) <- Seq((25L, 97L), (50L, 98L),
            (96L, 99L))) {
          bootstrapTo(standPct)
          timed(s"span_batch_at_${standPct}pct", reps = 1) {
            sink(slice(freshPct, freshPct + 1L), 1000L + freshPct)
            val f = spark.read
              .parquet(s"$root/flags/batch=${1000L + freshPct}")
              .agg(coalesce(sum("n_dup_positions"), lit(0L)),
                count(lit(1))).collect()(0)
            s"dup=${f.getLong(0)} docs=${f.getLong(1)}"
          }
        }
        timed("grid_recompute_full", reps = 2) {
          val (out, rounds) = SuffixArray.gridDupSpansWithRounds(
            div, "doc_id", "text", horizon = 64)
          val r = out.agg(coalesce(sum("n_dup_pos_8"), lit(0L)),
            count(lit(1))).collect()(0)
          s"rounds=$rounds dup8=${r.getLong(0)} docs=${r.getLong(1)}"
        }

      case "lsmtail" =>
        import graft.streaming.StreamOps
        val batches = if (args.length > 1) args(1).toInt else 600
        val docsPer = 200
        val root = java.nio.file.Files
          .createTempDirectory("graft_lsmtail").toString
        import spark.implicits._
        val hdr = "nav home menu shared footer line"
        def batchDf(b: Long) = (1 to docsPer).map { i =>
          (b * 1000 + i,
            s"$hdr\nuniq-$b-$i-one\nuniq-$b-$i-two\nshared quote $i")
        }.toDF("doc_id", "text")
        val statePath = s"$root/t"
        val sink = StreamOps.tieredForeachBatch(statePath,
          StreamOps.LsmStore.lineFreq, maxDeltas = 8)(
          StreamOps.lineFreqForeachBatch(statePath, "doc_id", "text"))
        var windowStart = System.nanoTime()
        for (b <- 1 to batches) {
          sink(batchDf(b.toLong), b.toLong)
          if (b % 100 == 0) {
            val secs = (System.nanoTime() - windowStart) / 1e9
            val dirs = new java.io.File(statePath).listFiles()
              .count(_.getName.startsWith("d="))
            val bytes = {
              def sz(f: java.io.File): Long =
                if (f.isFile) f.length()
                else Option(f.listFiles()).map(_.map(sz).sum)
                  .getOrElse(0L)
              sz(new java.io.File(statePath)) / (1 << 20)
            }
            println(f"PROBE16 lsmtail_tiered batches=$b " +
              f"window100=$secs%.1f s dirs=$dirs liveMB=$bytes")
            windowStart = System.nanoTime()
          }
        }

      case other =>
        println(s"PROBE16 unknown mode $other")
    }
    spark.stop()
    sys.exit(0)
  }
}
