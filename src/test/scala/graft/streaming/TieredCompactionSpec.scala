package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The size-tiered compactor ([[StreamOps.compactStoreTiered]])
  * applied to every [[StreamOps.LsmStore]] beyond the exact-dedup
  * index it was built for in round 15. Each store
  * gets the dedup form's discipline: multi-batch parity against the
  * never-compacted run, the plain-delta cadence bound, evidence a
  * tier merge actually fired, and a post-compaction retry arm. Plus
  * unit arms for the rename-aside publish's two replay hazards (a
  * pre-existing phase-2 target outside the merged size class; a
  * `__replaced` leftover from a halt between park and publish).
  */
class TieredCompactionSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  import s.implicits._

  private def dirNames(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Seq.empty
    else f.listFiles().map(_.getName).filter(_.startsWith("d="))
      .toSeq.sorted
  }

  test("tiered lineFreq sink: 20-batch standing df equals the " +
    "never-compacted run, plain deltas cadence-bounded, a tier merge " +
    "fires, post-compaction retry absorbed", graft.SlowProof) {
    val root = java.nio.file.Files
      .createTempDirectory("graft_linefreq_tiered").toString
    val plainSink = StreamOps.lineFreqForeachBatch(
      s"$root/p", "doc_id", "text")
    val tierSink = StreamOps.tieredForeachBatch(s"$root/t",
      StreamOps.LsmStore.lineFreq, maxDeltas = 3, fanout = 2)(
      StreamOps.lineFreqForeachBatch(s"$root/t", "doc_id", "text"))
    val hdr = "nav home menu"
    val batches = (1L to 20L).map { b =>
      b -> Seq(
        (b * 10 + 1, s"$hdr\nuniq-$b-one"),
        (b * 10 + 2, s"$hdr\nuniq-$b-two\nshared quote"))
        .toDF("doc_id", "text")
    }
    for ((b, df) <- batches) {
      plainSink(df, b); tierSink(df, b)
      assert(StreamOps.plainDeltaDirCount(s, s"$root/t") <= 3,
        s"plain-delta cadence bound broken after batch $b")
    }
    def freq(path: String) = StreamOps.lineFreq(s, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = freq(s"$root/p")
    assert(freq(s"$root/t") == expected,
      "tiered compaction changed the standing line df")
    assert(dirNames(s"$root/p").length == 20)
    val tdirs = dirNames(s"$root/t")
    assert(tdirs.length <= 8, s"tiered dirs unbounded: $tdirs")
    val segs = tdirs.filter(_.startsWith("d=c"))
    assert(segs.nonEmpty, "no compacted segment exists")
    assert(segs.exists(_.contains("t")) || segs.length == 1,
      s"no tier merge ever fired: $segs")
    // THE additive-fold hazard: retry a batch whose delta a segment
    // already consumed. The re-created d=9 carries the batch's full
    // line counts again, and a sum over "all listed dirs" would
    // double-count them — only the segment manifests' plains-consumed
    // watermark (d=9 <= watermark -> excluded from reads, deleted at
    // the next compactor entry) keeps the fold exact.
    tierSink(batches(8)._2, 9L)
    assert(freq(s"$root/t") == expected,
      "post-compaction retry double-counted the batch's lines")
  }

  test("tiered funnel/retention dashboard delta logs: 20-batch " +
    "dashboards equal the never-compacted runs, dirs bounded, " +
    "post-compaction retry absorbed", graft.SlowProof) {
    val day = 86400000000L
    val root = java.nio.file.Files
      .createTempDirectory("graft_dash_tiered").toString
    val stages = Seq("view", "click", "purchase")
    val types = Seq("view", "click", "purchase")
    val batches = (0L until 20L).map { b =>
      b -> Seq(
        (b % 5, types((b % 3).toInt), b * day / 2 + 7L),
        ((b + 2) % 5, types(((b + 1) % 3).toInt), b * day / 3 + 11L))
        .toDF("user_id", "event_type", "ts_us")
    }
    val fPlain = StreamOps.stageFunnelForeachBatchDelta(
      s"$root/fp", "user_id", "event_type", "ts_us", stages)
    val fTier = StreamOps.tieredForeachBatch(s"$root/ft",
      StreamOps.LsmStore.stageFunnel("user_id", stages), maxDeltas = 3,
      fanout = 2)(StreamOps.stageFunnelForeachBatchDelta(s"$root/ft",
      "user_id", "event_type", "ts_us", stages))
    val rPlain = StreamOps.retentionForeachBatchDelta(
      s"$root/rp", "user_id", "ts_us")
    val rTier = StreamOps.tieredForeachBatch(s"$root/rt",
      StreamOps.LsmStore.retention, maxDeltas = 3, fanout = 2)(
      StreamOps.retentionForeachBatchDelta(s"$root/rt", "user_id",
        "ts_us"))
    for ((b, df) <- batches) {
      fPlain(df, b); fTier(df, b); rPlain(df, b); rTier(df, b)
      assert(StreamOps.plainDeltaDirCount(s, s"$root/ft") <= 3)
      assert(StreamOps.plainDeltaDirCount(s, s"$root/rt") <= 3)
    }
    def funnelRow(path: String): Seq[Long] =
      StreamOps.stageFunnelFromDeltas(s, path, "user_id", stages)
        .collect()(0).toSeq.map(_.asInstanceOf[Long])
    def retMap(path: String) =
      StreamOps.retentionFromDeltas(s, path).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expF = funnelRow(s"$root/fp")
    val expR = retMap(s"$root/rp")
    assert(funnelRow(s"$root/ft") == expF,
      "tiered compaction changed the funnel dashboard")
    assert(retMap(s"$root/rt") == expR,
      "tiered compaction changed the retention dashboard")
    assert(dirNames(s"$root/fp").length == 20)
    assert(dirNames(s"$root/ft").length <= 8,
      s"funnel tiered dirs unbounded: ${dirNames(s"$root/ft")}")
    assert(dirNames(s"$root/rt").length <= 8,
      s"retention tiered dirs unbounded: ${dirNames(s"$root/rt")}")
    // retry a compacted-away batch: min/distinct reads absorb the
    // duplicate rows the re-created delta carries
    fTier(batches(7)._2, 7L); rTier(batches(7)._2, 7L)
    assert(funnelRow(s"$root/ft") == expF)
    assert(retMap(s"$root/rt") == expR)
  }

  test("tiered near-dup / prefix / edit-distance index compaction: " +
    "purely physical under per-batch firing, pair logs equal the " +
    "never-compacted runs, post-compaction batches still match the " +
    "standing corpus", graft.SlowProof) {
    val root = java.nio.file.Files
      .createTempDirectory("graft_idx_tiered").toString
    val t1 = "a b c d e f g h i j"
    val t3 = "p q r s t u v w x y"
    val ndBatches = Seq(
      Seq((1L, t1), (3L, t3)),
      Seq((2L, t1 + " k"), (6L, "m n o zz q2 r2 s2 t2 u2 v2")),
      Seq((5L, t1 + " l"), (4L, t3 + " z")),
      Seq((7L, t3 + " z2"), (8L, "f1 f2 f3 f4 f5 f6 f7 f8")),
      Seq((9L, t1 + " m"), (10L, "g1 g2 g3 g4 g5 g6 g7 g8")),
      Seq((11L, t3 + " z3"), (12L, t1 + " n")))

    // near-dup: uncompacted vs tiered-compacted after EVERY batch
    val ndPlain = StreamOps.nearDupIndexForeachBatch(
      s"$root/ndp/index", s"$root/ndp/pairs", "doc_id", "text")
    val ndTier = StreamOps.nearDupIndexForeachBatch(
      s"$root/ndt/index", s"$root/ndt/pairs", "doc_id", "text")
    ndBatches.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("doc_id", "text")
      ndPlain(df, i.toLong)
      ndTier(df, i.toLong)
      StreamOps.compactStoreTiered(s, s"$root/ndt/index",
        StreamOps.LsmStore.nearDup, upTo = i.toLong, fanout = 2)
    }
    def pairs(path: String) = s.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("batch"), r.getLong(0), r.getLong(1)))
      .toSet
    def pairsNoBatch(path: String) = s.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsNoBatch(s"$root/ndt/pairs") ==
      pairsNoBatch(s"$root/ndp/pairs"),
      "per-batch tiered compaction changed the near-dup pair stream")
    def shSet(path: String) = StreamOps.readLog(s, path,
        StreamOps.LsmStore.nearDup, "shingles")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet,
        r.getLong(2))).toSet
    assert(shSet(s"$root/ndt/index") == shSet(s"$root/ndp/index"),
      "tiered compaction changed the logical near-dup shingle store")
    val ndDirs = dirNames(s"$root/ndt/index/buckets")
    assert(ndDirs.exists(_.startsWith("d=c")),
      s"near-dup compaction never produced a segment: $ndDirs")

    // prefix-filter index: same treatment
    val pfPlain = StreamOps.prefixDupIndexForeachBatch(
      s"$root/pfp/index", s"$root/pfp/pairs", "doc_id", "text")
    val pfTier = StreamOps.prefixDupIndexForeachBatch(
      s"$root/pft/index", s"$root/pft/pairs", "doc_id", "text")
    ndBatches.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("doc_id", "text")
      pfPlain(df, i.toLong)
      pfTier(df, i.toLong)
      StreamOps.compactStoreTiered(s, s"$root/pft/index",
        StreamOps.LsmStore.prefixDup, upTo = i.toLong, fanout = 2)
    }
    assert(pairsNoBatch(s"$root/pft/pairs") ==
      pairsNoBatch(s"$root/pfp/pairs"),
      "per-batch tiered compaction changed the prefix-dup pair stream")
    def pxSet(path: String) = StreamOps.readLog(s, path,
        StreamOps.LsmStore.prefixDup, "prefixes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pxSet(s"$root/pft/index") == pxSet(s"$root/pfp/index"),
      "tiered compaction changed the logical prefix store")

    // edit-distance index: same treatment over its three stores
    val k = 4
    val edBatches = Seq(
      Seq((1L, "the quick brown fox jumps over the lazy dog tonight"),
        (10L, "ab")),
      Seq((3L, "the quick brown fox jumps over the lazy cat tonight"),
        (11L, "abx")),
      Seq((5L, "the quick brown fox jumps over the lazy dog tonight!"),
        (12L, "a")),
      Seq((6L, "the quick brown fox jumps over the hazy dog tonight"),
        (13L, "aby")))
    val edPlain = StreamOps.edDistIndexForeachBatch(
      s"$root/edp/index", s"$root/edp/pairs", k, "doc_id", "text")
    val edTier = StreamOps.edDistIndexForeachBatch(
      s"$root/edt/index", s"$root/edt/pairs", k, "doc_id", "text")
    edBatches.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("doc_id", "text")
      edPlain(df, i.toLong)
      edTier(df, i.toLong)
      StreamOps.compactStoreTiered(s, s"$root/edt/index",
        StreamOps.LsmStore.edDist, upTo = i.toLong, fanout = 2)
    }
    def edPairs(path: String) = s.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("dist"))).toSet
    assert(edPairs(s"$root/edt/pairs") == edPairs(s"$root/edp/pairs"),
      "per-batch tiered compaction changed the edit-distance pairs")
    // the cross-batch pairs the index exists for still formed
    val got = edPairs(s"$root/edt/pairs").map(p => (p._1, p._2))
    assert(got.contains((1L, 6L)) && got.contains((10L, 13L)),
      s"post-compaction batches lost standing partners: $got")
  }

  test("phase-2 replay hazard: a pre-existing d=c<upTo>t1 OUTSIDE the " +
    "merged size class is absorbed, not deleted unmerged") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_phase2").toString
    // planted target: LARGE (own size class), holds a unique hash the
    // re-fired merge's sources do not carry — pre-fix, publishing
    // d=c5t1 from the small class deleted it unmerged
    (1 to 2000).map(i => (f"bulk-$i%05d", 2L))
      .toDF("content_hash", "first_batch")
      .unionByName(Seq(("precious", 1L)).toDF("content_hash",
        "first_batch"))
      .coalesce(1).write.parquet(s"$root/d=c5t1")
    // two SMALL segments in a shared (different) size class
    Seq(("small-a", 3L)).toDF("content_hash", "first_batch")
      .coalesce(1).write.parquet(s"$root/d=c3")
    Seq(("small-b", 4L)).toDF("content_hash", "first_batch")
      .coalesce(1).write.parquet(s"$root/d=c4")
    val before = StreamOps.dedupIndex(s, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    StreamOps.compactStoreTiered(s, root, StreamOps.LsmStore.dedup,
      upTo = 5L, fanout = 2)
    val after = StreamOps.dedupIndex(s, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before,
      "phase-2 name collision lost hashes held only by the old target")
    assert(after.contains(("precious", 1L)))
    val dirs = dirNames(root)
    assert(!dirs.contains("d=c3") && !dirs.contains("d=c4"),
      s"merged sources must be deleted: $dirs")
  }

  test("__replaced leftovers recover at compactor entry: park-only " +
    "crash restores the segment, park+publish crash drops the subset") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_replaced").toString
    // halt between park and publish: only the aside copy exists
    Seq(("orphan", 1L)).toDF("content_hash", "first_batch")
      .coalesce(1).write.parquet(s"$root/d=c7__replaced")
    // halt between publish and cleanup: target (superset) + aside
    Seq(("kept", 2L), ("extra", 3L))
      .toDF("content_hash", "first_batch")
      .coalesce(1).write.parquet(s"$root/d=c8")
    Seq(("kept", 2L)).toDF("content_hash", "first_batch")
      .coalesce(1).write.parquet(s"$root/d=c8__replaced")
    // both leftovers are reader-VISIBLE even before recovery (readers
    // exclude only __staging) — no loss window
    val preRecovery = StreamOps.dedupIndex(s, root)
      .select("content_hash").distinct().collect()
      .map(_.getString(0)).toSet
    assert(preRecovery == Set("orphan", "kept", "extra"))
    // fanout=3: with only two recovered segments no tier merge fires,
    // so the recovery outcome is observable by name
    StreamOps.compactStoreTiered(s, root, StreamOps.LsmStore.dedup,
      upTo = 9L, fanout = 3)
    val dirs = dirNames(root)
    assert(dirs.contains("d=c7"), s"park-only aside not restored: $dirs")
    assert(!dirs.exists(_.endsWith("__replaced")),
      s"aside leftovers must be gone after recovery: $dirs")
    val after = StreamOps.dedupIndex(s, root)
      .select("content_hash").distinct().collect()
      .map(_.getString(0)).toSet
    assert(after == Set("orphan", "kept", "extra"))
  }
}
