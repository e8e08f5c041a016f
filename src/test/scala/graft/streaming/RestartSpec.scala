package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tools.ChildJvm

/** CROSS-PROCESS streaming restart proof — the round-14 verdict's one
  * unproven claim: every standing-index sink is idempotent-by-marker,
  * but until now only re-invoked in-process. Here the dedup delta-log,
  * incremental-components, and quality-quota states are driven by a
  * REAL child JVM ([[graft.tools.RestartDriver]]) off a file-based
  * readStream with a real checkpointLocation; the child is
  * Runtime.halt()ed immediately after a batch's states PUBLISH but
  * before Spark writes the streaming commit log (the
  * published-but-unacknowledged window), then a SECOND, fresh JVM
  * resumes from the checkpoint. The spec asserts the window actually
  * happened (state marker ahead of the commit log), that the replayed
  * batch is absorbed exactly once, and that the final states equal the
  * one-shot batch operators over everything streamed. The checkpointed
  * curation pipeline gets the same treatment through
  * [[graft.tools.CurationKillDriver]]: halted after a stage commits,
  * resumed in a fresh JVM.
  */
class RestartSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  import s.implicits._

  private def runChild(args: Seq[String]): (Int, String) =
    ChildJvm.run("graft.tools.RestartDriver", args, "4g")

  private def listLog(ckpt: String, sub: String): Seq[Long] = {
    val d = new File(s"$ckpt/$sub")
    if (!d.exists()) Nil
    else d.listFiles().map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted.toSeq
  }

  private def marker(path: String): Option[Long] = {
    val f = new File(s"$path/_GRAFT_BATCH")
    if (!f.exists()) None
    else new String(Files.readAllBytes(f.toPath), "UTF-8")
      .trim.toLongOption
  }

  // 4 micro-batches, one parquet FILE each (maxFilesPerTrigger=1),
  // ordered by explicit mtime. Cross-batch dup texts exercise the
  // delta-log's at-arrival flags; batch 3's (3,100) edge merges two
  // standing components AFTER the restart.
  private val batches: Seq[Seq[(Long, String, String, Long, Long)]] =
    Seq(
      Seq((0L, "web", "alpha beta gamma", 0L, 1L),
        (1L, "web", "delta epsilon", 1L, 2L),
        (2L, "books", "zeta eta theta iota", 100L, 101L),
        (3L, "books", "kappa lambda", 100L, 101L),
        (4L, "web", "mu nu xi omicron pi", 0L, 1L)),
      Seq((10L, "web", "Alpha  BETA gamma", 2L, 3L), // dup of doc 0
        (11L, "web", "rho sigma tau", 101L, 102L),
        (12L, "books", "upsilon phi chi psi", 2L, 3L)),
      Seq((20L, "web", "rho  SIGMA tau", 200L, 201L), // dup of doc 11
        (21L, "books", "delta epsilon", 200L, 201L), // dup of doc 1
        (22L, "web", "omega aleph bet", 201L, 202L)),
      Seq((30L, "books", "OMEGA aleph bet", 3L, 100L), // dup of doc 22
        (31L, "web", "gimel dalet he vav", 3L, 100L)))

  private def writeInput(root: String, inputDir: String): Unit = {
    val stage = s"$root/stage"
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "source", "text", "src", "dst")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new File(inputDir, f"f$i%02d.parquet")
      Files.copy(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + i * 60000L)
    }
  }

  test("cross-process restart: halt after a published-but-" +
    "unacknowledged batch, resume in a fresh JVM, final state == " +
    "one-shot operators", graft.SlowProof) {
    val root = Files.createTempDirectory("graft_restart").toString
    val inputDir = s"$root/input"; new File(inputDir).mkdirs()
    val ckpt = s"$root/ckpt"
    val stateRoot = s"$root/state"
    val refRoot = s"$root/ref"

    writeInput(root, inputDir)

    // --- run 1: crash immediately after batch 1's states publish ---
    val (code1, out1) = runChild(
      Seq(inputDir, ckpt, stateRoot, "1"))
    assert(code1 == 42, s"crash run should halt(42); got $code1\n$out1")
    assert(out1.contains("halting post-publish batch=1"), out1)

    // the window under test REALLY happened: batch 1's offsets are
    // planned and its states live with markers, but the commit log
    // stops at batch 0 — published, not acknowledged
    assert(listLog(ckpt, "offsets") == Seq(0L, 1L))
    assert(listLog(ckpt, "commits") == Seq(0L),
      "batch 1 must be uncommitted (halt skips the commit write)")
    assert(marker(s"$stateRoot/quota").contains(1L))
    assert(marker(s"$stateRoot/cc").contains(1L))

    // --- run 2: FRESH JVM resumes from the checkpoint, replays the
    // unacknowledged batch 1, then drains batches 2 and 3 ---
    val (code2, out2) = runChild(
      Seq(inputDir, ckpt, stateRoot, "-1"))
    assert(code2 == 0, s"resume run failed: $code2\n$out2")
    assert(out2.contains("RESTARTDRIVER done"), out2)
    assert(out2.contains("published batch=1"),
      "resume must replay the unacknowledged batch")
    assert(listLog(ckpt, "commits") == Seq(0L, 1L, 2L, 3L))
    assert(marker(s"$stateRoot/quota").contains(3L))

    // --- parity 1: in-process replay of the same sinks (the one-shot
    // daily-ingest operators, batch by batch) ---
    val dedupRef = StreamOps.dedupIndexForeachBatch(
      s"$refRoot/index", s"$refRoot/flags", "doc_id", "text")
    val ccRef = StreamOps.componentsForeachBatch(
      s"$refRoot/cc", "src", "dst")
    val quotaRef = StreamOps.quotaForeachBatch(
      s"$refRoot/quota", "source", "doc_id", "text")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("doc_id", "source", "text", "src", "dst")
      dedupRef(df, i.toLong); ccRef(df, i.toLong); quotaRef(df, i.toLong)
    }

    def flagsOf(base: String): Map[(Long, Long), Long] =
      (0 to 3).flatMap { i =>
        s.read.parquet(s"$base/batch=$i").collect()
          .map(r => (i.toLong, r.getAs[Long]("doc_id")) ->
            r.getAs[Long]("dup_of_existing"))
      }.toMap
    val streamedFlags = flagsOf(s"$stateRoot/flags")
    assert(streamedFlags == flagsOf(s"$refRoot/flags"))
    // spot-pin the at-arrival semantics across the crash boundary
    assert(streamedFlags((1L, 10L)) == 1L, "dup of pre-crash doc 0")
    assert(streamedFlags((2L, 20L)) == 1L,
      "dup of doc published by the CRASHED batch")
    assert(streamedFlags((3L, 31L)) == 0L)

    def indexSet(path: String) = StreamOps.dedupIndex(s, path)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(indexSet(s"$stateRoot/index") == indexSet(s"$refRoot/index"))

    def quotaSet(path: String) = s.read.parquet(path).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("quality"),
        r.getAs[Long]("tokens"))).toSet
    assert(quotaSet(s"$stateRoot/quota") == quotaSet(s"$refRoot/quota"))

    def ccMap(path: String) = StreamOps.componentsFromState(s, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamedCc = ccMap(s"$stateRoot/cc")
    assert(streamedCc == ccMap(s"$refRoot/cc"))

    // --- parity 2: against the true ONE-SHOT operators over all input
    val allDocs = batches.flatten
      .toDF("doc_id", "source", "text", "src", "dst")
    val oneShotQuota = graft.operators.CorpusAssembly
      .scoreDocs(allDocs, "source", "doc_id", "text")
      .groupBy("source", "quality").agg(sum("n_tokens").as("tokens"))
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("quality"), r.getAs[Long]("tokens"))).toSet
    assert(quotaSet(s"$stateRoot/quota") == oneShotQuota,
      "additive quota state must not double-count the replayed batch")
    val oneShotCc = graft.operators.GraphRank
      .connectedComponents(allDocs.select("src", "dst"), "src", "dst")
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Long]("component")).toMap
    assert(streamedCc == oneShotCc)
    // batch 3 (post-restart) really merged the two standing components
    assert(streamedCc(0L) == streamedCc(102L))
  }

  test("cross-process restart with TIERED compaction: the crashed " +
    "batch's delta is subsumed by a segment before the fresh JVM " +
    "replays it, and flags/index still equal the never-compacted run", graft.SlowProof) {
    val root = Files.createTempDirectory("graft_restart_t").toString
    val inputDir = s"$root/input"; new File(inputDir).mkdirs()
    val ckpt = s"$root/ckpt"
    val stateRoot = s"$root/state"
    val refRoot = s"$root/ref"
    writeInput(root, inputDir)

    // crash after batch 1 under maxDeltas=2/fanout=2: batch 0's and
    // batch 1's deltas have already compacted into a segment by the
    // time the halt fires, so the fresh JVM's replay of batch 1
    // re-creates d=1 NEXT TO the segment holding the same hashes —
    // the documented absorb case, across real process death
    val (code1, out1) = runChild(
      Seq(inputDir, ckpt, stateRoot, "1", "tiered"))
    assert(code1 == 42, s"crash run should halt(42); got $code1\n$out1")
    assert(listLog(ckpt, "commits") == Seq(0L),
      "batch 1 must be uncommitted (halt skips the commit write)")
    val segsAtCrash = new File(s"$stateRoot/index").listFiles()
      .map(_.getName).filter(_.startsWith("d=c"))
    assert(segsAtCrash.nonEmpty,
      "compaction must have fired before the crash (non-vacuity)")

    val (code2, out2) = runChild(
      Seq(inputDir, ckpt, stateRoot, "-1", "tiered"))
    assert(code2 == 0, s"resume run failed: $code2\n$out2")
    assert(out2.contains("published batch=1"),
      "resume must replay the unacknowledged batch")
    assert(listLog(ckpt, "commits") == Seq(0L, 1L, 2L, 3L))

    // parity vs the never-compacted in-process run
    val dedupRef = StreamOps.dedupIndexForeachBatch(
      s"$refRoot/index", s"$refRoot/flags", "doc_id", "text")
    batches.zipWithIndex.foreach { case (rows, i) =>
      dedupRef(rows.toDF("doc_id", "source", "text", "src", "dst"),
        i.toLong)
    }
    def flagsOf(base: String): Map[(Long, Long), Long] =
      (0 to 3).flatMap { i =>
        s.read.parquet(s"$base/batch=$i").collect()
          .map(r => (i.toLong, r.getAs[Long]("doc_id")) ->
            r.getAs[Long]("dup_of_existing"))
      }.toMap
    val streamed = flagsOf(s"$stateRoot/flags")
    assert(streamed == flagsOf(s"$refRoot/flags"))
    assert(streamed((2L, 20L)) == 1L,
      "dup of a doc whose delta was compacted away pre-crash")
    def indexSet(path: String) = StreamOps.dedupIndex(s, path)
      .select("content_hash", "first_batch").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(indexSet(s"$stateRoot/index") == indexSet(s"$refRoot/index"),
      "tiered compaction across the crash changed the logical index")
  }

  test("cross-process restart halting INSIDE tiered compaction, " +
    "between the segment publish rename and the source deletes: the " +
    "replayed compaction absorbs the published segment instead of " +
    "deleting hashes the replayed sources no longer carry", graft.SlowProof) {
    val root = Files.createTempDirectory("graft_restart_w").toString
    val inputDir = s"$root/input"; new File(inputDir).mkdirs()
    val ckpt = s"$root/ckpt"
    val stateRoot = s"$root/state"
    val refRoot = s"$root/ref"
    writeInput(root, inputDir)

    // maxDeltas=2/fanout=2: batch 1 triggers compaction at upTo=1;
    // the injection halts(43) right after `d=c1` renames live, with
    // d=0 and d=1 still on disk and batch 1 unacknowledged — the
    // round-15 ADVICE window: on replay the foreachBatch re-creates
    // d=1 EMPTY (its hashes already live in d=c1), the re-fired
    // compaction's plain sources therefore lack batch 1's hashes, and
    // only the absorb-the-existing-target discipline keeps them.
    val (code1, out1) = runChild(
      Seq(inputDir, ckpt, stateRoot, "-1", "tiered", "d=c1"))
    assert(code1 == 43, s"crash run should halt(43); got $code1\n$out1")
    assert(out1.contains("halting post-publish segment=d=c1"), out1)
    assert(listLog(ckpt, "commits") == Seq(0L),
      "batch 1 must be uncommitted (halt inside its foreachBatch)")
    // the window REALLY happened: segment live AND sources undeleted
    val dirsAtCrash = new File(s"$stateRoot/index").listFiles()
      .map(_.getName).toSet
    assert(dirsAtCrash.contains("d=c1"), s"$dirsAtCrash")
    assert(dirsAtCrash.contains("d=0") && dirsAtCrash.contains("d=1"),
      s"sources must still exist at the halt: $dirsAtCrash")

    val (code2, out2) = runChild(
      Seq(inputDir, ckpt, stateRoot, "-1", "tiered"))
    assert(code2 == 0, s"resume run failed: $code2\n$out2")
    assert(out2.contains("published batch=1"),
      "resume must replay the unacknowledged batch")
    assert(listLog(ckpt, "commits") == Seq(0L, 1L, 2L, 3L))

    val dedupRef = StreamOps.dedupIndexForeachBatch(
      s"$refRoot/index", s"$refRoot/flags", "doc_id", "text")
    batches.zipWithIndex.foreach { case (rows, i) =>
      dedupRef(rows.toDF("doc_id", "source", "text", "src", "dst"),
        i.toLong)
    }
    def flagsOf(base: String): Map[(Long, Long), Long] =
      (0 to 3).flatMap { i =>
        s.read.parquet(s"$base/batch=$i").collect()
          .map(r => (i.toLong, r.getAs[Long]("doc_id")) ->
            r.getAs[Long]("dup_of_existing"))
      }.toMap
    val streamed = flagsOf(s"$stateRoot/flags")
    assert(streamed == flagsOf(s"$refRoot/flags"))
    // THE assertion the pre-fix code fails: doc 20 duplicates doc 11,
    // whose hash lived only in the published-then-reabsorbed d=c1 at
    // the replayed compaction — losing it flags 20 first-seen
    assert(streamed((2L, 20L)) == 1L,
      "hash published by the crashed compaction was lost on replay")
    def indexSet(path: String) = StreamOps.dedupIndex(s, path)
      .select("content_hash", "first_batch").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(indexSet(s"$stateRoot/index") == indexSet(s"$refRoot/index"),
      "crash inside compaction changed the logical index")
  }

  test("cross-process curation restart: halt after stage 6 commits, " +
    "resume in a fresh JVM — stages 1-6 reused untouched, funnel == " +
    "the uninterrupted run's", graft.SlowProof) {
    val corpusDir = graft.plans.PlanGolden.sfDir // the gate SF, sf0.01
    val corpus = new File(s"$corpusDir/documents.parquet")
    assert(corpus.exists(), s"curation corpus missing: $corpus")
    val root = Files.createTempDirectory("graft_curation_kill").toString
    val dirA = s"$root/uninterrupted"
    val dirB = s"$root/killed"
    def runDriver(stageDir: String, haltAfter: Int): (Int, String) =
      ChildJvm.run("graft.tools.CurationKillDriver",
        Seq(corpusDir, stageDir, haltAfter.toString), "4g")
    // stdout and stderr share one pipe: a log line can run into a
    // funnel line, so match the marker anywhere and cut from it
    def funnel(out: String): Seq[String] = {
      val tag = "CURATIONKILL funnel"
      out.linesIterator.filter(_.contains(tag))
        .map(l => l.substring(l.indexOf(tag))).toSeq
    }
    // stage-table dir -> its _SUCCESS commit mtime
    def commits(dir: String): Map[String, Long] =
      new File(dir).listFiles().filter(_.isDirectory).flatMap { st =>
        val ok = new File(st, "_SUCCESS")
        if (ok.exists()) Some(st.getName -> ok.lastModified()) else None
      }.toMap

    val (codeA, outA) = runDriver(dirA, -1)
    assert(codeA == 0, s"uninterrupted run failed rc=$codeA\n$outA")
    assert(funnel(outA).nonEmpty, outA)

    val (codeB, outB) = runDriver(dirB, 6)
    assert(codeB != 0, "the halt after stage 6 lost the race to " +
      "completion (rc 0): the run finished before the watcher fired, " +
      s"so no restart was exercised\n$outB")
    assert(codeB == 42, s"kill run should halt(42); got $codeB\n$outB")
    assert(outB.contains("CURATIONKILL halting after stage 6"), outB)
    val beforeRestart = commits(dirB)
    val firstSix = (1 to 6).flatMap(i => Seq(s"s$i", s"funnel_s$i"))
    assert(firstSix.forall(beforeRestart.contains),
      s"stages 1-6 not all committed at the halt: $beforeRestart")

    val (codeC, outC) = runDriver(dirB, -1)
    assert(codeC == 0, s"restart run failed rc=$codeC\n$outC")
    val afterRestart = commits(dirB)
    firstSix.foreach { d =>
      assert(afterRestart.get(d) == beforeRestart.get(d),
        s"$d was rebuilt on restart (its _SUCCESS mtime changed)")
    }
    assert(funnel(outC) == funnel(outA))
  }
}
