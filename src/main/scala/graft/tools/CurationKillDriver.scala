package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CurationPipeline

/** Child-JVM driver for the curation kill/restart proof (RestartSpec;
  * the 1M-doc ScaleGen textdiv run is SCALE_r15.md §5): runs the
  * CHECKPOINTED curation pipeline over `corpusDir`'s documents; with
  * `haltAfterStage > 0` a watcher thread Runtime.halt(42)s the JVM the
  * moment that stage's funnel table commits — usually mid-write of the
  * NEXT stage, the realistic mid-run kill. The knob set lives HERE so
  * the crashed run and the restart run cannot drift (the
  * `_GRAFT_CHAIN` fingerprint would refuse a drifted restart anyway —
  * that guard firing is a test failure, not a recovery path).
  *
  * args: corpusDir stageDir haltAfterStage(-1 = run to completion)
  */
object CurationKillDriver {

  /** The shared raw-corpus shape (the l71ck probe synth: text wrapped
    * in minimal HTML + a 1-in-5 blocked domain). */
  def rawOf(spark: SparkSession, corpusDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "source", "text")
    docs.select(col("doc_id"), col("source"),
      concat(
        lit("<html><head><script>var x = 1;</script></head><body><p>"),
        col("text"),
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          lit(" of and that have with")).otherwise(lit("")),
        lit("</p><a href=\"/n\">nav</a></body></html>")).as("html"),
      concat(lit("https://site"), pmod(col("doc_id"), lit(5L)),
        when(pmod(col("doc_id"), lit(5L)) === 2L,
          lit(".spam-domain.com/x")).otherwise(lit(".example.org/x")))
        .as("u"))
  }

  /** The shared checkpointed invocation (knobs fixed; `lineMaxDf`
    * scales with corpus size like the l71ck probe). */
  def runCk(raw: DataFrame, nDocs: Long, stageDir: String): DataFrame =
    CurationPipeline.runCheckpointed(raw, "doc_id", "source",
      "html", "u", blockedDomains = Seq("spam-domain.com"),
      lineMaxDf = (nDocs / 10).max(4L), gopherMinWords = 20,
      jaccN = 3, jaccThreshold = 0.2, jaccMaxDocFreq = 10,
      budgetPerSource = 100000L, packBudget = 2048L,
      trainPct = 80, valPct = 10, stageDir = stageDir,
      reline = c => concat(lit("nav home menu\n"),
        regexp_replace(c, " (the|a) ", "\n"),
        lit("\ncopyright footer 2024")))

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: CurationKillDriver <corpusDir> <stageDir> <haltAfterStage|-1>")
    val Array(corpusDir, stageDir, haltRaw) = args
    val haltAfter = haltRaw.toInt
    val spark = graft.core.Sessions.build("graft-curation-kill",
      graft.core.Sessions.cpusFromEnv(32))
    if (haltAfter > 0) {
      val marker = java.nio.file.Paths.get(
        s"$stageDir/funnel_s$haltAfter/_SUCCESS")
      val watcher = new Thread(() => {
        while (!java.nio.file.Files.exists(marker)) Thread.sleep(50)
        println(s"CURATIONKILL halting after stage $haltAfter")
        Console.flush()
        Runtime.getRuntime.halt(42)
      })
      watcher.setDaemon(true)
      watcher.start()
    }
    val raw = rawOf(spark, corpusDir)
    val nDocs = raw.count()
    val funnel = runCk(raw, nDocs, stageDir)
      .orderBy("stage_no").collect()
    funnel.foreach(r => println(s"CURATIONKILL funnel ${r.mkString("|")}"))
    println("CURATIONKILL done")
    spark.stop()
    sys.exit(0)
  }
}
