package graft.tools

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.queries.QueryDef

/** The run-and-record protocol shared by Bench and the scale-evidence
  * tools (ScaleStress, SkewStress, SpillStress, ProbeL12C, ProbePerf):
  * one codegen warm-up, one isolated timed run into the noop sink, one
  * failure message and one JSON writer, so numbers that are compared
  * against each other are taken and printed identically.
  */
object QueryRuns {

  /** Smallest SF: the codegen warm-up directory. */
  private val warmDir = "/root/testdata/sf0.001"

  /** Full materialization through the noop sink: a bare count() would
    * let Catalyst prune the computed columns away and time nothing.
    */
  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** Seconds for one isolated run of `body`. Isolated: operator-internal
    * cache() is part of a query's own cost, but Spark's CacheManager
    * matches canonicalized plans ACROSS queries (and against the warm-up
    * runs), which would let one run silently serve another's work from
    * memory — so every run starts from a cleared cache.
    */
  def seconds(spark: SparkSession)(body: => Unit): Double = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** One isolated, timed run of `df` into the noop sink; a `df`
    * expression builds its plan inside the timing.
    */
  def noopSeconds(spark: SparkSession)(df: => DataFrame): Double =
    seconds(spark)(sink(df))

  /** Best of `reps` [[noopSeconds]] runs. */
  def minSeconds(spark: SparkSession, reps: Int)(df: => DataFrame): Double =
    (1 to reps).map(_ => noopSeconds(spark)(df)).min

  /** Run each query once at the SMALLEST SF: the first execution of a
    * plan pays whole-stage-codegen compilation (up to ~1s for the
    * complex plans), which is per-JVM overhead, not query cost — the
    * generated classes are shared with the identical plan at the target
    * SF, so the timed runs measure steady-state execution. That holds
    * only while the codegen cache holds the working set (Sessions.build
    * sizes it). A failed warm-up run is ignored: the timed run reports
    * the failure.
    */
  def warmUp(spark: SparkSession, queries: Seq[QueryDef]): Unit =
    if (new java.io.File(warmDir).isDirectory)
      queries.foreach { q =>
        try sink(q.run(spark, warmDir))
        catch { case _: Throwable => () }
      }

  /** Run `body` with the session confs `kvs` set, then restore each to
    * its previous value (or unset it), even when `body` throws.
    */
  def withConfs[A](spark: SparkSession, kvs: (String, String)*)(
      body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** What a record stores for a failed run: the first line of the
    * message, or the exception class when there is no message.
    */
  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(1).mkString

  /** Seconds rounded to the millisecond, as the records print them. */
  def r3(v: Double): Double = math.rint(v * 1000) / 1000

  val mapper: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON document for a record of nested maps, sequences, strings,
    * numbers and booleans. Build records from ordered maps (SeqMap,
    * LinkedHashMap): the output keeps their key order.
    */
  def json(record: Any): String = mapper.writeValueAsString(record)
}
