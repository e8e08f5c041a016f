package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for a traced run.
  *
  * Spans come from two places, both in the harness's own files:
  *  - [[span]] around each call the harness makes into a layer (and
  *    around passes and ops), on the single client thread;
  *  - [[SparkTrace]]'s listeners: one span per Spark job, stage and
  *    task, the analysis/optimization/planning phases of every executed
  *    query, and every whole-stage codegen compile.
  *
  * Times are epoch milliseconds (the listeners' clock). Spans are kept
  * in memory and written once, when the run ends. While not recording
  * every call is a plain pass-through. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  private val records = new ConcurrentLinkedQueue[String]()
  private var stack: List[Long] = Nil
  @volatile var op: Long = -1L
  /** Recording is switched on and off per pass in a traced run, so
    * traced and untraced passes can alternate in one JVM. */
  @volatile var recording: Boolean = false

  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, opId: Long,
             start: Double, end: Double,
             attrs: collection.Map[String, Any] = Map.empty): Unit =
    if (recording) records.add(Json(Map("id" -> id, "parent" -> parent,
      "name" -> name, "op" -> opId, "start" -> start, "end" -> end,
      "a" -> attrs)))

  /** Time `body` as span `name` under the innermost open harness span. */
  def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(
      body: => T): T =
    if (!recording) body
    else {
      val id = nextId()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = nowMs()
      try body
      finally {
        stack = stack.tail
        record(id, parent, name, op, t0, nowMs(), attrs)
      }
    }

  def writeTo(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(path))
    try records.asScala.foreach { r => w.write(r); w.write('\n') }
    finally w.close()
  }
}

/** The Spark-side recorders of a traced run: a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (planning phases and the
  * executed, AQE-final plan's shape) and a log appender that catches
  * each whole-stage codegen compile. [[attach]] and [[detach]] bracket
  * every traced pass. */
final class SparkTrace(tracer: Tracer) {
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Double]()
  private val jobOp = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSpan =
    new ConcurrentHashMap[(Int, Int), Long]()

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SparkTrace.OpKey)))
      .map(_.toLong).getOrElse(-1L)

  private def stageSpanId(stageId: Int, attempt: Int): Long =
    stageSpan.computeIfAbsent((stageId, attempt), _ => tracer.nextId())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobSpan.put(e.jobId, tracer.nextId())
      jobStart.put(e.jobId, e.time.toDouble)
      jobOp.put(e.jobId, opOf(e.properties))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        tracer.record(id, 0L, "spark.job", jobOp.getOrDefault(e.jobId, -1L),
          jobStart.getOrDefault(e.jobId, e.time.toDouble), e.time.toDouble,
          Map("job" -> e.jobId, "ok" -> (e.jobResult == JobSucceeded)))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job: Int = stageJob.getOrDefault(si.stageId, -1)
      for (sub <- si.submissionTime; done <- si.completionTime)
        tracer.record(stageSpanId(si.stageId, si.attemptNumber()),
          Option(jobSpan.get(job)).getOrElse(0L), "spark.stage",
          jobOp.getOrDefault(job, -1L), sub.toDouble, done.toDouble,
          Map("stage" -> si.stageId, "tasks" -> si.numTasks))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val job: Int = stageJob.getOrDefault(e.stageId, -1)
      val attrs: Map[String, Any] =
        if (m == null) Map("ok" -> ti.successful)
        else Map(
          "ok" -> ti.successful,
          "cpu_s" -> m.executorCpuTime / 1e9,
          "run_s" -> m.executorRunTime / 1e3,
          "gc_s" -> m.jvmGCTime / 1e3,
          "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "peak_exec_mem_bytes" -> m.peakExecutionMemory)
      tracer.record(tracer.nextId(), stageSpanId(e.stageId, e.stageAttemptId),
        "spark.task", jobOp.getOrDefault(job, -1L), ti.launchTime.toDouble,
        ti.finishTime.toDouble, attrs)
    }
  }

  private def phases(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach { s =>
        tracer.record(tracer.nextId(), 0L, s"spark.$p", -1L,
          s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
    }
    val start = ph.values.map(_.startTimeMs).minOption
      .map(_.toDouble).getOrElse(tracer.nowMs())
    val counts = try SparkTrace.planCounts(qe.executedPlan)
      catch { case _: Throwable => Map.empty[String, Int] }
    // a zero-length marker carrying the executed plan's shape
    tracer.record(tracer.nextId(), 0L, "spark.query", -1L, start, start,
      counts ++ Map("ok" -> ok))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      phases(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = phases(qe, ok = false)
  }

  private val codegenAppender = {
    val a = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      private val Took = "Code generated in ([0-9.]+) ms".r.unanchored
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Took(ms) =>
            val end = e.getTimeMillis.toDouble
            tracer.record(tracer.nextId(), 0L, "spark.codegen", -1L,
              end - ms.toDouble, end)
          case _ =>
        }
    }
    a.start()
    a
  }

  private def codegenLogger = org.apache.logging.log4j.LogManager
    .getContext(false)
    .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = codegenLogger
    val cfg = ctx.getConfiguration
    val name = SparkTrace.CodegenLogger
    val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
      name, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(codegenAppender, org.apache.logging.log4j.Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  /** Stop recording; waits for the listener bus to deliver what the
    * pass produced first, so no event lands after its pass. */
  def detach(spark: SparkSession): Unit = {
    SparkTrace.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = codegenLogger
    ctx.getConfiguration.removeLogger(SparkTrace.CodegenLogger)
    ctx.updateLoggers()
  }
}

object SparkTrace {
  /** Local property carrying the harness's op id into every job. */
  val OpKey = "perfbench.op"
  val CodegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }

  /** Every node of an executed plan: through AQE wrappers and query
    * stages into the final plan, and into subqueries. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    val inner: Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other =>
        other.children.iterator.flatMap(nodes) ++
          other.subqueries.iterator.flatMap(nodes)
    }
    Iterator(p) ++ inner
  }

  def planCounts(plan: SparkPlan): Map[String, Int] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins._
    val ns = nodes(plan).toVector
    def count(f: PartialFunction[SparkPlan, Boolean]): Int =
      ns.count(n => f.applyOrElse(n, (_: SparkPlan) => false))
    Map(
      "broadcast_joins" -> count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      },
      "shuffle_joins" -> count {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
      },
      "exchanges" -> count { case _: Exchange => true },
      "codegen_stages" -> count { case _: WholeStageCodegenExec => true },
      "cartesians" -> count { case _: CartesianProductExec => true },
      "native_exprs" -> ns.map(_.expressions.map(_.collect {
        case e if e.getClass.getName.startsWith("graft.") => e
      }.size).sum).sum)
  }
}
