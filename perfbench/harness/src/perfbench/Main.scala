package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds sessions through the engine's own
  * `graft.core.Sessions.build`, runs one workload as a closed loop on
  * one client thread, and writes every raw sample to `<out>/result.json`
  * (and, for a traced run, every span to `<out>/spans.jsonl`). All
  * statistics and output checks are computed by `perfbench/run.py`.
  *
  * Usage: perfbench.Main --workload <name> --seconds <s>
  *   --trace <0|1> --inputs <dir> --tables <dir> --work <dir> --out <dir>
  *   --cores <n> --budget <s>
  *
  * A run sets up once — it builds the session and runs one untimed
  * warm-up pass — then measures passes back to back for `seconds`, at
  * least one. A traced run alternates traced and untraced passes,
  * starting with a traced one. No run starts a pass that the last one's
  * length says would end past `budget` seconds from the start. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    Memory.watch()
    val traced = arg("trace") == "1"
    val seconds = arg("seconds").toDouble
    val cores = arg("cores").toInt
    val hardDeadline =
      System.nanoTime() + (arg("budget").toDouble * 1e9).toLong
    val workload: Workload = arg("workload") match {
      case "etl_warehouse" => new EtlWarehouse
      case "llm_curation" => new LlmCuration
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = new Tracer
    val ctx = new Ctx(null, tracer, arg("inputs"), arg("tables"),
      arg("work"))

    val t0 = System.nanoTime()
    ctx.spark = graft.core.Sessions.build("perfbench", cores)
    val session = (System.nanoTime() - t0) / 1e9
    // staging the inputs is not set-up time
    val p0 = System.nanoTime()
    workload.prepare(ctx)
    val prepareSec = (System.nanoTime() - p0) / 1e9
    def record(p: PassRecord, traced: Boolean): Map[String, Any] =
      Map("traced" -> traced, "wall_s" -> p.wallSeconds,
        "cpu_s" -> p.cpuSeconds,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
          "error" -> o.error)),
        "observed" -> p.observed, "counters" -> p.counters)

    var passNo = 1
    val warm = workload.pass(ctx, passNo)
    Memory.afterPass(ctx.spark)
    val setup = Map("session_s" -> session, "first_pass_s" -> warm.wallSeconds,
      "setup_s" -> (session + warm.wallSeconds),
      "warmup" -> record(warm, traced = false))

    val sparkTrace = new SparkTrace(tracer)
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var last = warm.wallSeconds
    def fits = System.nanoTime() + (1.5 * last * 1e9).toLong < hardDeadline
    while (i == 0 || System.nanoTime() < deadline && fits) {
      val tracedPass = traced && i % 2 == 0
      if (tracedPass) {
        sparkTrace.attach(ctx.spark)
        tracer.recording = true
      }
      passNo += 1
      val p = workload.pass(ctx, passNo)
      if (tracedPass) {
        sparkTrace.detach(ctx.spark)
        tracer.recording = false
      }
      Memory.afterPass(ctx.spark)
      passes += record(p, tracedPass)
      last = p.wallSeconds
      i += 1
    }

    val out = arg("out")
    if (traced) tracer.writeTo(s"$out/spans.jsonl")
    Json.mapper.writeValue(new java.io.File(s"$out/result.json"), Map(
      "workload" -> arg("workload"), "cores" -> cores,
      "prepare_s" -> prepareSec, "setup" -> setup,
      "passes" -> passes.toSeq, "memory" -> Memory.peaks()))
    ctx.spark.stop()
    sys.exit(0)
  }
}

/** The harness's JSON writer for its record files: Jackson, as Spark
  * ships it, with the Scala module for Maps, Seqs and Options. */
object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Memory of this JVM: the resident-set peak (VmHWM), and the old
  * generation's largest occupancy right after any collection, tracked
  * from the collectors' notifications ([[watch]] starts it). */
object Memory {
  import scala.jdk.CollectionConverters._
  @volatile private var oldAfterGc = 0L

  /** Between passes, outside every timed window: each pass starts from
    * an empty cache and a collected heap, as a fresh run would. */
  def afterPass(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def watch(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach {
        case e: javax.management.NotificationEmitter =>
          import com.sun.management.{GarbageCollectionNotificationInfo => Gc}
          e.addNotificationListener((n: javax.management.Notification,
                                     _: Any) => {
            if (n.getType == Gc.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = Gc.from(n.getUserData
                .asInstanceOf[javax.management.openmbean.CompositeData])
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach {
                case (pool, u) if pool.contains("Old Gen") =>
                  oldAfterGc = math.max(oldAfterGc, u.getUsed)
                case _ =>
              }
            }
          }, null, null)
        case _ =>
      }

  def peaks(): Map[String, Double] = {
    val hwm = try {
      val s = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/self/status"))
      "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(s)
        .map(m => "peak_rss_mb" -> m.group(1).toDouble / 1024)
    } catch { case _: java.io.IOException => None }
    hwm.toMap + ("old_gen_after_gc_peak_mb" -> oldAfterGc.toDouble / (1 << 20))
  }
}
