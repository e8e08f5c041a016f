package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One operation's outcome: its wall time and, if it threw, why. */
final case class OpRecord(name: String, seconds: Double,
                          error: Option[String])

/** One pass: wall time, its ops, what the program produced (checked
  * outside the JVM against the planted expectations) and the per-layer
  * counts taken from outside the program. */
final case class PassRecord(wallSeconds: Double, cpuSeconds: Double,
                            ops: Seq[OpRecord], observed: Map[String, Any],
                            counters: Map[String, Double])

/** CPU time this JVM has used, all threads; time stolen by the host from
  * the VM is not in it. */
object Cpu {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds(): Double = os.getProcessCpuTime / 1e9
}

/** Shared state of a run: the session, the tracer and the run's
  * directories. */
final class Ctx(var spark: SparkSession, val tracer: Tracer,
                val inputs: String, val tables: String, val work: String) {
  var opCounter = 0L

  /** Time one op. Its jobs carry the op id; an exception is the op's
    * failure, recorded and not rethrown. */
  def op(name: String)(body: => Unit): OpRecord = {
    opCounter += 1
    tracer.op = opCounter
    spark.sparkContext.setLocalProperty(SparkTrace.OpKey,
      opCounter.toString)
    val t0 = System.nanoTime()
    val err = try {
      tracer.span("bench.op", Map("op_name" -> name))(body)
      None
    } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").linesIterator
            .nextOption().getOrElse("")}")
    }
    val s = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLocalProperty(SparkTrace.OpKey, null)
    tracer.op = -1L
    OpRecord(name, s, err)
  }
}

trait Workload {
  /** Stage inputs once per run, before any session is timed. */
  def prepare(ctx: Ctx): Unit = ()
  /** Run one pass; `n` numbers the passes of the run, warm-ups too. */
  def pass(ctx: Ctx, n: Int): PassRecord
}

/** What one part of a pass produced. */
final case class PartResult(ops: Seq[OpRecord], observed: Map[String, Any],
                            counters: Map[String, Double])

object LocalFs {
  def walk(root: String): Seq[(String, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toVector
      finally s.close()
    }
  }

  def bytes(root: String): Long = walk(root).map(_._2).sum

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverseIterator
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  def copyDir(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    new File(from).listFiles().filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, Paths.get(to, f.getName),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** etl_warehouse: one op is one full pass of the paper's product —
  * ReferenceParity.run over freshly generated Northwind-shaped CSVs, the
  * bronze/silver/gold lake writes, the reports, and the warehouse load
  * into a fresh in-memory Derby database through JdbcSink. */
final class EtlWarehouse extends Workload {
  import graft.pipeline.ReferenceParity
  import graft.core.LakePath
  import graft.sources.{Csv, Reports, WarehouseLoader}

  private val runDate = "2024-11-24"
  private val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  def pass(ctx: Ctx, n: Int): PassRecord = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = s"${ctx.work}/etl/p$n"
    // every pass ingests a fresh copy, as a daily run ingests new files
    val raw = s"$dir/raw"
    LocalFs.copyDir(s"${ctx.inputs}/etl", raw)
    val inputBytes = LocalFs.bytes(raw)
    val lake = s"$dir/lake"
    val reports = s"$dir/reports"
    val url = s"jdbc:derby:memory:perfbench_p$n"
    var observed = Map.empty[String, Any]

    val t0 = System.nanoTime()
    val c0 = Cpu.seconds()
    val rec = t.span("bench.pass") {
      ctx.op("etl_pass") {
        ReferenceParity.smallDataTuned(spark) {
          val out = t.span("pipeline.run") {
            ReferenceParity.run(spark, raw, runDate)
          }
          t.span("sources.lake_write.bronze") {
            ReferenceParity.sourceNames.foreach { s =>
              LakePath.bronze(lake, s).write(
                Csv.readInferredCached(spark, s"$raw/$s.csv"), runDate)
            }
          }
          t.span("sources.lake_write.silver") {
            Seq("sales" -> out.salesClean,
              "customers" -> out.customersEnriched,
              "products" -> out.productsEnriched,
              "suppliers" -> out.suppliersClean).foreach { case (s, df) =>
              LakePath.silver(lake, s).write(df, runDate)
            }
          }
          val star = Seq("dim_customers" -> out.dimCustomers,
            "dim_products" -> out.dimProducts, "dim_store" -> out.dimStore,
            "dim_calendar" -> out.dimCalendar,
            "dim_taxrate" -> out.dimTaxRate,
            "dim_exchange" -> out.dimExchange)
          t.span("sources.lake_write.gold") {
            (star :+ ("fact_sales" -> out.factSales)).foreach {
              case (s, df) => LakePath.gold(lake, s).write(df, runDate)
            }
          }
          val anomalies = t.span("sources.reports_write") {
            val counts = Map(
              "sales" -> out.salesFlagged
                .filter(col("anomaly_type") =!= "ok").count(),
              "products" -> out.productsFlagged
                .filter(col("anomaly_type").isNotNull).count())
            Reports.writeAuditJson(s"$reports/audit_report.json", out.audits)
            Reports.writeAuditText(s"$reports/audit_report.txt", out.audits)
            Reports.writeAnomalySummary(s"$reports/anomalies_summary.txt",
              runDate, counts)
            counts
          }
          t.span("sources.warehouse_load") {
            WarehouseLoader.load(
              new WarehouseLoader.JdbcSink(s"$url;create=true", "perfbench",
                "perfbench", derbyDriver),
              dims = star, fact = "fact_sales" -> out.factSales)
          }
          observed = Map("audit" -> out.audits.map { case (s, r) =>
            s -> Map(
              "missing" -> r.missingValues.filter(_._2 > 0),
              "violations" -> r.formatViolations,
              "duplicate_columns" -> r.duplicateColumnGroups)
          }, "anomalies" -> anomalies)
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Cpu.seconds() - c0

    val lakeFiles = LocalFs.walk(lake)
    val stored = LocalFs.bytes(lake) + LocalFs.bytes(reports)
    val rows = derbyRows(url, Seq("dim_customers", "dim_products",
      "dim_store", "dim_calendar", "dim_taxrate", "dim_exchange",
      "fact_sales"))
    dropDerby(url)
    LocalFs.delete(dir)
    PassRecord(wall, cpu, Seq(rec),
      observed ++ Map("warehouse_rows" -> rows),
      Map("stored_bytes" -> stored.toDouble,
        "input_bytes" -> inputBytes.toDouble,
        "sources.lake_bytes_written" -> lakeFiles.map(_._2).sum.toDouble,
        "sources.lake_files_written" -> lakeFiles.size.toDouble,
        "sources.warehouse_rows" -> rows.values.sum.toDouble))
  }

  private def derbyRows(url: String, tables: Seq[String]): Map[String, Long] =
    try {
      val c = java.sql.DriverManager.getConnection(url, "perfbench",
        "perfbench")
      try tables.map { tb =>
        val rs = c.createStatement().executeQuery(
          s"SELECT COUNT(*) FROM ${tb.toUpperCase}")
        rs.next()
        tb -> rs.getLong(1)
      }.toMap
      finally c.close()
    } catch { case _: java.sql.SQLException => Map.empty }

  private def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(s"$url;drop=true").close()
    // Derby reports a successful drop as an SQLException
    catch { case _: java.sql.SQLException => () }
}

/** Registry queries run one per op, in the given order, into the noop
  * sink, with an order-insensitive fingerprint of every result row
  * observed on the same execution. */
final class RegistryQueries(queries: Seq[String]) {
  private lazy val defs = {
    val all = graft.queries.Registry.all.map(q => q.name -> q).toMap
    queries.map(all)
  }

  private def tableDir(ctx: Ctx) = s"${ctx.tables}/tables"

  /** Stage the generated JSON-lines tables as parquet, once per build
    * directory (the tables are fixed; a run's seed shapes the document
    * stream only). */
  def prepare(ctx: Ctx): Unit = {
    val out = tableDir(ctx)
    if (!new File(s"$out/_COMPLETE").exists()) {
      LocalFs.delete(out)
      val schemas = Map(
        "documents" -> ("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG"))
      schemas.foreach { case (t, ddl) =>
        ctx.spark.read.schema(ddl).json(s"${ctx.tables}/jsonl/$t.jsonl")
          .coalesce(1).write.parquet(s"$out/$t.parquet")
      }
      Files.writeString(Paths.get(s"$out/_COMPLETE"), "")
    }
  }

  def run(ctx: Ctx, n: Int): PartResult = {
    val spark = ctx.spark
    val fps = scala.collection.mutable.LinkedHashMap[String, Any]()
    val ops = defs.map { q =>
      // isolate ops: the CacheManager matches plans across queries
      spark.catalog.clearCache()
      ctx.op(q.name) {
        val obs = Observation(s"fp_${q.name}_$n")
        ctx.tracer.span(s"queries.${q.name}") {
          RegistryQueries.observed(q.run(spark, tableDir(ctx)), obs)
            .write.format("noop").mode(SaveMode.Overwrite).save()
        }
        val row = obs.get
        fps(q.name) = Map("rows" -> row("n"), "sum" -> row("s"),
          "xor" -> row("x"))
      }
    }
    PartResult(ops, Map("fingerprints" -> fps.toMap), Map.empty)
  }
}

object RegistryQueries {
  /** The result with an order-insensitive fingerprint observed on it:
    * row count, a modular sum and an xor of each row's xxhash64 (maps,
    * which Spark cannot hash, hash through their JSON form). */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("n"),
      sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x"))
  }
}

/** The streaming ingest: one op is one micro-batch passed to both tiered
  * streaming stores (the exact-dedup index and the 8-gram span index,
  * with the parameters l78 and RestartDriver register). A replay feeds
  * the whole stream into fresh stores and ends with a read of both
  * indexes, which is timed but not an op. */
final class StreamIngest {
  import graft.streaming.StreamOps

  private var batches: Seq[Seq[(Long, String)]] = Nil

  def prepare(ctx: Ctx): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromFile(s"${ctx.inputs}/stream.jsonl", "UTF-8")
    val docs = try src.getLines().map { l =>
      val j = mapper.readTree(l)
      (j.get("batch").asInt(), j.get("doc_id").asLong(),
        j.get("text").asText())
    }.toVector finally src.close()
    batches = docs.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(d => (d._2, d._3)))
  }

  /** Segment dirs of an index root: name -> bytes. */
  private def segments(root: String): Map[String, Long] = {
    val f = new File(root)
    Option(f.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("d="))
      .map(d => d.getName -> LocalFs.bytes(d.getPath)).toMap
  }

  private def root(ctx: Ctx, n: Int) = s"${ctx.work}/stream/p$n"

  def run(ctx: Ctx, n: Int): PartResult = {
    val spark = ctx.spark
    val t = ctx.tracer
    val root = this.root(ctx, n)
    val stores = Seq("dedup", "spans")
    val index = stores.map(s => s -> s"$root/$s/index").toMap
    val sinks = Map(
      "dedup" -> StreamOps.dedupIndexForeachBatchTiered(index("dedup"),
        s"$root/dedup/flags", "doc_id", "text", maxDeltas = 2, fanout = 2),
      "spans" -> StreamOps.dupSpanIndexForeachBatchTiered(index("spans"),
        s"$root/spans/flags", "doc_id", "text", n = 8, maxDeltas = 2,
        hashedGramKeys = true, fanout = 2))
    import spark.implicits._
    val frames = batches.map(_.toDF("doc_id", "text"))
    val c = scala.collection.mutable.Map[String, Double]().withDefaultValue(0)
    var files = Map.empty[String, Long]
    val ops = scala.collection.mutable.ArrayBuffer[OpRecord]()

    frames.zipWithIndex.foreach { case (df, b) =>
      // the segment and byte walks feed per-layer counters only, so they
      // run in traced passes alone, never in the untraced passes that
      // give the end-to-end times
      val traced = t.recording
      val before =
        if (traced) stores.map(s => s -> segments(index(s))).toMap
        else Map.empty[String, Map[String, Long]]
      val storeSec = scala.collection.mutable.Map[String, Double]()
      ops += ctx.op(s"batch_$b") {
        stores.foreach { s =>
          val s0 = System.nanoTime()
          t.span(s"streaming.batch.$s") { sinks(s)(df, b.toLong) }
          storeSec(s) = (System.nanoTime() - s0) / 1e9
        }
      }
      if (traced) {
        // compaction seen from outside: any segment dir besides this
        // batch's own delta appeared
        stores.foreach { s =>
          val after = segments(index(s))
          val fresh = after.filter { case (k, _) =>
            k != s"d=$b" && !before(s).contains(k)
          }
          c("streaming.segments_listed") += after.size
          // a store whose call threw has no time to charge
          storeSec.get(s).foreach { sec =>
            if (fresh.nonEmpty) {
              c("streaming.compactions") += 1
              c("streaming.compacting_batch_s") += sec
              c("streaming.rewritten_bytes") += fresh.values.sum
            } else {
              c(s"streaming.batch_s.$s") += sec
              c(s"streaming.plain_batches.$s") += 1
            }
          }
        }
        val now = LocalFs.walk(root).toMap
        c("streaming.bytes_written") += now.collect {
          case (f, v) if !files.get(f).contains(v) => v
        }.sum
        files = now
      }
    }
    val r0 = System.nanoTime()
    val indexRows = t.span("streaming.index_read") {
      stores.map(s => s -> StreamOps.dedupIndex(spark, index(s)).count())
        .toMap
    }
    c("streaming.index_read_s") += (System.nanoTime() - r0) / 1e9
    PartResult(ops.toSeq, Map("index_rows" -> indexRows), c.toMap)
  }

  /** After the pass: read the flags store for the output check, measure
    * what the stores keep on disk, and drop them. */
  def after(ctx: Ctx, n: Int): PartResult = {
    val spark = ctx.spark
    import spark.implicits._
    val root = this.root(ctx, n)
    val flagged = spark.read.parquet(s"$root/dedup/flags")
      .filter(col("dup_of_existing") === 1).select("doc_id")
      .as[Long].collect().sorted.toSeq
    val stored = LocalFs.bytes(root)
    LocalFs.delete(root)
    PartResult(Nil, Map("flagged" -> flagged),
      Map("stored_bytes" -> stored.toDouble,
        "input_bytes" -> batches.flatten.map(_._2.getBytes("UTF-8").length)
          .sum.toDouble,
        "streaming.flagged" -> flagged.size.toDouble,
        "streaming.docs" -> batches.map(_.size).sum.toDouble))
  }
}

/** llm_curation: the repo's LLM-data side in one pass — the heavy
  * candidate-join query l61 (one op), then one replay
  * of the seeded document stream into the tiered streaming stores (one
  * op per micro-batch) and a read of both indexes. */
final class LlmCuration extends Workload {
  private val heavy = new RegistryQueries(Seq("l61_containment_join"))
  private val stream = new StreamIngest

  override def prepare(ctx: Ctx): Unit = {
    heavy.prepare(ctx)
    stream.prepare(ctx)
  }

  def pass(ctx: Ctx, n: Int): PassRecord = {
    val t0 = System.nanoTime()
    val c0 = Cpu.seconds()
    val (q, s) = ctx.tracer.span("bench.pass") {
      (heavy.run(ctx, n), stream.run(ctx, n))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Cpu.seconds() - c0
    val a = stream.after(ctx, n)
    PassRecord(wall, cpu, q.ops ++ s.ops,
      q.observed ++ s.observed ++ a.observed,
      q.counters ++ s.counters ++ a.counters)
  }
}
