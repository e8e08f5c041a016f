package graft.core

import org.apache.spark.sql.SparkSession

/** Single place where every entry point (Verify, Bench, tests, ad-hoc mains)
  * builds its SparkSession, so the semantic-critical confs cannot drift.
  *
  * Confs that change query *results* (and therefore must match the DuckDB
  * oracle the driver compares against):
  *  - session time zone UTC: timestamp<->date casts are zone-sensitive, and
  *    [[Tables.eventTsUs]]'s NTZ->TIMESTAMP cast only matches DuckDB's
  *    epoch_us under UTC.
  *  - nanosAsLong: inert for the current TIMESTAMP(MICROS) testdata, kept so
  *    a TIMESTAMP(NANOS) events regeneration (seen in earlier testdata drops,
  *    which Spark has no type for) reads as epoch-nano BIGINT instead of
  *    failing the scan.
  */
object Sessions {

  /** JDK-17 module opens Spark 4 needs outside spark-submit, one JVM
    * flag each (build.sbt forks with the same list). Executor JVMs
    * launched by a local-cluster Worker and [[graft.tools.ChildJvm]]
    * children need them injected explicitly. */
  private[graft] val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  def build(appName: String, cores: Int): SparkSession = {
    // SPARK_GRAFT_MASTER overrides the master for the multi-JVM
    // execution proof: `local-cluster[2,16,4096]` runs REAL separate
    // executor JVMs (a true serialization boundary — closure capture,
    // executor-side lazy init, broadcast lifecycle all real), which
    // local[n]'s single JVM cannot test. Executors are fresh JVMs
    // launched from SPARK_HOME, so they need this build's classes
    // (the driver's own classpath) and the JDK-17 opens on their
    // command line.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    if (master.startsWith("local-cluster")) {
      // The Worker launches executors through the launcher library,
      // which infers the Scala suffix from SPARK_HOME's build dirs — a
      // layout a jars-only install doesn't have. Without the env the
      // executors die at launch with "Cannot find any build
      // directories." before the app sees a single task.
      require(sys.env.contains("SPARK_SCALA_VERSION"),
        "local-cluster mode needs SPARK_SCALA_VERSION=2.13 (and " +
          "SPARK_HOME) exported so the in-process Worker can build " +
          "executor launch commands from a jars-only Spark install")
    }
    val builder0 = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
    val builder =
      if (!master.startsWith("local-cluster")) builder0
      else builder0
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          jdk17AddOpens.mkString(" "))
    val s = builder
      // One shuffle partition per core: at local[32] the driver contract asks
      // for 32, not the 200 default sized for real clusters. AQE coalesces
      // further when partitions come out small.
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE SMJ->shuffled-hash conversion: OFF (Spark default), set
      // explicitly because round 16's 64m threshold was reverted on
      // measurement (OPTIMIZATION_r17.md §6): within noise at sf0.1,
      // and at 50x corpus scale l61's candidate join dies with "not
      // enough memory to build hash map" where sort-merge spills and
      // completes.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Performance-only, result-inert: keep bucketed scans BUCKETED
      // even in plans the heuristic thinks don't benefit. The heuristic
      // breaks the iterative-graph cold start: a cache()d edge frame's
      // InMemoryRelation plan is compiled STANDALONE at registration
      // time, sees no join, silently drops the bucket layout — and
      // every iteration then re-exchanges the edge list the table was
      // bucketed to avoid (GraphRank.pageRankFromBucketed/
      // componentsFromBucketed, GraphRankSpec pins the partitioning).
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Performance-only, result-inert: the JVM-wide generated-class
      // cache is an LRU of 100 entries by default, smaller than one
      // reference-parity pass's ~350 distinct classes, so every class
      // was evicted before its next use: 479 of a warm pass's 520
      // compiles had source identical to a class compiled before. 2000
      // holds that working set ~5.7x over (~5 MB of generated source).
      // Static, and read ONCE per JVM, when CodeGenerator is first
      // loaded: nothing may generate code before this session exists
      // (CodegenCacheSpec pins it).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def cpusFromEnv(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(default)
}
