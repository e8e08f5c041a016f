package graft.tools

import scala.collection.immutable.SeqMap

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.Registry

/** The shared run-and-record pieces of Bench and the scale tools: the
  * JSON record writer, the query lookup and the task listener's
  * per-stage map.
  */
class QueryRunsSpec extends AnyFunSuite {

  test("record writer: an error message and a directory with JSON " +
    "metacharacters round-trip through a parser, key order kept") {
    val msg = "bad \"quote\" and back\\slash\nsecond line \u0001 ctl"
    val dir = "/data/it's \"quoted\"\\dir"
    val line = QueryRuns.json(SeqMap("spill_stress" -> SeqMap(
      "sf_dir" -> dir, "reps" -> 2,
      "queries" -> SeqMap("q" -> SeqMap("error" -> msg)))))
    assert(!line.contains("\n"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line).get("spill_stress")
    assert(root.get("sf_dir").asText == dir)
    assert(root.path("queries").path("q").path("error").asText == msg)
    val keys = scala.jdk.CollectionConverters.IteratorHasAsScala(
      root.fieldNames()).asScala.toSeq
    assert(keys == Seq("sf_dir", "reps", "queries"))
  }

  test("Registry.named fails naming an unknown query") {
    val e = intercept[NoSuchElementException](Registry.named("no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
    assert(Registry.named("a8_dashboard_revenue").name ==
      "a8_dashboard_revenue")
  }

  test("TaskMetricsListener keeps both stages of a two-stage job with " +
    "their task counts") {
    val sc = TestSpark.spark.sparkContext
    val l = TaskMetricsListener.installed(TestSpark.spark)
    try {
      l.reset()
      sc.parallelize(1 to 100, 4).map(x => (x % 3, x))
        .reduceByKey(_ + _, 3).collect()
      l.drain()
      val ours = l.stages.values.filter(_.name.contains("QueryRunsSpec"))
      assert(ours.map(_.tasks).toSeq.sorted == Seq(3, 4), l.stages)
      assert(ours.forall(_.maxTaskMs >= 0))
    } finally sc.removeSparkListener(l)
  }
}
