package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Registry-wide invariants + a smoke run of EVERY registered query at
  * sf0.001 — the rows-only queries have no oracle row in the driver gate,
  * so this is what catches them regressing.
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("every oracle key has a query; names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
    assert(Registry.headlines.nonEmpty)
  }

  // the random embeddings contain NO true near-dups (max pairwise cosine
  // 0.48) — an empty pair set is l12's correct answer on this data
  private val mayBeEmpty = Set("l12_cosine_near_dup")

  test("every registered query runs at sf0.001 with unique column names " +
    "and (where the data warrants) at least one row") {
    val failures = Registry.all.flatMap { q =>
      try {
        val df = q.run(s, sf)
        val cols = df.columns.toSeq
        if (cols.distinct.size != cols.size)
          Some(s"${q.name}: duplicate columns $cols")
        else if (df.count() == 0 && !mayBeEmpty(q.name))
          Some(s"${q.name}: empty result")
        else None
      } catch {
        case e: Throwable => Some(s"${q.name}: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("SparkEntry.entry returns rows on sf0.001 and equals " +
    "a8_dashboard_revenue there") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val entry = rows(graft.SparkEntry.entry(s))
    assert(entry.nonEmpty)
    assert(entry == rows(Registry.named("a8_dashboard_revenue").run(s, sf)))
  }

  test("typed fact dataset decodes (Gold schema matches its encoder)") {
    val fact = graft.operators.Gold.factSalesTyped(s, sf)
    val first = fact.head()
    assert(first.Quantity > 0 && first.CustomerKey > 0)
  }

  test("concurrent query construction + execution matches sequential " +
    "results (session-level memos and lookups are thread-safe)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // g5 exercises Gold's synchronized dim memo from many threads at
    // once; the others mix broadcast lookups and dedup
    val names = Seq("g5_fact_build", "a8_dashboard_revenue",
      "l1_exact_dedup", "u2_iso_lookup")
    def counts(): Map[String, Long] =
      names.map(n => n -> Registry.queries(n)(s, sf).count()).toMap
    val sequential = counts()
    val concurrent = Await.result(
      Future.sequence((1 to 3).flatMap(_ => names).map(n =>
        Future(n -> Registry.queries(n)(s, sf).count()))),
      Duration(5, "min"))
    concurrent.foreach { case (n, c) =>
      assert(c == sequential(n), s"$n: concurrent $c vs ${sequential(n)}")
    }
  }
}
