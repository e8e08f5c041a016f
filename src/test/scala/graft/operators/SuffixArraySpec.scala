package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

class SuffixArraySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import s.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_id"),
      (r.getAs[Long]("n_tokens"), r.getAs[Long]("max_dup_span"),
        r.getAs[Long]("n_dup_pos_8"), r.getAs[Long]("n_dup_pos_32"))))
      .toMap

  test("shared 10-token run: grid spans, clamping, cross-doc contract " +
    "(hand-computed)") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z z a b c d e f g h i j q"),
      (3L, "only unrelated tokens here")).toDF("doc_id", "text")
    val out = rows(SuffixArray.gridDupSpans(docs, "doc_id", "text"))
    // doc 1: positions 1-3 tie at s=8 (full windows inside the shared
    // run), 4-7 at s=4, 8-9 at s=2, 10 at s=1; nothing survives s=16
    // (doc 1's clamped window is its whole 10-token text, doc 2's
    // continues with "q").
    assert(out(1L) == ((10L, 8L, 3L, 0L)))
    // doc 2: the mirrored positions 3-12 plus the same-doc-only "z z"
    // head, which must NOT count (cross-doc contract).
    assert(out(2L) == ((13L, 8L, 3L, 0L)))
    assert(out(3L) == ((4L, 0L, 0L, 0L)))
  }

  test("identical document tails clamp to their true token length and " +
    "stay tied to the horizon") {
    val docs = Seq((1L, "p q r"), (2L, "x p q r")).toDF("doc_id", "text")
    val out = rows(SuffixArray.gridDupSpans(docs, "doc_id", "text"))
    // the shared tail "p q r" is 3 tokens: every round s >= 4 keeps the
    // clamped windows equal, and the reported span is the REAL length 3
    // (not the round's 2^k)
    assert(out(1L) == ((3L, 3L, 0L, 0L)))
    assert(out(2L) == ((4L, 3L, 0L, 0L)))
  }

  test("disjoint vocabularies produce all-zero spans (early stop path)") {
    val docs = Seq((1L, "aa bb cc"), (2L, "dd ee ff"))
      .toDF("doc_id", "text")
    val out = rows(SuffixArray.gridDupSpans(docs, "doc_id", "text"))
    assert(out(1L) == ((3L, 0L, 0L, 0L)))
    assert(out(2L) == ((3L, 0L, 0L, 0L)))
  }

  test("n_dup_pos_8 equals the brute full-8-window cross-doc count on " +
    "real data") {
    val docs = Tables.documents(s, sf)
    val out = SuffixArray.gridDupSpans(docs, "doc_id", "text")
    // brute: a position counts iff its suffix has >= 8 tokens and its
    // exact 8-token window opens a >= 8-token suffix in another doc —
    // the tie-at-s=8 semantics derived in the operator's scaladoc
    val toks = docs.select(col("doc_id"),
      expr("filter(split(text, ' '), t -> length(t) > 0)").as("tk"))
      // guard BEFORE sequence: Spark's sequence(1, 0) is the
      // DESCENDING [1, 0], not empty, and slice(tk, 0, 8) throws
      .filter(size(col("tk")) >= 8)
    val w8 = toks
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(tk) - 7), " +
          "i -> array_join(slice(tk, i, 8), ' '))")).as(Seq("p0", "w")))
    val dup = w8.groupBy("w")
      .agg(min("doc_id").as("a"), max("doc_id").as("b"))
      .filter(col("a") =!= col("b")).select("w")
    val expected = w8.join(dup, "w").groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n"))
      .toMap
    val got = out.filter(col("n_dup_pos_8") > 0).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_pos_8"))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty, "testdata should contain cross-doc 8-windows")
  }

  test("denseRankOver (InternalRow form): equal keys share one rank, " +
    "ranks are dense 1..N in key order, max = distinct-key count, " +
    "payload columns survive — vs a window dense_rank reference") {
    // mixed key types exercise both the UTF8String copy-on-boundary
    // path and the boxed-long fallback of the internal-row rewrite
    val rng = new scala.util.Random(42)
    val rows = (1 to 5000).map { i =>
      (i.toLong, s"tok${rng.nextInt(300)}", rng.nextInt(7).toLong,
        s"payload$i")
    }
    val df = s.createDataFrame(rows).toDF("id", "k1", "k2", "payload")
      .repartition(7)
    val (ranked, mx) =
      SuffixArray.denseRankOverWithMax(df, Seq("k1", "k2"), "r")
    val expect = df.withColumn("r",
      dense_rank().over(org.apache.spark.sql.expressions.Window
        .orderBy("k1", "k2")).cast("long"))
    assert(ranked.schema.fieldNames.toSeq ==
      Seq("id", "k1", "k2", "payload", "r"))
    val got = ranked.select("id", "r").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = expect.select("id", "r").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    val nDistinct = df.select("k1", "k2").distinct().count()
    assert(mx == nDistinct)
    // payloads unharmed by the JoinedRow append
    assert(ranked.filter(col("payload") === concat(lit("payload"),
      col("id"))).count() == 5000)
  }

  test("denseRankOver rejects binary and floating key columns, naming " +
    "the column and its type") {
    val df = s.createDataFrame(Seq((1L, Array[Byte](1, 2), 0.5)))
      .toDF("id", "kb", "kd")
    for ((c, t) <- Seq("kb" -> "binary", "kd" -> "double")) {
      val e = intercept[IllegalArgumentException](
        SuffixArray.denseRankOverWithMax(df, Seq("id", c), "r"))
      assert(e.getMessage.contains(s"column $c has type $t"), e.getMessage)
    }
  }
}
