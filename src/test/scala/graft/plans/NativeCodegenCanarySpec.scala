package graft.plans

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

/** Codegen CANARY for every native graft expression.
  *
  * Why this exists: Spark's `UnsafeProjection.create` wraps codegen in
  * `CodeGeneratorWithInterpretedFallback` — a Janino compile error is
  * logged as a WARN ("Expr codegen error and falling back to interpreter
  * mode") and the projection silently runs interpreted. Results stay
  * correct, so NO correctness oracle can catch the regression; the only
  * witnesses are log lines nobody asserts on. That is exactly how
  * `interleave_bits` shipped with generated code Janino cannot parse
  * (`<< (2 * i)` — Janino tries to parse the parenthesized RHS as a cast
  * type) and ran interpreted on every z-order path for a full round.
  *
  * `GenerateUnsafeProjection.generate` has NO fallback — a
  * CompileException propagates and fails the test. Each native
  * expression gets one direct-compile case here, so a codegen break in
  * ANY of them is a red test, not a log line. (Per-expression
  * WholeStageCodegen fusion assertions live in their own specs; this
  * suite pins the lower layer: the generated Java actually compiles.)
  */
class NativeCodegenCanarySpec extends AnyFunSuite {

  // Session first: the JVM's codegen cache takes its size from Sessions.build.
  graft.TestSpark.spark

  private val vecA = BoundReference(0, ArrayType(DoubleType), nullable = true)
  private val vecB = BoundReference(1, ArrayType(DoubleType), nullable = true)
  private val str = BoundReference(0, StringType, nullable = true)
  private val lngA = BoundReference(0, LongType, nullable = true)
  private val lngB = BoundReference(1, LongType, nullable = true)
  private val arrL =
    BoundReference(0, ArrayType(LongType), nullable = true)
  private val arrL2 =
    BoundReference(1, ArrayType(LongType), nullable = true)

  private def assertCompiles(e: Expression, row: InternalRow): Unit = {
    // Throws (wrapped CompileException) if the generated Java is
    // invalid; APPLYING the projection to one row then catches
    // execute-time breaks compilation can't see (a bad static-helper
    // path, a mutable-state init that only runs on first eval — the
    // BloomMightContain lazy-deserialize class of bug).
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    assert(proj(row) != null)
  }

  private def arr(xs: Double*): GenericArrayData =
    new GenericArrayData(xs.toArray)
  private def larr(xs: Long*): GenericArrayData =
    new GenericArrayData(xs.toArray)
  private def sarr(xs: String*): GenericArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray)

  test("interleave_bits generated code compiles and runs") {
    assertCompiles(InterleaveBits(lngA, lngB), InternalRow(3L, 5L))
  }

  test("vec_dot generated code compiles and runs") {
    assertCompiles(VecDot(vecA, vecB),
      InternalRow(arr(1.0, 2.0), arr(3.0, 4.0)))
  }

  test("poly_hash generated code compiles and runs") {
    assertCompiles(PolyHash(str), InternalRow(UTF8String.fromString("abc")))
  }

  test("intersect_count generated code compiles and runs (long and " +
    "string keys)") {
    assertCompiles(IntersectCount(arrL, arrL2),
      InternalRow(larr(1L, 2L), larr(2L, 3L)))
    assertCompiles(IntersectCount(
      BoundReference(0, ArrayType(StringType), nullable = true),
      BoundReference(1, ArrayType(StringType), nullable = true)),
      InternalRow(sarr("a", "b"), sarr("b")))
  }

  test("lsh_buckets generated code compiles and runs") {
    assertCompiles(LshBuckets(vecA, nPlanes = 16, nTables = 8,
      dim = 64, planeOffset = 0),
      InternalRow(arr(Seq.tabulate(64)(_ * 0.1): _*)))
  }

  test("nearest_cell generated code compiles and runs") {
    val mat = Literal.create(Seq(1.0, 0.0, 0.0, 1.0),
      ArrayType(DoubleType, containsNull = false))
    val nrm = Literal.create(Seq(1.0, 1.0),
      ArrayType(DoubleType, containsNull = false))
    val ids = Literal.create(Seq(0L, 1L),
      ArrayType(LongType, containsNull = false))
    assertCompiles(NearestCell(vecA, mat, nrm, ids),
      InternalRow(arr(0.9, 0.1)))
  }

  test("nfc_normalize generated code compiles and runs") {
    assertCompiles(NfcNormalize(str),
      InternalRow(UTF8String.fromString("cafe\u0301")))
  }

  test("bloom_might_contain generated code compiles and runs (the " +
    "lazy executor-side deserialize is exercised)") {
    val bf = BloomFilter.create(100L)
    bf.putLong(42L)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    assertCompiles(BloomMightContain(Literal(bos.toByteArray), lngA),
      InternalRow(42L))
  }

  test("multi_contains_count generated code compiles and runs (the " +
    "automaton reference object resolves)") {
    assertCompiles(MultiContainsCount(str, Seq("ab", "b")),
      InternalRow(UTF8String.fromString("xabx")))
  }

  test("vec_sub generated code compiles and runs") {
    assertCompiles(VecSub(vecA, vecB),
      InternalRow(arr(1.0, 2.0), arr(0.5, 0.25)))
  }

  test("unigram_viterbi generated code compiles and runs (the model " +
    "reference object resolves)") {
    assertCompiles(UnigramViterbi(str, Seq("a", "b", "ab"),
      Seq(3L, 3L, 4L), maxPieceLen = 2, unknownCost = 100L),
      InternalRow(UTF8String.fromString("abab")))
  }

  test("warc_parse generated code compiles and runs") {
    assertCompiles(WarcParse(str), InternalRow(
      UTF8String.fromString("WARC/1.0\r\nWARC-Type: metadata\r\n" +
        "Content-Length: 2\r\n\r\nhi\r\n\r\n")))
  }

  test("wordpiece_pieces generated code compiles and runs (the " +
    "vocabulary reference object resolves)") {
    assertCompiles(GreedyPieces(str, Seq("a", "b", "ab", "abc")),
      InternalRow(UTF8String.fromString("abcab")))
  }

  test("pq_encode_all / pq_lut / pq_lut_score generated code compiles " +
    "and runs") {
    // 2 subspaces x 2 codewords x 2 elements
    val flat = Literal.create(
      Seq(0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0),
      ArrayType(DoubleType, containsNull = false))
    val dsub = Literal(2L)
    val ksub = Literal(2L)
    assertCompiles(PqEncodeAll(vecA, flat, dsub, ksub),
      InternalRow(arr(0.9, 1.1, 2.4, 2.6)))
    assertCompiles(PqLut(vecA, flat, dsub, ksub),
      InternalRow(arr(0.9, 1.1, 2.4, 2.6)))
    assertCompiles(PqLutScore(vecA, arrL2, ksub),
      InternalRow(arr(0.5, 1.5, 2.5, 3.5), larr(1L, 0L)))
  }
}
