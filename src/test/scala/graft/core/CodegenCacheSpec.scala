package graft.core

import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference,
  Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the size of Spark's JVM-wide generated-class cache that
  * [[Sessions.build]] sets. The cache is built once per JVM, sized from
  * the conf in effect when CodeGenerator is first loaded; at Spark's
  * default of 100 entries a reference-parity pass (~350 distinct
  * classes) evicted every class before it was needed again.
  *
  * Compares class identity, not the global CodegenMetrics counters, so
  * compiles by other suites in the same JVM cannot make it flaky.
  */
class CodegenCacheSpec extends AnyFunSuite {

  test("a 300-class working set stays cached: regenerating every " +
    "projection reuses its class instead of recompiling") {
    TestSpark.spark
    // each literal is inlined, so each projection has its own source
    val exprs = (0 until 300).map(i =>
      Add(BoundReference(0, LongType, nullable = true), Literal(i.toLong)))
    def generateAll() =
      exprs.map(e => GenerateUnsafeProjection.generate(Seq(e)).getClass)
    val first = generateAll()
    assert(first.distinct.size == 300,
      "the projections must compile to 300 distinct classes")
    val second = generateAll()
    val recompiled = first.indices.count(i => !(first(i) eq second(i)))
    assert(recompiled == 0,
      s"$recompiled of 300 projections were recompiled on their second " +
        "generation: the codegen cache was initialized before " +
        "Sessions.build (at Spark's default of 100 entries), or " +
        "spark.sql.codegen.cache.maxEntries no longer holds this " +
        "working set")
  }
}
