package graft.operators

import scala.util.Random

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins [[Dedup.editDistanceJoinPass]] against an in-JVM brute-force
  * Levenshtein ground truth: the blocking stage is a theorem (exact
  * recall), so the operator's output must EQUAL the brute pair set —
  * including the length-bucket short tier, exact duplicates (distance
  * 0), pairs at exactly k, and pairs at k+1 (excluded). Also pins the
  * plan shape: no CartesianProduct / BroadcastNestedLoop anywhere (the
  * short tier is a length-bucket equi-join, not a nested loop).
  */
class EditDistanceJoinSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import s.implicits._

  private def lev(a: String, b: String): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    for (j <- 0 to b.length) prev(j) = j
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + cost)
      }
      Array.copy(cur, 0, prev, 0, b.length + 1)
    }
    prev(b.length)
  }

  private def brute(docs: Seq[(Long, String)],
                    k: Int): Set[(Long, Long, Long)] =
    (for {
      (ia, ta) <- docs
      (ib, tb) <- docs
      if ia < ib
      d = lev(ta, tb)
      if d <= k
    } yield (ia, ib, d.toLong)).toSet

  private def randomEditCorpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val alpha = "abcdefgh "
    def randStr(len: Int): String =
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def edit(t: String, nEdits: Int): String = {
      var cur = t
      for (_ <- 0 until nEdits) {
        val op = rnd.nextInt(3)
        val p = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => // substitute
            cur.updated(p, alpha(rnd.nextInt(alpha.length)))
          case 1 => // insert
            cur.substring(0, p) + alpha(rnd.nextInt(alpha.length)) +
              cur.substring(p)
          case _ if cur.nonEmpty => // delete
            cur.substring(0, p) + cur.substring(p + 1)
          case _ => cur
        }
      }
      cur
    }
    val bases = (0 until 20).map(i => randStr(40 + rnd.nextInt(120)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    bases.foreach { b =>
      docs += ((id, b)); id += 1
      // planted neighbors at distances around the threshold
      docs += ((id, edit(b, 1 + rnd.nextInt(4)))); id += 1
      docs += ((id, edit(b, 6 + rnd.nextInt(6)))); id += 1
    }
    // exact duplicate (distance 0)
    docs += ((id, bases.head)); id += 1
    docs.toSeq
  }

  private def runPass(docs: Seq[(Long, String)],
                      k: Int): Set[(Long, Long, Long)] =
    Dedup.editDistanceJoinPass(docs.toDF("doc_id", "text"), "doc_id",
        "text", k = k)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("dist")))
      .toSet

  test("PassJoin equals brute force on the random planted-edit corpus " +
    "(k=5)") {
    val docs = randomEditCorpus(7)
    assert(runPass(docs, k = 5) == brute(docs, 5))
  }

  test("PassJoin equals brute force at k=3 and k=8") {
    val docs = randomEditCorpus(11)
    assert(runPass(docs, k = 3) == brute(docs, 3))
    assert(runPass(docs, k = 8) == brute(docs, 8))
  }

  test("PassJoin short tier: sub-(k+1) documents and their bounded " +
    "partners join exactly") {
    val docs = Seq[(Long, String)](
      (1L, ""), (2L, "ab"), (3L, "abcd"), (4L, "abcdefg"),
      (5L, "abcdefgzzzz"), (6L, "xy"), (7L, "abcdefghijklmnopqr"),
      (8L, "abcdefghijklmnopqrstuvwx"), (9L, "abcdefghijklmnopqrstuvwxyz"))
    assert(runPass(docs, k = 4) == brute(docs, 4))
  }

  /** Seeded corpora for the property below: families of a base string
    * plus partners 0 to k+1 random edits away. Base lengths span 0-40
    * with most of the weight on the tier boundaries k, k+1 (shortest
    * segmented doc), 2k+1 (longest short-tier doc) and 2k+2, so pairs
    * straddle every boundary. Edit positions are uniform, stratified
    * (one per 1/n-th of the string, so edits land in different
    * segments), or inserts in the first segment and deletes in the last
    * (or the reverse), so the segments between survive shifted by up to
    * the shift bound.
    */
  private def propertyCorpus(k: Int, seed: Long): Seq[(Long, String)] = {
    val alpha = "abcdefgh "
    val length = Gen.frequency(
      3 -> Gen.oneOf(k, k + 1, 2 * k + 1, 2 * k + 2),
      2 -> Gen.choose(0, 40))
    def edited(t: String, n: Int): Gen[String] = {
      val m = t.length + 1 // insert positions 0..len
      val w = t.length / (k + 1) // about one segment
      def slice(j: Int) =
        Gen.choose(j * m / n, math.max(j * m / n, (j + 1) * m / n - 1))
      // (position, op) with op 0 substitute, 1 insert, 2 delete
      def edit(mode: Int, head: Int, flip: Boolean,
               j: Int): Gen[(Int, Int)] = mode match {
        case 0 => Gen.zip(Gen.choose(0, t.length), Gen.choose(0, 2))
        case 1 => Gen.zip(slice(j), Gen.choose(0, 2))
        case _ => // inserts at the head, deletes at the tail (or flipped)
          if (j < head) Gen.zip(Gen.choose(0, w), Gen.const(if (flip) 2 else 1))
          else Gen.zip(Gen.choose(t.length - w, t.length),
            Gen.const(if (flip) 1 else 2))
      }
      for {
        mode <- Gen.choose(0, 2)
        head <- Gen.choose(1, math.max(1, n - 1))
        flip <- Gen.oneOf(true, false)
        es <- Gen.sequence[List[(Int, Int)], (Int, Int)](
          (0 until n).map(edit(mode, head, flip, _)))
        cs <- Gen.listOfN(n, Gen.oneOf(alpha))
      } yield es.zip(cs).sortBy(-_._1._1).foldLeft(t) {
        // right to left, so each position still indexes the base string
        case (cur, ((p, op), c)) => op match {
          case 0 if p < cur.length => cur.updated(p, c) // substitute
          case 1 => cur.substring(0, p) + c + cur.substring(p) // insert
          case _ if p < cur.length => // delete
            cur.substring(0, p) + cur.substring(p + 1)
          case _ => cur
        }
      }
    }
    val family = for {
      base <- length.flatMap(Gen.listOfN(_, Gen.oneOf(alpha)))
        .map(_.mkString)
      nPartners <- Gen.choose(1, 3)
      partners <- Gen.listOfN(nPartners,
        Gen.choose(0, k + 1).flatMap(edited(base, _)))
    } yield base +: partners
    val corpus = Gen.listOfN(40, family).map(_.flatten)
    corpus(Gen.Parameters.default, rng.Seed(seed)).get
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("property: PassJoin equals brute force on seeded corpora whose " +
    "lengths straddle the tier boundaries (k=3, k=8)") {
    for (k <- Seq(3, 8); seed <- 1L to 3L) {
      val docs = propertyCorpus(k, seed)
      assert(runPass(docs, k) == brute(docs, k), s"k=$k seed=$seed")
    }
  }

  test("distance-k pairs kept, k+1 excluded, and dist is the true " +
    "levenshtein value") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val atK = base.take(base.length - 4) // 4 deletions -> dist 4
    val overK = base.take(base.length - 5) // dist 5
    val docs = Seq((1L, base), (2L, atK), (3L, overK))
    val out = runPass(docs, k = 4)
    assert(out.contains((1L, 2L, 4L)))
    assert(!out.exists { case (a, b, _) => (a, b) == ((1L, 3L)) })
    // (2,3): one more deletion -> dist 1
    assert(out.contains((2L, 3L, 1L)))
  }

  test("plan: no cartesian product or nested-loop join in either tier") {
    val docs = randomEditCorpus(3) ++
      Seq((9000L, "ab"), (9001L, "abc")) // populate the short tier
    val plan = Dedup.editDistanceJoinPass(docs.toDF("doc_id", "text"),
        "doc_id", "text", k = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }
}
