package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class WinnowSpec extends SparkSpec {

  private val M = graft.plans.WinnowFingerprints.Mod
  private val B = graft.plans.WinnowFingerprints.Base

  /** Independent reference: non-rolling gram hashes + literal
    * per-window rightmost-argmin — no shared code with the expression
    * beyond the constants.
    */
  private def reference(text: String, k: Int, w: Int): Seq[(Int, Long)] = {
    val cps = text.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return Seq.empty
    val h = Array.tabulate(n) { p =>
      (p until p + k).foldLeft(0L)((acc, i) => (acc * B + cps(i)) % M)
    }
    val sel = scala.collection.mutable.LinkedHashSet.empty[Int]
    for (t <- 0 to math.max(0, n - w)) {
      val end = math.min(t + w - 1, n - 1)
      var best = t
      for (q <- t + 1 to end) if (h(q) <= h(best)) best = q
      sel += best
    }
    sel.toSeq.sorted.map(p => (p, h(p)))
  }

  private def decode(keys: Seq[Long]): Seq[(Int, Long)] =
    keys.map(key => ((key & graft.plans.WinnowFingerprints.PosMask).toInt,
      key >>> graft.plans.WinnowFingerprints.PosBits))

  test("graft_winnow matches the per-window reference on random strings, codegen and interpreted") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(31)
    val alphabet = "abcde "
    val texts = (0 until 50).map { i =>
      val len = rnd.nextInt(60) // includes < k and < w+k-1 lengths
      (i, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } :+ (50, "") :+ (51, "ab") :+ (52, "aaaaaaaaaaaaaaaaaaaa") // tie storm
    for ((k, w) <- Seq((3, 4), (5, 8), (8, 10))) {
      val got = texts.toDF("i", "t")
        .select(col("i"),
          Dedup.winnow(col("t"), k, w).as("fps"))
        .as[(Int, Seq[Long])].collect().sortBy(_._1)
      texts.zip(got).foreach { case ((_, text), (i, keys)) =>
        assert(decode(keys) == reference(text, k, w),
          s"k=$k w=$w text#$i ${text.take(40)}")
      }
      // interpreted eval (non-codegen fallback) agrees
      texts.take(10).foreach { case (_, text) =>
        val ev = graft.plans.WinnowFingerprints
          .compute(UTF8String.fromString(text), k, w)
        assert(decode(ev.toLongArray().toSeq) == reference(text, k, w))
      }
    }
  }

  test("winnowing theorem: any shared substring of length >= w+k-1 yields a shared fingerprint") {
    val k = 5; val w = 8
    val rnd = new scala.util.Random(47)
    val alphabet = "abcdefgh "
    def rand(len: Int) =
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val shared = rand(w + k - 1) // exactly the guarantee boundary
    for (trial <- 0 until 20) {
      val a = rand(rnd.nextInt(80)) + shared + rand(rnd.nextInt(80))
      val b = rand(rnd.nextInt(80)) + shared + rand(rnd.nextInt(80))
      val fa = reference(a, k, w).map(_._2).toSet
      val fb = reference(b, k, w).map(_._2).toSet
      assert((fa & fb).nonEmpty,
        s"trial $trial: shared ${shared.length}-char substring produced no shared fingerprint")
    }
  }

  test("position robustness: a prefix shift moves positions but keeps every fingerprint hash") {
    val k = 8; val w = 10
    val doc = "the quick brown fox jumps over the lazy dog again and again for measure"
    val shifted = "zzzz qqqq " + doc
    val base = reference(doc, k, w)
    val moved = reference(shifted, k, w)
    // every hash selected from the original text is reselected in the
    // shifted copy (the shifted copy may add fingerprints from its
    // prefix and the seam — containment, not equality)
    assert(base.map(_._2).toSet.subsetOf(moved.map(_._2).toSet))
    assert(base.map(_._2).toSet.nonEmpty)
  }

  test("winnowOverlap surfaces a planted copied paragraph and honors minShared and id order") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(53)
    val alphabet = "abcdefghij "
    def rand(len: Int) =
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val paragraph = rand(120)
    val docs = Seq(
      (1L, rand(150) + " " + paragraph),            // contains the paragraph
      (2L, paragraph + " " + rand(150)),            // contains it at a different offset
      (3L, rand(260)),                              // unrelated
      (4L, rand(240))).toDF("doc_id", "text")       // unrelated
    val pairs = Dedup.winnowOverlap(docs, col("doc_id"), col("text"),
      k = 8, w = 10, minShared = 3, maxDocFreq = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists { case (a, b, n) => a == 1L && b == 2L && n >= 3 },
      s"planted overlap not found: $pairs")
    assert(pairs.forall { case (a, b, _) => a < b })
    // raising minShared beyond the paragraph's fingerprint yield empties it
    val strict = Dedup.winnowOverlap(docs, col("doc_id"), col("text"),
      k = 8, w = 10, minShared = 1000, maxDocFreq = 10).count()
    assert(strict == 0L)
  }

  test("winnowFingerprints density tracks the 2/(w+1) expectation") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(61)
    val alphabet = "abcdefghijklmnop "
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, (0 until 400).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString))
      .toDF("doc_id", "text")
    val w = 8
    val fps = Dedup.winnowFingerprints(docs, col("doc_id"), col("text"), k = 5, w = w)
    val density = fps.count().toDouble / (30 * (400 - 5 + 1))
    // winnowing selects ~2/(w+1) of grams on random input (paper §3);
    // generous band — the point is "sampled", not "everything"
    assert(density > 1.0 / (w + 1) && density < 4.0 / (w + 1),
      s"density $density outside the winnowing band")
  }
}
