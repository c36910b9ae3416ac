package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  /** The published worked example from Sennrich, Haddow & Birch 2016
    * (§3.2 / Figure 1): dictionary {low:5, lower:2, newest:6,
    * widest:3}. With an end-of-word marker the highest-frequency pair
    * sequence is (e,s)→es at 9, (es,t)→est at 9, (est,</w>)→est</w>
    * at 9, then (l,o)→lo at 7, (lo,w)→low at 7 — the exact merge
    * order the paper derives.
    */
  private val sennrichDict = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("trainMerges reproduces the published Sennrich et al. 2016 merge sequence") {
    val merges = Bpe.trainMerges(sennrichDict, numMerges = 5)
    assert(merges == Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
  }

  test("encoder segments per the learned table: known-word, rare-word, unseen-word") {
    val enc = new BpeEncoder(Bpe.trainMerges(sennrichDict, numMerges = 5))
    // fully merged frequent word
    assert(enc.encodeWord("low") == Vector("low", "</w>"))
    // the paper's showcase: unseen "lowest" segments into known subwords
    assert(enc.encodeWord("lowest") == Vector("low", "est</w>"))
    assert(enc.countWord("lowest") == 2)
    // word sharing no learned merges stays at char granularity
    assert(enc.encodeWord("ab") == Vector("a", "b", "</w>"))
  }

  test("trainMerges stops when no pair repeats; empty/degenerate dicts are safe") {
    assert(Bpe.trainMerges(Seq.empty, 10) == Seq.empty)
    // all-distinct chars, every count 1 → first merge candidates all
    // have frequency 1 → learn nothing
    assert(Bpe.trainMerges(Seq(("abc", 1L), ("def", 1L)), 10) == Seq.empty)
  }

  test("countTokens sums pre-tokens consistently with the heuristic upper structure") {
    val enc = new BpeEncoder(Bpe.trainMerges(sennrichDict, numMerges = 5))
    // "lowest, newest!" → pre-tokens [lowest][,][newest][!]
    //  lowest → low|est</w> (2), "," → 2 (char + </w>, no merges),
    //  newest → n|e|w|est</w> (4), "!" → 2
    assert(enc.countTokens("lowest, newest!") == 2 + 2 + 4 + 2)
    assert(enc.countTokens("") == 0)
  }

  test("merge wire format round-trips, including multi-char and marker symbols") {
    val merges = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"))
    assert(Bpe.parseMerges(Bpe.serializeMerges(merges)) == merges)
    assert(Bpe.parseMerges("") == Seq.empty)
  }

  test("graft_bpe_count native expression equals the driver-side encoder on a mixed corpus") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Vector("low", "lower", "newest", "widest", "lowest", "news",
      "the", "sparking", "tokenizer", "42", "!", "a")
    val docs = (1 to 60).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    } :+ (99L, "")
    val df = docs.toDF("doc_id", "text")
    val merges = Bpe.train(df.select(col("text")), col("text"), numMerges = 40)
    assert(merges.nonEmpty)
    val enc = new BpeEncoder(merges)
    val got = df.select(col("doc_id"),
        TextFns.bpeTokenCountLearned(col("text"), merges).as("n"))
      .as[(Long, Int)].collect().toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == enc.countTokens(text), s"doc $id mismatch")
    }
  }

  test("astral code points train and encode as whole symbols, distributed ≡ driver") {
    val ss = spark; import ss.implicits._
    // 🚀 (U+1F680) and 😀 (U+1F600) are astral: 2 UTF-16 units each.
    // A per-Char split would learn lone-surrogate merge symbols that
    // die in the UTF-8 round trip to the codegen'd expression —
    // distributed counts would silently diverge from the driver.
    val rocket = new String(Character.toChars(0x1F680))
    val grin = new String(Character.toChars(0x1F600))
    val docs = (1 to 30).map(i =>
      (i.toLong, s"launch $rocket$grin$rocket now $rocket$grin$rocket ok"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs.select(col("text")), col("text"), numMerges = 20)
    // no merge symbol may contain an unpaired surrogate
    merges.foreach { case (a, b) =>
      Seq(a, b).foreach { s =>
        var i = 0
        while (i < s.length) {
          if (Character.isHighSurrogate(s.charAt(i))) {
            assert(i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1)),
              s"unpaired surrogate in merge symbol ${s.map(_.toInt)}")
            i += 2 // valid pair: skip the low half
          } else {
            assert(!Character.isLowSurrogate(s.charAt(i)),
              s"unpaired surrogate in merge symbol ${s.map(_.toInt)}")
            i += 1
          }
        }
      }
    }
    // the emoji run repeats everywhere → some merge must involve an
    // astral symbol, and it must APPLY: the encoded emoji run shrinks
    // below its 3-code-point + marker floor
    val enc = new BpeEncoder(merges)
    assert(enc.countWord(s"$rocket$grin$rocket") < 4,
      "astral merges must actually apply in the encoder")
    val got = docs.select(
        TextFns.bpeTokenCountLearned(col("text"), merges).as("n"))
      .as[Int].collect()
    val want = enc.countTokens(s"launch $rocket$grin$rocket now $rocket$grin$rocket ok")
    assert(got.forall(_ == want),
      s"distributed astral count diverged: got ${got.toSet}, want $want")
  }

  test("learned count is bounded: ≥ pre-token count, ≤ char-level count") {
    val ss = spark; import ss.implicits._
    val df = Seq((1L, "the lowest newest bid was 42 dollars!"),
      (2L, "zzz qqq xxyy")).toDF("doc_id", "text")
    val merges = Bpe.train(df.select(col("text")), col("text"), numMerges = 30)
    val rows = df.select(
        TextFns.bpeTokenCountLearned(col("text"), merges).as("learned"),
        TextFns.bpeTokenCount(col("text")).as("pre"),
        length(regexp_replace(col("text"), "\\s", "")).as("chars"))
      .as[(Int, Int, Int)].collect()
    rows.foreach { case (learned, pre, chars) =>
      // each pre-token ≥ 1 learned token; char granularity + </w> is the max
      assert(learned >= pre && learned <= chars + pre,
        s"bounds violated: learned=$learned pre=$pre chars=$chars")
    }
  }
}
