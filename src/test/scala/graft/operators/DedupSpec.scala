package graft.operators

import graft.SparkSpec
import graft.store.SegmentStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class DedupSpec extends SparkSpec {

  private def docs = {
    val ss = spark; import ss.implicits._
    Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox JUMPS over the lazy dog!!"), // exact dup of 1 after norm
      (3L, "The quick brown fox jumps over the lazy cat"),   // near dup of 1
      (4L, "completely different content about spark engines"),
      (5L, "")).toDF("doc_id", "text")
  }

  test("exact dedup groups normalization-equal docs, keeps min id") {
    val ss = spark; import ss.implicits._
    val g = Dedup.exact(docs, col("doc_id"), col("text"))
      .select(col("keep_id"), col("dup_count")).as[(Long, Long)].collect().toSet
    assert(g == Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("exactSurvivors is idempotent: dedup twice ≡ dedup once") {
    val once = Dedup.exactSurvivors(docs, col("doc_id"), col("text"))
    val twice = Dedup.exactSurvivors(once, col("doc_id"), col("text"))
    val a = once.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = twice.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a == Set(1L, 3L, 4L, 5L))
  }

  test("ngram Jaccard matches a hand-computed pair") {
    val ss = spark; import ss.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    // trigrams: {abc,bcd,cde} vs {abc,bcd,cdf} → inter 2, union 4 → 0.5
    val r = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"), n = 3, threshold = 0.4)
      .select(col("id_a"), col("id_b"), col("jaccard")).as[(Long, Long, Double)]
      .collect().toSeq
    assert(r == Seq((1L, 2L, 0.5)))

    // an explicit pair-stage width changes the plan (pre-aggregation
    // repartition), never the result
    val toks = d.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val widened = Dedup.ngramJaccardPairsOfTokens(toks, n = 3, threshold = 0.4,
      pairParts = 7)
      .select(col("id_a"), col("id_b"), col("jaccard")).as[(Long, Long, Double)]
      .collect().toSeq
    assert(widened == r, "pairParts must be plan-only")
  }

  test("ngram Jaccard finds the planted near-dup, not the unrelated doc") {
    val ss = spark; import ss.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      n = 3, threshold = 0.3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngram pair build: Bloom-pruned form ≡ the join form on a mixed fixture") {
    val ss = spark; import ss.implicits._
    // exercises every path the round-15 restructure touched: singleton
    // grams (unique tails — prunable, never pair-bearing), shared
    // grams at several frequencies, a stop-shingle past the cap
    // (must leave BOTH the numerator and the denominator), threshold
    // boundary pairs, and a doc with no shingles at all
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog one"),
      (2L, "the quick brown fox jumps over the lazy dog two"),
      (3L, "the quick brown fox leaps over a sleepy cat still"),
      (4L, "completely different text with its own unique words here"),
      (5L, "stop stop stop stop stop stop stop stop"),
      (6L, "stop stop stop stop stop stop stop stop"),
      (7L, "stop stop stop stop stop stop stop stop"),
      (8L, "ab")).toDF("doc_id", "text")
    val toks = d.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("__toks"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b"), round(col("jaccard"), 9))
        .as[(Long, Long, Double)].collect().toSet
    for (cap <- Seq(2L, 1000L, Long.MaxValue); pp <- Seq(0, 5)) {
      val neu = rows(Dedup.ngramJaccardPairsOfTokens(
        toks, n = 3, threshold = 0.2, maxShingleFreq = cap, pairParts = pp))
      val old = rows(Dedup.ngramJaccardPairsOfTokensJoined(
        toks, n = 3, threshold = 0.2, maxShingleFreq = cap, pairParts = pp))
      assert(neu == old, s"cap=$cap pairParts=$pp: forms diverged\nnew=$neu\nold=$old")
      assert(cap == 2L || neu.nonEmpty, s"fixture should produce pairs at cap=$cap")
    }
  }

  test("maxShingleFreq=1 drops every shared shingle → no pairs") {
    val ss = spark; import ss.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val r = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
      n = 3, threshold = 0.0, maxShingleFreq = 1L)
    assert(r.count() == 0)
  }

  test("minhash est_jaccard ≈ exact Jaccard on known pairs") {
    val ss = spark; import ss.implicits._
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), // identical: J = 1
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 xx yy")    // 8 shared of 12 distinct trigrams
    ).toDF("doc_id", "text")
    val est = Dedup.minhashCandidates(d, col("doc_id"), col("text"),
      shingleLen = 3, bands = 32, rowsPerBand = 4)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(est((1L, 2L)) == 1.0)
    // exact J(1,3) = 8/12 ≈ 0.667; 128 hashes → σ ≈ 0.042, allow 5σ
    val e13 = est.getOrElse((1L, 3L), est((2L, 3L)))
    assert(math.abs(e13 - 8.0 / 12.0) < 0.21, s"est=$e13")
  }

  test("simhash: identical docs collide at hamming 0; pairs respect maxDist") {
    val ss = spark; import ss.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally unrelated words querty zxcvb plumbus")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, col("doc_id"), col("text"), maxDist = 3)
      .select(col("id_a"), col("id_b"), col("hamming")).as[(Long, Long, Int)]
      .collect().toSeq
    assert(pairs.contains((1L, 2L, 0)))
    assert(pairs.forall(_._3 <= 3))
  }

  test("graft_simhash64 is bit-identical to the aggregate formulation") {
    val ss = spark; import ss.implicits._
    // repeated tokens exercise the multiplicity weighting; doc 4 is
    // empty (must vanish); fixed seed keeps the fixture reproducible
    val rnd = new scala.util.Random(7)
    val vocab = Vector.tabulate(30)(i => s"tok$i")
    val docs = ((1 to 20).map { id =>
      (id.toLong, Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(30))))
    } :+ (99L, Seq.empty[String])).toDF("doc_id", "__toks")

    val fast = Dedup.simhashSignaturesOfTokens(docs)
      .as[(Long, Long)].collect().toMap

    // the pre-round-8 pipeline: explode → xxhash → (doc, hash, count)
    // → 64 weighted-sum aggregate columns → sign OR
    val bitCols = (0 until 64).map(k =>
      sum(col("__c") *
        (call_function("shiftright", col("__h"), lit(k))
          .bitwiseAND(1) * 2 - 1)).as(s"__c$k"))
    val slow = docs
      .select(col("doc_id"), explode(col("__toks")).as("__t"))
      .select(col("doc_id"), xxhash64(col("__t")).as("__h"))
      .groupBy(col("doc_id"), col("__h")).agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(k =>
          when(col(s"__c$k") > 0, lit(1L << k)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
      .as[(Long, Long)].collect().toMap

    assert(fast == slow, "expression and aggregate signatures must agree")
    assert(!fast.contains(99L), "empty docs must drop")
  }

  test("graft_minhash is bit-identical to the aggregate formulation") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(25)(i => s"word$i")
    // includes a short doc (< shingleLen) and an empty doc — both take
    // the whole-doc-shingle path ("" for the empty one)
    val docs = ((1 to 15).map { id =>
      (id.toLong, Seq.fill(2 + rnd.nextInt(30))(vocab(rnd.nextInt(25))))
    } :+ (98L, Seq("solo")) :+ (99L, Seq.empty[String]))
      .toDF("doc_id", "__toks")
    val k = 3; val m = 32

    val fast = docs.select(col("doc_id"),
        ColumnBridge.column(graft.plans.MinHashSig(
          ColumnBridge.expression(col("__toks")), k, m)).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap

    // the pre-round-8 pipeline: explode shingles → xxhash → m MIN cols
    val minCols = (0 until m).map(i =>
      min(xxhash64(lit(i), col("__h"))).as(s"__m$i"))
    val slow = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFns.wordShinglesOf(col("__toks"), k)).as("__s"))
      .select(col("doc_id"), xxhash64(col("__s")).as("__h"))
      .groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until m).map(i => col(s"__m$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap

    assert(fast == slow, "expression and aggregate signatures must agree")
    assert(fast.contains(99L), "empty docs keep their whole-doc shingle")
  }

  test("minhash index: probe of a new batch equals the batch sweep's cross pairs; parts prune") {
    val ss = spark; import ss.implicits._
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))
    // indexed corpus A (1..40) and a new batch B (101..110): B plants
    // near-dups of A docs plus genuinely new content
    val corpusA = (1 to 40).map { i =>
      (i.toLong, s"shared prefix words for doc $i tail ${"x" * (i % 3)} y z w v")
    }.toDF("doc_id", "text")
    val batchB = ((101 to 105).map { i =>
      val twin = i - 100
      (i.toLong, s"shared prefix words for doc $twin tail ${"x" * (twin % 3)} y z w v")
    } ++ (106 to 110).map { i =>
      (i.toLong, s"totally novel content block number $i about nothing indexed")
    }).toDF("doc_id", "text")

    val base = java.nio.file.Files.createTempDirectory("mh_idx").toString
    Dedup.writeMinhashIndex(toToks(corpusA), base)
    val probe = Dedup.minhashProbe(toToks(batchB), base)
    val gotPairs = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // the batch sweep over A ∪ B, restricted to cross (B, A) pairs
    val sweep = Dedup.minhashCandidatesOfTokens(toToks(corpusA.union(batchB)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a > 100) != (b > 100) }
      .map { case (a, b, j) => if (a > 100) (a, b, j) else (b, a, j) }.toSet
    assert(gotPairs == sweep,
      s"probe diverged from the batch sweep's cross pairs:\n$gotPairs\nvs\n$sweep")
    assert(gotPairs.exists(_._3 >= 0.9), "planted twins must surface")

    // both index scans prune (partition filter, not post-scan): the
    // bands scan by part (asserted on the un-checkpointed candidate
    // stage — the checkpoint hides it from the probe's plan), the
    // sigs scan by spart (asserted on the probe's returned plan)
    val one = toToks(batchB.limit(1))
    val bandsPlan = Dedup.minhashProbeCands(one, base, 3, 16, 8,
      Dedup.MinhashParts, None).queryExecution.executedPlan.toString
    val bandsPf = bandsPlan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(bandsPf.exists(l => l.contains("part") &&
      (l.contains("IN") || l.contains("in("))),
      s"bands scan must prune by part:\n${bandsPf.mkString("\n")}")
    val sigsPlan = Dedup.minhashProbe(one, base)
      .queryExecution.executedPlan.toString
    val sigsPf = sigsPlan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    // a singleton part list folds to an equality predicate
    assert(sigsPf.exists(l => l.contains("spart") &&
      (l.contains("IN") || l.contains("in(") || l.contains("spart#") && l.contains(" = "))),
      s"sigs scan must prune by spart:\n${sigsPf.mkString("\n")}")
  }

  test("hamming index: probe of a new batch equals the exact sweep's cross pairs; parts prune") {
    val ss = spark; import ss.implicits._
    // indexed corpus A and batch B as raw 64-bit fingerprints: B
    // plants ≤3-bit twins of A signatures plus far-away novel ones
    val baseSigs = Seq(
      1L -> 0x0123456789abcdefL, 2L -> 0x0f0f0f0f0f0f0f0fL,
      3L -> 0x7777000011118888L, 4L -> 0xdeadbeefcafe4242L,
      5L -> 0x1111222233334444L)
    val corpusA = baseSigs.toDF("doc_id", "sh")
    val batchB = Seq(
      101L -> (0x0123456789abcdefL ^ 0x1L),          // dist 1 of doc 1
      102L -> (0x0f0f0f0f0f0f0f0fL ^ 0x8800L),       // dist 2 of doc 2
      103L -> (0x7777000011118888L ^ 0x100100100L),  // dist 3 of doc 3
      104L -> (0xdeadbeefcafe4242L ^ 0xf0f0L),       // dist 8 — no match
      105L -> 0x5a5a5a5a5a5a5a5aL                    // novel
    ).toDF("doc_id", "sh")

    val base = java.nio.file.Files.createTempDirectory("hm_idx").toString
    Dedup.writeHammingIndex(corpusA, base)
    val probe = Dedup.hammingProbe(batchB, base)
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet

    // the EXACT sweep (uncapped pigeonhole) over A ∪ B, restricted to
    // cross (B, A) pairs — same reference the probe must reproduce
    val sweep = Dedup.hammingPairsOfSignatures(
        corpusA.union(batchB), maxDist = 3, maxPieceFreq = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
      .filter { case (a, b, _) => (a > 100) != (b > 100) }
      .map { case (a, b, d) => if (a > 100) (a, b, d) else (b, a, d) }.toSet
    assert(got == sweep,
      s"probe diverged from the exact sweep's cross pairs:\n$got\nvs\n$sweep")
    assert(got.map(_._1) == Set(101L, 102L, 103L),
      "exactly the planted ≤3-bit twins must surface")

    // probeParts is plan-only: the widened probe returns the exact
    // same matches (the pairParts width-invariance rule)
    val widened = Dedup.hammingProbe(batchB, base, probeParts = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(widened == got, "probeParts must be plan-only")

    // the bands scan prunes by part (partition filter, not post-scan)
    val plan = Dedup.hammingProbe(batchB.limit(1), base)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("part") &&
      (l.contains("IN") || l.contains("in(") ||
        (l.contains("part#") && l.contains(" = ")))),
      s"bands scan must prune by part:\n${pf.mkString("\n")}")
  }

  test("corpus-scale probe sweep: thresholds pinned, results identical, trickle plans unchanged") {
    val ss = spark; import ss.implicits._
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))

    // 1. the strategy-switch thresholds ARE the contract (round 17;
    //    round 18 sizes the broadcast bound in BYTES): sweep iff the
    //    prune covers ≥ half the index partitions AND the batch is
    //    big enough that the index-side shuffle is the drift (2^18
    //    band rows) AND its rows × width fit the broadcast budget
    val slim = 36L // the slim minhash band-row width (3 cols + overhead)
    val budget = Dedup.ProbeSweep.DefaultMaxBroadcastBytes
    assert(!Dedup.ProbeSweep.sweeps(ss, 64, 64, (1L << 18) - 1, slim),
      "a trickle batch keeps the pruned-shuffle plan at any coverage")
    assert(Dedup.ProbeSweep.sweeps(ss, 64, 64, 1L << 18, slim))
    assert(Dedup.ProbeSweep.sweeps(ss, 32, 64, 1L << 18, slim),
      "half coverage is already degenerate")
    assert(!Dedup.ProbeSweep.sweeps(ss, 31, 64, 1L << 18, slim),
      "a well-pruned probe never sweeps")
    assert(!Dedup.ProbeSweep.sweeps(ss, 64, 64, budget / slim + 1, slim),
      "a batch too big to broadcast pays the honest shuffle")
    assert(Dedup.ProbeSweep.sweeps(ss, 64, 64, budget / slim - 1, slim))
    assert(!Dedup.ProbeSweep.sweeps(ss, 64, 64, budget / slim - 1, slim * 4),
      "the same row count at 4× the row width (hamming alignCols) " +
        "must NOT broadcast — the budget is bytes, not rows")
    // the width estimate tracks the projected schema: a string
    // alignCol widens the hamming broadcast row
    val slimFrame = Seq((1L, 0, 1L)).toDF("probe_id", "band", "bucket")
    val wideFrame = Seq((1L, "src", 1L, 0, 1L))
      .toDF("probe_id", "source", "sh", "chunk", "piece")
    assert(Dedup.ProbeSweep.rowBytesOf(wideFrame) >
      Dedup.ProbeSweep.rowBytesOf(slimFrame))
    // config-driven switchover boundary (the round-17 @volatile seam,
    // promoted to session conf): both knobs live, exact boundary
    ss.conf.set(Dedup.ProbeSweep.MinBandRowsKey, "1")
    ss.conf.set(Dedup.ProbeSweep.MaxBroadcastBytesKey, (slim * 100).toString)
    try {
      assert(Dedup.ProbeSweep.sweeps(ss, 64, 64, 100, slim))
      assert(!Dedup.ProbeSweep.sweeps(ss, 64, 64, 101, slim),
        "config-driven byte budget must gate the switchover exactly")
    } finally {
      ss.conf.unset(Dedup.ProbeSweep.MinBandRowsKey)
      ss.conf.unset(Dedup.ProbeSweep.MaxBroadcastBytesKey)
    }

    // minhash fixture: corpus + a batch with planted twins
    val corpusA = (1 to 30).map { i =>
      (i.toLong, s"shared prefix words for doc $i tail y z w v")
    }.toDF("doc_id", "text")
    val batchB = ((101 to 103).map { i =>
      (i.toLong, s"shared prefix words for doc ${i - 100} tail y z w v")
    } ++ (104 to 110).map { i =>
      (i.toLong, s"totally novel content block number $i about nothing indexed")
    }).toDF("doc_id", "text")
    val mh = java.nio.file.Files.createTempDirectory("sweep_mh").toString
    Dedup.writeMinhashIndex(toToks(corpusA), mh)

    // hamming fixture: enough batch signatures to cover ≥ half the
    // parts once the row threshold is lowered
    val corpusH = (1 to 30).map(i => (i.toLong, i * 0x9E3779B97F4A7C15L))
      .toDF("doc_id", "sh")
    val batchH = ((101 to 103).map(i =>
      (i.toLong, (i - 100) * 0x9E3779B97F4A7C15L ^ 0x1L)) ++
      (200 to 400).map(i => (i.toLong, i * 0x517CC1B727220A95L)))
      .toDF("doc_id", "sh")
    val hm = java.nio.file.Files.createTempDirectory("sweep_hm").toString
    Dedup.writeHammingIndex(corpusH, hm)

    def mhPairs() = Dedup.minhashProbe(toToks(batchB), mh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def hmPairs() = Dedup.hammingProbe(batchH, hm).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def mhCandsPlan() = Dedup.minhashProbeCands(toToks(batchB), mh, 3, 16, 8,
      Dedup.MinhashParts, None).queryExecution.executedPlan.toString
    def hmPlan() = Dedup.hammingProbe(batchH, hm)
      .queryExecution.executedPlan.toString

    // 2. trickle path provably unchanged: below the row threshold no
    //    broadcast appears anywhere in either probe's plan — the
    //    corpus side is the pinned shuffle join, the scans prune
    val mhShuffle = mhPairs(); val hmShuffle = hmPairs()
    assert(!mhCandsPlan().contains("BroadcastExchange"),
      "trickle minhash probe must keep the pinned-shuffle plan")
    assert(!hmPlan().contains("BroadcastExchange"),
      "trickle hamming probe must keep the pinned-shuffle plan")

    // 3. sweep mode (row threshold lowered through the config seam):
    //    results are bit-identical and the batch side broadcasts —
    //    the index side is scanned in place with zero exchange
    ss.conf.set(Dedup.ProbeSweep.MinBandRowsKey, "1")
    try {
      assert(mhPairs() == mhShuffle, "sweep minhash probe diverged")
      assert(hmPairs() == hmShuffle, "sweep hamming probe diverged")
      assert(mhCandsPlan().contains("BroadcastHashJoin"),
        "sweep minhash candidate join must broadcast the batch side")
      assert(hmPlan().contains("BroadcastHashJoin"),
        "sweep hamming band join must broadcast the batch side")
      assert(hmShuffle.exists(_._1 <= 103L), "planted twins must surface")
    } finally ss.conf.unset(Dedup.ProbeSweep.MinBandRowsKey)
  }

  test("null-token docs never enter minhash banding (no constant-bucket blowup)") {
    val ss = spark; import ss.implicits._
    // three docs with NULL token arrays + two real docs: the null docs
    // must produce zero pairs (a null sig would collide them all in
    // every band at the constant bucket xxhash64(null))
    val docs = Seq(
      (1L, Seq("shared", "words", "here", "now")),
      (2L, Seq("shared", "words", "here", "now")),
      (10L, null), (11L, null), (12L, null))
      .toDF("doc_id", "__toks")
    val pairs = Dedup.minhashCandidatesOfTokens(docs, shingleLen = 3,
        bands = 4, rowsPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"null docs must not pair: $pairs")
  }

  test("duplicatePassageStats counts shared k-gram spans per doc") {
    val ss = spark; import ss.implicits._
    // k=3 grams: docs 1 and 2 share the span "a b c d" → grams
    // {abc, bcd} duplicated; doc 3 shares nothing; doc 4 is short
    // (<k → whole-doc gram) and unique
    val d = Seq(
      (1L, "a b c d x y z"),
      (2L, "q a b c d"),
      (3L, "u v w u v w"), // self-repeat within ONE doc is NOT a dup
      (4L, "t u")).toDF("doc_id", "text")
    val got = Dedup.duplicatePassageStats(d, col("doc_id"), col("text"), k = 3)
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"), col("dup_fraction"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 5L, 2L, 0.4),      // abc bcd cdx dxy xyz → abc, bcd dup
      (2L, 3L, 2L, 0.666667), // qab abc bcd → abc, bcd dup
      (3L, 4L, 0L, 0.0),      // uvw vwu wuv uvw — all within one doc
      (4L, 1L, 0L, 0.0)))
  }

  test("exactSubstrScrub removes duplicated spans everywhere but the first occurrence") {
    val ss = spark; import ss.implicits._
    val d = Seq(
      (1L, "a b c d e f g h x"),                  // canonical span holder
      (2L, "z a b c d e f g h"),                  // same 8-gram at pos 2
      (3L, "q r s"),                              // short doc: untouched
      (4L, "a b c d e f g h a b c d e f g h"))    // within-doc repeat, both non-canonical
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrScrub(d, col("doc_id"), col("text"), k = 8)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 9L, 0L, "a b c d e f g h x")),
      s"first occurrence keeps its span: ${got(1L)}")
    assert(got(2L) == ((2L, 9L, 8L, "z")), s"later occurrence scrubbed: ${got(2L)}")
    assert(got(3L) == ((3L, 3L, 0L, "q r s")), s"short doc untouched: ${got(3L)}")
    assert(got(4L) == ((4L, 16L, 16L, "")),
      s"both within-doc copies are non-canonical here: ${got(4L)}")
  }

  test("connectedComponents labels every node with the min reachable id") {
    val ss = spark; import ss.implicits._
    // chain 1-2-3 closed into {1,2,3,8,9} via (9,1); separate pair {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .select(col("node"), col("component"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 8L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents converges on a long chain (diameter > 2 rounds)") {
    val ss = spark; import ss.implicits._
    val chain = (0L until 12L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain)
      .select(col("node"), col("component")).as[(Long, Long)].collect()
    assert(got.length == 12 && got.forall(_._2 == 0L))
  }

  test("connectedComponents closes a diameter-100 chain within 12 rounds (log-diameter)") {
    val ss = spark; import ss.implicits._
    // min-label propagation would need 100 rounds here; the alternating
    // large-star/small-star contraction must do it in O(log d) — 12
    // covers log2(100) ≈ 7 contraction rounds plus the double-step
    // detection lag (the loop materializes two alternations per step
    // and needs one unchanged step to OBSERVE the fixpoint).
    // smallGraphMaxEdges = 0 forces the DISTRIBUTED loop — without it
    // the driver union-find fast path would absorb this graph and the
    // log-diameter claim would go untested.
    val chain = (0L to 100L).sliding(2).map(w => (w(0), w(1))).toSeq
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, maxRounds = 12,
        smallGraphMaxEdges = 0L)
      .select(col("node"), col("component")).as[(Long, Long)].collect()
    assert(got.length == 101 && got.forall(_._2 == 0L))
  }

  test("connectedComponents matches driver-side union-find across seeded graph shapes") {
    val ss = spark; import ss.implicits._
    // (seed, nodes, edges): sparse fragments, near-tree, dense single
    // component — plus self-loops, duplicates, and reversed duplicates
    // mixed in, which the star contraction must absorb silently
    for ((seed, n, m) <- Seq((42, 80, 70), (7, 60, 30), (13, 40, 120))) {
      val rnd = new scala.util.Random(seed)
      val raw = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val edges = raw ++ raw.take(5).map(_.swap) ++ // reversed dupes
        Seq.fill(3)((rnd.nextInt(n).toLong, 0L)).map(e => (e._1, e._1)) // self-loops
      // driver-side oracle: classic union-find with path compression,
      // min-root union so the final root IS the component minimum
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val p = parent(c); parent(c) = r; c = p }; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      // BOTH paths against the oracle: the default call takes the
      // small-graph driver fast path at these sizes; the
      // smallGraphMaxEdges = 0 call forces the distributed
      // large-star/small-star loop. Their equality on every seeded
      // shape is the "both paths yield identical labels" pin the
      // fast-path scaladoc promises.
      val gotFast = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .select(col("node"), col("component")).as[(Long, Long)].collect().toMap
      val gotDist = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          smallGraphMaxEdges = 0L)
        .select(col("node"), col("component")).as[(Long, Long)].collect().toMap
      assert(gotFast == want, s"fast path: seed=$seed n=$n m=$m")
      assert(gotDist == want, s"distributed path: seed=$seed n=$n m=$m")
      // componentLosers ≡ the non-min members of the full labeling,
      // on BOTH paths (the Corpus.prepare pruning contract)
      val wantLosers = want.collect { case (n2, c) if n2 != c => n2 }.toSet
      for (maxEdges <- Seq(1L << 20, 0L)) {
        val losers = Dedup.componentLosers(edges.toDF("id_a", "id_b"),
            smallGraphMaxEdges = maxEdges)
          .as[Long].collect().toSet
        assert(losers == wantLosers, s"losers maxEdges=$maxEdges seed=$seed")
      }
    }
  }

  test("hammingPairsOfSignatures alignCols: pairs form within a group only; caps count per group") {
    val ss = spark; import ss.implicits._
    // identical 64-bit signatures across two alignment groups: a
    // global sweep would pair all of them; the aligned sweep must
    // never emit a cross-group pair even at distance 0
    val sh = Seq((1L, 0L, 0x0F0FL), (2L, 0L, 0x0F0FL), (5L, 0L, 0x0F0FL),
      (3L, 1L, 0x0F0FL), (4L, 1L, 0x0F0FL)).toDF("doc_id", "g", "sh")
    val exact = Dedup.hammingPairsOfSignatures(sh, maxDist = 3,
        maxPieceFreq = Long.MaxValue, alignCols = Seq("g"))
      .select("g", "id_a", "id_b", "hamming")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(exact == Set((0L, 1L, 2L, 0), (0L, 1L, 5L, 0), (0L, 2L, 5L, 0),
      (1L, 3L, 4L, 0)), s"cross-group ids must never pair: $exact")
    // piece frequencies must count WITHIN the group: at cap 2 the
    // 3-member group 0 goes hot (and its identical sigs die on the
    // sub-band cap too), while group 1 (freq 2 <= cap) keeps its pair;
    // a GLOBAL freq (5 > 2) would wrongly kill group 1 as well
    val capped = Dedup.hammingPairsOfSignatures(sh, maxDist = 3,
        maxPieceFreq = 2L, alignCols = Seq("g"))
      .select("g", "id_a", "id_b", "hamming")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(capped == Set((1L, 3L, 4L, 0)),
      s"per-group capping must spare the under-cap group: $capped")
  }

  test("hammingPairsOfSignatures pairParts: width changes the task grid, never the pairs") {
    val ss = spark; import ss.implicits._
    // 4-id families, one member a single bit off its family (near-dup)
    val sh = (1L to 40L).map(i => (i, (i / 4) * 64 + (if (i % 4 == 0) 1L else 0L)))
      .toDF("doc_id", "sh")
    def run(w: Int, cap: Long) = Dedup.hammingPairsOfSignatures(
        sh, maxDist = 3, maxPieceFreq = cap, pairParts = w)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val base = run(0, Long.MaxValue)
    assert(base.nonEmpty && base.exists(_._3 > 0),
      s"fixture must produce exact AND near pairs: $base")
    for (w <- Seq(7, 64); cap <- Seq(Long.MaxValue, 3L)) {
      assert(run(w, cap) == run(0, cap),
        s"pairParts=$w must be plan-only at cap=$cap")
    }
  }

  test("index geometry sidecar: probes with mismatched build parameters fail loud, legacy indexes are trusted") {
    val ss = spark; import ss.implicits._
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val docs = (1 to 20).map(i => (i.toLong, s"geometry probe fixture doc $i a b c"))
      .toDF("doc_id", "text")

    // minhash: built at nParts=32 — the default-parts probe would
    // prune to the wrong partitions, so it must throw, naming the key
    val mh = java.nio.file.Files.createTempDirectory("geo_mh").toString
    Dedup.writeMinhashIndex(toToks(docs), mh, nParts = 32)
    val e1 = intercept[IllegalArgumentException](
      Dedup.minhashProbe(toToks(docs.limit(2)), mh))
    assert(e1.getMessage.contains("parts=32") && e1.getMessage.contains("parts=64"),
      s"mismatch must name both geometries: ${e1.getMessage}")
    // matching parameters probe fine (self-matches exist)
    assert(Dedup.minhashProbe(toToks(docs.limit(2)), mh, nParts = 32).count() > 0)

    // hamming: built at maxDist=3 — a radius-2 probe derives a
    // DIFFERENT chunking, so it must throw even though parts agree
    val sigs = (1 to 10).map(i => (i.toLong, i.toLong * 0x9E3779B97F4A7C15L))
      .toDF("doc_id", "sh")
    val hm = java.nio.file.Files.createTempDirectory("geo_hm").toString
    Dedup.writeHammingIndex(sigs, hm, maxDist = 3)
    val e2 = intercept[IllegalArgumentException](
      Dedup.hammingProbe(sigs.limit(1), hm, maxDist = 2))
    assert(e2.getMessage.contains("maxDist"))
    // align mismatch is the video-vs-image seam — also loud
    val e3 = intercept[IllegalArgumentException](
      Dedup.hammingProbe(sigs.limit(1).withColumn("frame", lit(0)), hm,
        alignCols = Seq("frame")))
    assert(e3.getMessage.contains("align"))

    // legacy index (pre-sidecar layout): no file, caller is trusted —
    // the pre-round-16 contract keeps old on-disk indexes probe-able
    val fs = new org.apache.hadoop.fs.Path(s"$hm/_graft_geometry.json")
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$hm/_graft_geometry.json"), false)
    assert(Dedup.hammingProbe(sigs.limit(1), hm, maxDist = 2).count() >= 0)
  }

  test("geometry sidecar JSON round-trips exotic values; appender declaration fails loud before relabeling") {
    val ss = spark
    val dir = java.nio.file.Files.createTempDirectory("geo_json").toString
    // a value carrying a quote, a comma, and a backslash — the
    // hand-rolled writer of round 16 produced a sidecar that either
    // spuriously failed or silently passed on these (round-16 advisor
    // finding; the writer/parser are real-JSON now)
    val geo = Map("kind" -> "hamming", "align" -> """a"b,c\d""", "parts" -> "64")
    // a store with its sidecar at `dir`: build writes the sidecar,
    // scan checks it, append checks it and then rewrites it
    def store(g: Map[String, String]) =
      SegmentStore(ss, s"$dir/rows", "part", Some(SegmentStore.Geometry(dir, g)))
    val rows = ss.range(1).selectExpr("id", "0 AS part")
    store(geo).build(rows)
    store(geo).scan(Nil, None) // exact round-trip
    val e = intercept[IllegalArgumentException](
      store(geo.updated("align", """a"b""")).scan(Nil, None))
    assert(e.getMessage.contains("align"))
    // an append's declaration is require-then-write: a matching one
    // is idempotent; a mismatched one throws BEFORE rebranding the
    // sidecar or landing a row (the streaming-appender contract)
    store(geo).append(rows, 0)
    val e2 = intercept[IllegalArgumentException](
      store(geo.updated("parts", "32")).append(rows, 1))
    assert(e2.getMessage.contains("parts"))
    store(geo).scan(Nil, None) // sidecar survived the failed declare
    assert(store(geo).scan(Seq(0), None).count() == 2)
  }

  test("entropy guard: uncapped pigeonhole fails loud on fingerprint collapse, silent on healthy entropy (round 18)") {
    val ss = spark; import ss.implicits._
    // entropy-collapsed: 1000 rows over 4 distinct signatures → the
    // Hamming-0 floor alone is 4·C(250,2) ≈ 124k pairs ≈ 124/row
    val collapsed = (1 to 1000).map(i => (i.toLong, (i % 4).toLong))
      .toDF("doc_id", "sh")
    ss.conf.set(Dedup.EntropyGuardMinRowsKey, "100")
    try {
      val e = intercept[IllegalStateException](
        Dedup.hammingPairsOfSignatures(collapsed, maxPieceFreq = Long.MaxValue))
      assert(e.getMessage.contains("entropy guard"))
      assert(e.getMessage.contains("maxPieceFreq"),
        "the guard must recommend the capped production config")
      // healthy entropy: distinct signatures with small duplicate
      // clusters sit far under the per-row budget — silent
      val healthy = (1 to 1000).map(i =>
        ((i.toLong, (i / 2).toLong * 0x9E3779B97F4A7C15L)))
        .toDF("doc_id", "sh")
      val n = Dedup.hammingPairsOfSignatures(healthy,
        maxPieceFreq = Long.MaxValue).count()
      assert(n >= 499L, s"healthy sweep must run to completion: $n")
      // the CAPPED production config is never guard-probed (its
      // hot-bucket cap already bounds the output)
      Dedup.hammingPairsOfSignatures(collapsed).queryExecution.optimizedPlan
      // below the min-rows floor the exact sweep runs even on
      // collapsed fixtures (unit-spec scale)
      ss.conf.set(Dedup.EntropyGuardMinRowsKey, "8192")
      Dedup.hammingPairsOfSignatures(collapsed,
        maxPieceFreq = Long.MaxValue).queryExecution.optimizedPlan
    } finally ss.conf.unset(Dedup.EntropyGuardMinRowsKey)
  }
}
