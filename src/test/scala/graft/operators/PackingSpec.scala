package graft.operators

import graft.SparkSpec
import graft.functions.TextFns
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {

  test("packByTokenBudget assigns chunks by cumulative-before count within a shard") {
    val ss = spark; import ss.implicits._
    // single shard: cum-before = [0, 1000, 2000, 2100, 4100]
    val docs = Seq((0L, 1000), (1L, 1000), (2L, 100), (3L, 2000), (4L, 48))
      .toDF("doc_id", "n")
    val got = Packing.packByTokenBudget(docs, col("doc_id"), col("n"),
      budget = 2048, nShards = 1)
      .select(col("doc_id"), col("chunk_id")).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L))
  }

  test("packByTokenBudget shards independently (no cross-shard accumulation)") {
    val ss = spark; import ss.implicits._
    val docs = (0L until 20L).map(i => (i, 1024)).toDF("doc_id", "n")
    val got = Packing.packByTokenBudget(docs, col("doc_id"), col("n"),
      budget = 2048, nShards = 4)
      .select(col("shard"), col("doc_id"), col("chunk_id"))
      .as[(Int, Long, Long)].collect()
    // 5 docs of 1024 per shard: cum-before 0,1024,2048,3072,4096 → chunks 0,0,1,1,2
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.sortBy(_._2).map(_._3).toSeq == Seq(0L, 0L, 1L, 1L, 2L))
    }
  }

  test("packByTokenBudget composes with learned-BPE counts (real model-token budgets)") {
    val ss = spark; import ss.implicits._
    import graft.functions.Bpe
    val docs = (1 to 30).map(i =>
      (i.toLong, Seq.fill(8)(Seq("lowest", "newest", "wide", "lower")(i % 4)).mkString(" ")))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs.select(col("text")), col("text"), numMerges = 30)
    val counted = docs.select(col("doc_id"),
      TextFns.bpeTokenCountLearned(col("text"), merges).as("n"))
    val packed = Packing.packByTokenBudget(counted, col("doc_id"), col("n"),
      budget = 64, nShards = 2)
    // every chunk's token sum stays within budget + one overflowing doc
    val rows = packed.select(col("shard"), col("chunk_id"), col("n_tokens"))
      .as[(Int, Long, Long)].collect()
    val enc = new graft.functions.BpeEncoder(merges)
    val maxDoc = docs.as[(Long, String)].collect().map(d => enc.countTokens(d._2)).max
    rows.groupBy(r => (r._1, r._2)).values.foreach { chunk =>
      assert(chunk.map(_._3).sum <= 64L + maxDoc)
    }
  }

  test("chunkByTokenWindow covers every token with the declared overlap; empty docs vanish") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions.split
    // 10 tokens, chunkSize 4, stride 3 → starts 0,3,6,9
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, ""), (3L, "x y"))
      .toDF("doc_id", "text").withColumn("toks", split(col("text"), " "))
      .withColumn("toks", org.apache.spark.sql.functions.filter(
        col("toks"), t => t =!= ""))
    val got = Packing.chunkByTokenWindow(docs, col("doc_id"), col("toks"),
        chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(got == Set(
      (1L, 0L, 4L, "a b c d"), (1L, 3L, 4L, "d e f g"),
      (1L, 6L, 4L, "g h i j"), (1L, 9L, 1L, "j"),   // tail chunk clamps
      (3L, 0L, 2L, "x y")))                          // short doc: one chunk
  }

  test("content-hash split is stable, exhaustive, and roughly 80/10/10") {
    val ss = spark; import ss.implicits._
    val docs = (0 until 1000).map(i => s"document number $i with some words")
      .toDF("text")
    val counts = docs.groupBy(TextFns.stableSplit(col("text")).as("split"))
      .count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 700 && counts("train") < 900, counts.toString)
    // identical content always lands in the same split
    val twice = docs.union(docs)
      .select(TextFns.contentHash(col("text")).as("h"), TextFns.stableSplit(col("text")).as("s"))
      .distinct().groupBy("h").count().filter(col("count") > 1).count()
    assert(twice == 0, "same content must map to one split")
  }

  test("budgetSelect: exact global cum-before cut via the bucketed decomposition") {
    val ss = spark; import ss.implicits._
    // scores with heavy ties (pileups straddle bucket boundaries),
    // varied token counts
    val rows = (1L to 200L).map(id =>
      (id, 1L + (id * 7) % 30, ((id * 37) % 50) * 1000L))
    val docs = rows.toDF("doc_id", "n_tokens", "score_micro")
    def expected(budget: Long): Set[Long] = {
      var cum = 0L
      rows.sortBy { case (id, _, s) => (-s, id) }.flatMap { case (id, n, _) =>
        val keep = cum < budget; cum += n; if (keep) Some(id) else None
      }.toSet
    }
    for (budget <- Seq(0L, 1L, 500L, 1500L, 3200L, 100000L);
         nBuckets <- Seq(1, 7, 1000)) {
      val got = Packing.budgetSelect(docs.repartition(13), "doc_id",
          "n_tokens", "score_micro", budget, nBuckets)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expected(budget),
        s"budget=$budget nBuckets=$nBuckets: got ${got.size}, want ${expected(budget).size}")
    }
    // all-equal scores: the whole corpus is one boundary bucket and
    // the fine pass alone must still reproduce the global rule
    val flat = (1L to 50L).map(id => (id, 5L, 777L)).toDF("doc_id", "n_tokens", "score_micro")
    val gotFlat = Packing.budgetSelect(flat, "doc_id", "n_tokens",
        "score_micro", budget = 52L)
      .select("doc_id").as[Long].collect().toSet
    assert(gotFlat == (1L to 11L).toSet, s"flat-score edge: $gotFlat") // 10*5=50<52, 11th starts at 50<52, 12th at 55
  }

  test("topKSelect/topFracSelect: exact top-K by (score desc, id asc) with no ordered driver merge") {
    val ss = spark; import ss.implicits._
    // heavy ties straddling bucket boundaries, scores in a narrow band
    val rows = (1L to 200L).map(id => (id, ((id * 37) % 50) * 1000L))
    val docs = rows.toDF("doc_id", "score_micro")
    def expected(k: Long): Set[Long] =
      rows.sortBy { case (id, s) => (-s, id) }.take(k.toInt).map(_._1).toSet
    for (k <- Seq(0L, 1L, 37L, 150L, 200L, 5000L);
         nBuckets <- Seq(1, 7, 1000)) {
      val got = Packing.topKSelect(docs.repartition(13), "doc_id",
          "score_micro", k, nBuckets)
        .select("doc_id").as[Long].collect().toSet
      assert(got == expected(math.min(k, 200L)),
        s"k=$k nBuckets=$nBuckets: got ${got.size}")
    }
    // frac form: K = ceil(frac · n) from the same bucket table
    val gotFrac = Packing.topFracSelect(docs, "doc_id", "score_micro", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(gotFrac == expected(50L), "ceil(0.25 * 200) = 50")
    // all-equal scores: the single boundary bucket alone must cut
    val flat = (1L to 50L).map(id => (id, 777L)).toDF("doc_id", "score_micro")
    val gotFlat = Packing.topKSelect(flat, "doc_id", "score_micro", k = 13L)
      .select("doc_id").as[Long].collect().toSet
    assert(gotFlat == (1L to 13L).toSet, s"flat-score edge: $gotFlat")
    // the whole point: no TakeOrderedAndProject (K-row driver merge),
    // no global Sort of the input — the cut is filters
    val plan = Packing.topKSelect(docs, "doc_id", "score_micro", 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject"),
      s"cut must not merge K rows on the driver:\n$plan")
  }

  test("weightedSample: E-S semantics, weight bias, determinism, top-K plan") {
    val ss = spark; import ss.implicits._
    // 400 light docs (w=1) + 100 heavy (w=50): under E-S the heavy
    // class should dominate a K=100 draw far beyond its 20% share
    val docs = (1L to 500L).map(id => (id, if (id > 400) 50L else 1L))
      .toDF("doc_id", "w")
    val got = Packing.weightedSample(docs, col("doc_id"), col("w"), k = 100)
      .select("doc_id", "w", "key_micro").as[(Long, Long, Long)]
      .collect().toSeq
    assert(got.size == 100 && got.map(_._1).distinct.size == 100)
    val heavy = got.count(_._2 == 50L)
    assert(heavy > 60, s"heavy class must dominate the draw: $heavy/100")

    // exact contract: selection = global top-K of the closed-form key
    val expect = (1L to 500L).map { id =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      val w = if (id > 400) 50L else 1L
      (id, math.round(math.log(u) / w * 1e6))
    }.sortBy { case (id, k) => (-k, id) }.take(100).map(_._1).toSet
    assert(got.map(_._1).toSet == expect, "must equal the closed-form top-K")

    // determinism across physical layouts
    val again = Packing.weightedSample(docs.repartition(13), col("doc_id"),
      col("w"), k = 100).select("doc_id").as[Long].collect().toSet
    assert(again == expect)

    // top-K must be TakeOrderedAndProject, never a global sort
    val plan = Packing.weightedSample(docs, col("doc_id"), col("w"), k = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n$plan")
  }

  test("weightedSample: out-of-range weights fail loudly; normalize=true rescales exactly") {
    val ss = spark; import ss.implicits._
    // w=1e9 is far past the micro-key resolution: every key would
    // round to 0 and the draw would silently become id order — the
    // guard must raise on the offending row instead
    val huge = (1L to 50L).map(id => (id, 1e9)).toDF("doc_id", "w")
    val eHuge = intercept[Exception] {
      Packing.weightedSample(huge, col("doc_id"), col("w"), k = 10).collect()
    }
    assert(eHuge.getMessage != null &&
      eHuge.getMessage.contains("weightedSample"),
      s"expected the weight-range error, got: $eHuge")
    // non-positive weights flip the key sign — same loud contract
    val neg = (1L to 50L).map(id => (id, if (id == 7L) 0.0 else 2.0))
      .toDF("doc_id", "w")
    val eNeg = intercept[Exception] {
      Packing.weightedSample(neg, col("doc_id"), col("w"), k = 10).collect()
    }
    assert(eNeg.getMessage != null && eNeg.getMessage.contains("weightedSample"))

    // normalize=true: E-S ordering is invariant under a positive
    // rescale, so the unbounded-weight draw must equal the same draw
    // over pre-divided weights
    val raw = (1L to 400L).map(id => (id, (1.0 + (id * 7) % 40) * 1e8))
      .toDF("doc_id", "w")
    val gotNorm = Packing.weightedSample(raw, col("doc_id"), col("w"),
        k = 60, normalize = true)
      .select("doc_id").as[Long].collect().toSet
    val preDivided = raw.withColumn("w", col("w") / lit(40.0 * 1e8))
    val gotPre = Packing.weightedSample(preDivided, col("doc_id"), col("w"), k = 60)
      .select("doc_id").as[Long].collect().toSet
    assert(gotNorm == gotPre, "normalized draw must equal the pre-divided draw")
    assert(gotNorm.size == 60)
  }

  test("deterministicShuffle: reproducible, dense, epoch-sensitive") {
    val ss = spark; import ss.implicits._
    val docs = (1L to 500L).toDF("doc_id")
    def order(seed: String): Seq[(Long, Int, Long)] =
      Packing.deterministicShuffle(docs, col("doc_id"), nShards = 4, seed = seed)
        .select("doc_id", "shard", "pos").as[(Long, Int, Long)]
        .collect().sortBy(r => (r._2, r._3)).toSeq

    val e0 = order("epoch-0")
    // same seed, different physical layout → identical order
    val e0again = Packing.deterministicShuffle(docs.repartition(13),
        col("doc_id"), nShards = 4, seed = "epoch-0")
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)]
      .collect().sortBy(r => (r._2, r._3)).toSeq
    assert(e0 == e0again, "order must not depend on partitioning")

    // every doc exactly once; pos dense 1..n per shard
    assert(e0.map(_._1).sorted == (1L to 500L))
    e0.groupBy(_._2).values.foreach { sh =>
      assert(sh.map(_._3).sorted == (1L to sh.size))
    }

    // a different epoch seed produces a genuinely different order
    val e1 = order("epoch-1")
    assert(e0.map(_._1) != e1.map(_._1), "epoch seed must reshuffle")
    // ...and not the sorted input order either
    assert(e0.map(_._1) != (1L to 500L).toSeq, "shuffle must not be identity")
  }
}
