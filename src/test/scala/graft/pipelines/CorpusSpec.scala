package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  test("prepare: exact dup, near dup, and junk drop in order; survivors split and pack") {
    val ss = spark; import ss.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then naps all day long"
    val docs = Seq(
      (1L, good),
      (2L, good.toUpperCase + "!!"),                       // exact dup of 1 after norm
      (3L, good.replace("naps", "sleeps")),                // near dup of 1
      (4L, "completely different words about spark engines processing data at scale"),
      (5L, "zz zz zz zz zz zz zz zz zz zz zz zz")          // junk: repetitive, no stopwords
    ).toDF("doc_id", "text")

    // junk doc scores ≈0.37 (short, no stopwords, 2-char words); real
    // prose ≥0.6 — the 0.4 floor separates cleanly
    val (prepared, stats, release) = Corpus.prepare(docs, jaccard = 0.5, minQuality = 0.4,
      budget = 32, nShards = 2)

    assert(stats.input == 5)
    assert(stats.afterExact == 4, "doc 2 collapses into doc 1")
    assert(stats.afterNearDup == 3, "doc 3 collapses into doc 1's cluster")
    assert(stats.afterQuality == 2, s"doc 5 fails the quality floor: $stats")

    val rows = prepared.select("doc_id", "split", "shard", "chunk_id").collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(rows.forall(r => Set("train", "val", "test")(r.getString(1))))
    assert(rows.forall(r => r.getLong(3) >= 0))

    // idempotency: preparing the prepared survivors changes nothing
    val (_, again, release2) = Corpus.prepare(prepared.select("doc_id", "text"),
      jaccard = 0.5, minQuality = 0.4, budget = 32, nShards = 2)
    assert(again.afterQuality == stats.afterQuality)

    // withStats=false: same frame, no accounting actions
    val (lazyPrep, noStats, release3) = Corpus.prepare(docs, jaccard = 0.5, minQuality = 0.4,
      budget = 32, nShards = 2, withStats = false)
    assert(noStats == Corpus.PrepareStats(-1, -1, -1, -1))
    assert(lazyPrep.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))

    // the release handles drop the corpus-sized pins these three
    // prepare calls created — a long-lived session must not
    // accumulate cached staged-token frames. Calls 1 and 3 stage an
    // IDENTICAL plan (same docs, same params), which the CacheManager
    // dedupes into one entry, so three releases remove at least TWO
    // distinct cached frames (call 2 staged over different input).
    val pinnedBefore = ss.sparkContext.getPersistentRDDs.size
    release(); release2(); release3()
    assert(ss.sparkContext.getPersistentRDDs.size <= pinnedBefore - 2,
      "release must drop the staged-token cache entries")
  }

  test("prepare lazy contract: withStats=false adds ZERO accounting actions (the action delta IS the accounting)") {
    val ss = spark; import ss.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then naps all day long"
    val docs = Seq(
      (1L, good),
      (2L, good.toUpperCase + "!!"),
      (3L, good.replace("naps", "sleeps")),
      (4L, "completely different words about spark engines processing data at scale"),
      (5L, "zz zz zz zz zz zz zz zz zz zz zz zz")
    ).toDF("doc_id", "text")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = { counter.incrementAndGet(); () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.ListenerBus.drainListeners(ss.sparkContext)
    ss.listenerManager.register(ql)
    try {
      def measure(withStats: Boolean): (Int, Corpus.PrepareStats, () => Unit) = {
        drain(); counter.set(0)
        val (_, stats, rel) = Corpus.prepare(docs, jaccard = 0.5,
          minQuality = 0.4, budget = 32, nShards = 2, withStats = withStats)
        drain()
        (counter.get(), stats, rel)
      }
      // construction is deterministic: two lazy runs spend identical
      // action counts (the near-dup component closure only)
      val (lazy1, s1, r1) = measure(withStats = false)
      val (lazy2, _, r2) = measure(withStats = false)
      assert(lazy1 == lazy2, s"lazy construction must be deterministic: $lazy1 vs $lazy2")
      assert(s1 == Corpus.PrepareStats(-1, -1, -1, -1), "lazy stats are sentinels")
      // withStats adds EXACTLY the two accounting actions of the base
      // pipeline — the input count and the fused stage aggregate —
      // and nothing else differs (the production lazy-variant claim)
      val (acct, s3, r3) = measure(withStats = true)
      assert(s3.input == 5 && s3.afterQuality == 2, s"accounted stats: $s3")
      assert(acct == lazy1 + 2,
        s"withStats must add exactly the input count + the fused stage " +
          s"aggregate: lazy=$lazy1 accounted=$acct")
      r1(); r2(); r3()
    } finally ss.listenerManager.unregister(ql)
  }

  test("prepare full composition: decontam + mixture + shuffled packing") {
    val ss = spark; import ss.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    // build docs where split assignment is content-driven; find one
    // doc that stably lands in val/test to act as the holdout leak
    // per-doc distinct vocabulary: no 8-gram is shared between any
    // two docs except the planted quote (shared runs stay < 8 tokens)
    val base = (1 to 40).map { i =>
      (i.toLong,
        s"the quick document $i holds " +
          (1 to 8).map(j => s"w${i}x$j").mkString(" ") + s" plus tail $i end",
        if (i % 2 == 0) "web" else "books")
    }
    // choose the planted docs by their POST-plant split (split is a
    // content hash, so plant first, then look)
    val planted = base.map { case (id, text, src) => (id, s"$text $quote", src) }
    val postSplits = planted.toDF("doc_id", "text", "source")
      .select(col("doc_id"),
        graft.functions.TextFns.stableSplit(col("text")).as("split"))
      .as[(Long, String)].collect().toMap
    val holdoutId = postSplits.collectFirst { case (id, s) if s != "train" => id }.get
    val trainId = postSplits.collectFirst { case (id, s) if s == "train" => id }.get
    val docs = base.map { case (id, text, src) =>
      if (id == holdoutId || id == trainId) (id, s"$text $quote", src)
      else (id, text, src)
    }.toDF("doc_id", "text", "source")

    val (prepared, _, rel1) = Corpus.prepare(docs, jaccard = 0.9, minQuality = 0.1,
      budget = 64, nShards = 2, withStats = false,
      holdoutGramK = 8, mixBudget = 100000L, shuffleSeed = "epoch-0")
    val rows = prepared.select("doc_id", "split", "shard", "pos", "chunk_id", "rate")
      .collect()
    val kept = rows.map(_.getLong(0)).toSet
    assert(!kept.contains(trainId), "leaking train doc must be decontaminated away")
    assert(kept.contains(holdoutId), "holdout doc itself stays")
    // mixture budget is huge → rate 1.0 everywhere, nothing sampled out
    assert(kept.size == 39, s"expected only the leaked train doc dropped: ${kept.size}")
    assert(rows.forall(_.getDouble(5) == 1.0))
    // shuffled packing: within a shard, chunk_id is monotone in pos
    rows.groupBy(_.getInt(2)).values.foreach { sh =>
      val byPos = sh.sortBy(_.getLong(3)).map(_.getLong(4))
      assert(byPos.sorted.sameElements(byPos), "chunk_id must be monotone in pos")
    }
    // reproducibility: identical run → identical chunk assignment
    val (again, _, rel2) = Corpus.prepare(docs, jaccard = 0.9, minQuality = 0.1,
      budget = 64, nShards = 2, withStats = false,
      holdoutGramK = 8, mixBudget = 100000L, shuffleSeed = "epoch-0")
    val a = rows.map(r => (r.getLong(0), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val b = again.select("doc_id", "shard", "pos", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b, "shuffled packing must be reproducible")
    rel1(); rel2()
  }

  test("prepare opt-in learned stages: model Pareto filter and perplexity ceiling") {
    val ss = spark; import ss.implicits._
    import graft.operators.QualityClassifier
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    val d = 32
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      ((((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)) % d).toInt
    }
    def uniformOf(text: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8"))
      ((((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)) + 1.0) / 4294967296.0
    }
    val plainToks = ((1 to 20).flatMap(i => s"$fluent extra$i".split(" ")) ++
      "rug the on sat dog mat extra cat the on sat the and".split(" ")).toSet
    val usedBuckets = plainToks.map(bucket)
    // marker: hashes to a bucket no other fixture token occupies, and
    // the marked doc's content-hash draw is outside the ~1/512 Pareto
    // tail that would keep a near-zero score anyway
    val marker = (0 to 999).map(i => s"zq$i").find(t =>
      !usedBuckets.contains(bucket(t)) &&
        uniformOf(s"$fluent extra7 $t") >= 1.0 / 512.0 + 1e-6).get
    val docs = ((1 to 20).map(i => (i.toLong,
      if (i == 7) s"$fluent extra$i $marker" else s"$fluent extra$i")) :+
      (50L, "rug the on sat dog mat extra cat the on sat the and")) // scrambled
      .toDF("doc_id", "text")

    // model filter: a -100 weight on the marker's (otherwise unused)
    // bucket craters only doc 7's score; everyone else rides the +50
    // bias to a saturated score and always keeps
    val w = Array.fill(d)(0.0); w(bucket(marker)) = -100.0
    // jaccard > 1 disables near-dup pruning: the shared-body fixture
    // would otherwise collapse into one survivor before these stages
    val (_, mStats, _) = Corpus.prepare(docs, jaccard = 1.01, minQuality = 0.0,
      budget = 64, nShards = 2, modelWeights = w, modelBias = 50.0)
    assert(mStats.afterModel == mStats.afterQuality - 1,
      s"exactly the marked doc must fail the model filter: $mStats")

    // perplexity ceiling: the scrambled doc's bigrams are all rare →
    // highest ppl in the corpus; a ceiling between drops exactly it
    val ppl = graft.operators.LanguageModel.selfPerplexity(
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks")), 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cut = (ppl(50L) + ppl.filter(_._1 != 50L).values.max) / 2.0
    val (pPrep, pStats, _) = Corpus.prepare(docs, jaccard = 1.01, minQuality = 0.0,
      budget = 64, nShards = 2, maxPpl = cut, pplVocab = 64)
    assert(pStats.afterPpl == pStats.afterQuality - 1,
      s"exactly the scrambled doc must fail the ceiling: $pStats")
    assert(!pPrep.select("doc_id").as[Long].collect().contains(50L))

    // defaults leave the accounting sentinel untouched
    val (_, offStats, _) = Corpus.prepare(docs, jaccard = 1.01, minQuality = 0.0,
      budget = 64, nShards = 2)
    assert(offStats.afterModel == -1L && offStats.afterPpl == -1L)
  }

  test("prepare semantic stages: planted paraphrase collapses, benchmark leak drops, unembedded passes") {
    val ss = spark; import ss.implicits._
    // lexically DISJOINT texts (no shared 3-gram, no exact dup) so
    // only the embedding-level stages can drop anything
    val docs = Seq(
      (1L, "alpha one the report covers quarterly revenue and the growth outlook"),
      (2L, "beta two a summary of sales figures with projections for next year"),
      (3L, "gamma three benchmark question about the capital city of france"),
      (4L, "delta four unrelated essay on tidal patterns near rocky coastlines"),
      (5L, "epsilon five no embedding was computed for this arriving document")
    ).toDF("doc_id", "text")
    // docs 1 and 2: planted PARAPHRASE pair (cosine ≈ 0.9999, far
    // beyond eps) in centroid-0's cluster; doc 3 sits alone in
    // cluster 1; doc 4 ties 0-0 between centroids (tie → higher id);
    // doc 5 has NO embedding row at all
    val emb = Seq(
      (1L, Array(0.90f, 0.10f, 0f, 0f)),
      (2L, Array(0.89f, 0.11f, 0f, 0f)),
      (3L, Array(0f, 0.95f, 0.05f, 0f)),
      (4L, Array(0f, 0f, 0f, 1f))
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))
    ).toDF("centroid_id", "centroid")
    // holdout: one benchmark embedding nearly parallel to doc 3's
    val holdout = Seq((100L, Array(0f, 0.94f, 0.06f, 0f)))
      .toDF("vec_id", "embedding")

    val (prepared, stats, release) = Corpus.prepare(docs,
      jaccard = 1.01, minQuality = 0.0, budget = 64, nShards = 2,
      embeddings = emb, semanticEps = 0.95, semanticCentroids = cents,
      decontamHoldout = holdout, decontamEps = 0.9)
    val kept = prepared.select("doc_id").as[Long].collect().toSet

    // SemDeDup keeps the pair member LEAST like its centroid: doc 1's
    // cent_cos (0.9939) > doc 2's (0.9925), so doc 1 is the loser
    assert(!kept.contains(1L), "paraphrase loser (higher cent_cos) must drop")
    assert(kept.contains(2L), "paraphrase keeper must survive")
    // decontam drops the doc nearest the planted benchmark embedding
    assert(!kept.contains(3L), "benchmark-leak doc must be decontaminated away")
    assert(kept.contains(4L), "orthogonal doc survives both stages")
    // the firewall rule: a doc the scorer cannot judge passes through
    assert(kept.contains(5L), "doc without an embedding must pass untouched")

    assert(stats == Corpus.PrepareStats(5, 5, 5, 4,
      afterSemantic = 4, afterDecontam = 3),
      s"per-stage accounting must chain through the semantic stages: $stats")
    release()

    // stages off → sentinels untouched (composition stays opt-in)
    val (_, offStats, rel2) = Corpus.prepare(docs,
      jaccard = 1.01, minQuality = 0.0, budget = 64, nShards = 2)
    assert(offStats.afterSemantic == -1L && offStats.afterDecontam == -1L)
    rel2()
  }

  test("mixtureRates matches the hand-computed temperature rule") {
    val ss = spark; import ss.implicits._
    // source a: 9 tokens (w=3), source b: 16 tokens (w=4); Σw=7.
    // budget 14 → rate_a = 14·(3/7)/9 = 2/3, rate_b = 14·(4/7)/16 = 1/2
    val dt = Seq(("a", 4L), ("a", 5L), ("b", 16L)).toDF("source", "__n")
    val r = Corpus.mixtureRates(dt, budget = 14L)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(r == Seq(("a", 2L, 9L, 0.666667), ("b", 1L, 16L, 0.5)))
  }

  test("mixtureRates caps at 1 for sources under their target share") {
    val ss = spark; import ss.implicits._
    val dt = Seq(("tiny", 2L), ("huge", 10000L)).toDF("source", "__n")
    val r = Corpus.mixtureRates(dt, budget = 500L)
      .select("source", "rate").as[(String, Double)].collect().toMap
    assert(r("tiny") == 1.0, s"tiny source must keep everything: $r")
    assert(r("huge") < 1.0)
  }

  test("mixtureSample is deterministic and keeps rate-1 sources whole") {
    val ss = spark; import ss.implicits._
    val docs = (1 to 60).map { i =>
      val src = if (i <= 5) "small" else "big"
      (i.toLong, s"document number $i with body text repeated " * 3, src)
    }.toDF("doc_id", "text", "source")
    val n = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    val once = Corpus.mixtureSample(docs, n, budget = 200L)
      .select("doc_id").as[Long].collect().toSet
    val again = Corpus.mixtureSample(docs, n, budget = 200L)
      .select("doc_id").as[Long].collect().toSet
    assert(once == again, "content-hash sampling must be re-run-stable")
    val rates = Corpus.mixtureRates(
      docs.withColumn("__n", n).select(col("source"), col("__n")), budget = 200L)
      .select("source", "rate").as[(String, Double)].collect().toMap
    if (rates("small") >= 1.0)
      assert((1L to 5L).toSet.subsetOf(once), s"rate-1 source dropped docs: $once")
    assert(once.nonEmpty && once.size < 60, "big source must be subsampled")
  }
}
