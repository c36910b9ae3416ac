package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.util.sketch.BloomFilter

/** Benchmark decontamination by exact n-gram membership — the
  * GPT-3-style filter (Brown et al. 2020, appendix C: drop training
  * documents sharing a 13-gram with an eval set): find every training
  * document that contains a verbatim k-token gram also present in a
  * held-out split.
  *
  * This is the EXACT complement of the near-dup decontamination gate
  * (`decontamination`, trigram Jaccard ≥ 0.5 across splits): Jaccard
  * catches paraphrase-level leakage, gram membership catches verbatim
  * quote-level leakage that a whole-doc similarity score dilutes away
  * (one leaked paragraph in a long doc moves Jaccard by ~0).
  *
  * Scale shape — the part that matters at 100 TB: the held-out side
  * (benchmarks/eval sets) is small; the training side is the corpus.
  * A naive exact check shuffles EVERY training gram occurrence into a
  * join against the holdout grams. Here the holdout grams are folded
  * into a Bloom filter by a distributed Catalyst aggregate
  * (`BloomFilterAggregate` — map-side partial blooms, one
  * `numBits`-sized buffer per partition, OR-merged), and the corpus
  * scan drops non-member grams INSIDE whole-stage codegen via
  * `BloomFilterMightContain` before anything shuffles. Only the ~fpp
  * false-positive sliver plus true hits reach the exchange; the
  * confirming equi-join against the real holdout set then kills the
  * false positives, so the output is EXACT — the Bloom stage changes
  * the cost, never the answer. This is the same plan shape Spark's
  * own runtime row-level filters inject for selective joins
  * (`InjectRuntimeFilter`), applied deliberately.
  *
  * The filter binary travels to executors as a foldable literal in
  * the task closure (`BloomFilterMightContain` requires a constant or
  * scalar subquery) — at fpp=1% that is ~1.2 bytes per holdout gram,
  * e.g. ~120 MB for a 10^8-gram holdout, the standard broadcast
  * tradeoff and far below the corpus-side shuffle it replaces.
  *
  * Reference scope: the reference engine has no decontamination
  * surface; this extends the training-data family (SURVEY §2
  * north-star operators) alongside dedup/similarity.
  */
object Decontam {

  /** Per-doc distinct k-gram hashes with the doc's split label.
    * 8-byte gram keys (xxhash64 of the space-joined gram) — identical
    * to the [[Dedup.duplicatePassageStatsOfTokens]] contract: counts
    * match the gram strings' absent 2^64 collisions.
    */
  private def distinctGramHashes(toks: DataFrame, k: Int): DataFrame =
    docGramHashes(toks.select(col("doc_id"), col("split"), col("__toks")), k)

  /** Per-doc distinct k-gram hashes of a (…, doc_id, __toks) frame —
    * passthrough columns are kept; the corpus-side twin of
    * [[holdoutGramSet]] (same gram unit, same hash), shared with the
    * streaming firewall's per-batch scan. */
  def docGramHashes(toks: DataFrame, k: Int): DataFrame =
    toks
      .withColumn("__g", explode(array_distinct(
        TextFns.wordShinglesOf(col("__toks"), k))))
      .withColumn("gram", xxhash64(col("__g")))
      .drop("__g", "__toks")

  /** Distinct gram-hash set of a holdout frame (…, __toks) — the ONE
    * derivation both the batch operator and the streaming firewall
    * ([[graft.streaming.Incremental.decontamStream]]) share, so the
    * gram unit/hash can never silently diverge between them. Eagerly
    * checkpointed: small by premise, consumed several times.
    */
  def holdoutGramSet(holdoutToks: DataFrame, k: Int): DataFrame =
    holdoutToks
      .select(explode(array_distinct(
        TextFns.wordShinglesOf(col("__toks"), k))).as("__g"))
      .select(xxhash64(col("__g")).as("gram")).distinct()
      .localCheckpoint()

  /** Fold a (gram: long) frame into one serialized Bloom filter.
    * `BloomFilterAggregate` clamps its sizing to the session's
    * runtime-filter caps (default 4M items / 67.1M bits — sized for
    * injected join filters, not a 10^8-gram holdout), so the caps are
    * RAISED first when the requested size exceeds them; otherwise the
    * build silently degrades to fpp in the tens of percent (result
    * stays exact — the confirm join absorbs it — but the pre-shuffle
    * prune stops pruning).
    */
  def buildBloom(grams: DataFrame, nItems: Long, fpp: Double): Array[Byte] = {
    val spark = grams.sparkSession
    val numBits = BloomFilter.optimalNumOfBits(nItems, fpp)
    // Raise the caps only for the duration of the build: they also size
    // Spark's own InjectRuntimeFilter blooms, so leaving them raised
    // would inflate every later query's injected-filter buffers.
    val raised = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> nItems,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
      .flatMap { case (conf, needed) =>
        val prev = spark.conf.get(conf)
        if (prev.toLong < needed) {
          spark.conf.set(conf, needed.toString); Some(conf -> prev)
        } else None
      }
    try
      grams
        .agg(ColumnBridge.column(new BloomFilterAggregate(
          ColumnBridge.expression(col("gram")), Literal(nItems), Literal(numBits))
          .toAggregateExpression()).as("__bf"))
        .head.getAs[Array[Byte]](0)
    finally raised.foreach { case (conf, prev) => spark.conf.set(conf, prev) }
  }

  /** Membership probe of a [[buildBloom]] filter over a long hash
    * column — Spark's codegen'd `BloomFilterMightContain`, so a filter
    * on it prunes pre-shuffle inside whole-stage codegen.
    */
  def mightContain(bloom: Array[Byte], hash: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(Literal(bloom), ColumnBridge.expression(hash)))

  /** Training docs leaking held-out content: (doc_id, n_leaked_grams)
    * for every `train`-split doc sharing ≥1 distinct k-gram with any
    * doc in `holdoutSplits`.
    *
    * @param toks (doc_id, split, __toks) — pre-tokenized docs (the
    *             shared single-tokenization stage, M7)
    * @param k    gram length in tokens (8 = the `dup_spans` passage
    *             unit; GPT-3 used 13 — a policy knob, not structural)
    * @param fpp  Bloom false-positive rate; only affects how much
    *             survives to the confirming join, never the result
    */
  def leakedGrams(toks: DataFrame, k: Int = 8,
                  holdoutSplits: Seq[String] = Seq("val", "test"),
                  fpp: Double = 0.01): DataFrame = {
    val grams = distinctGramHashes(toks, k)

    // Holdout gram set: small by premise, consumed three times
    // (sizing count, Bloom build, confirm join) — holdoutGramSet's
    // eager localCheckpoint computes it once and truncates lineage,
    // storage reclaimed with the RDD.
    val holdout = holdoutGramSet(
      toks.filter(col("split").isin(holdoutSplits: _*)), k)
    val nHoldout = math.max(holdout.count(), 1L)
    val bloom = buildBloom(holdout, nHoldout, fpp)

    // Corpus scan: membership test runs pre-shuffle in codegen; the
    // equi-join after it sees only true hits + the fpp sliver.
    grams.filter(col("split") === "train")
      .filter(mightContain(bloom, col("gram")))
      .join(holdout, Seq("gram"))
      .groupBy(col("doc_id"))
      // grams are per-doc distinct already, so count(*) = distinct grams
      .agg(count(lit(1)).as("n_leaked_grams"))
  }

  /** Per-doc distinct winnowing fingerprints with passthrough columns
    * — the winnow twin of [[docGramHashes]] (same selection as
    * [[Dedup.winnowFingerprints]], positions dropped: membership is
    * what decontamination tests).
    */
  def docWinnowFps(docs: DataFrame, textCol: Column,
                   k: Int, w: Int): DataFrame = {
    docs
      .withColumn("__key", explode(Dedup.winnow(TextFns.normText(textCol), k, w)))
      .withColumn("fp", call_function("shiftright", col("__key"),
        lit(graft.plans.WinnowFingerprints.PosBits)))
      .drop("__key").drop(textCol).dropDuplicates()
  }

  /** Partial-copy decontamination: train-split docs sharing
    * ≥ `minShared` distinct winnowing fingerprints with the val/test
    * splits — (doc_id, n_leaked_fps).
    *
    * Where [[leakedGrams]] catches VERBATIM k-token spans, the winnow
    * unit fires on any ≥ w+k−1-character normalized substring match
    * (Schleimer et al.'s guarantee), at ~2/(w+1) of the gram volume —
    * the partially-copied-benchmark-question case an exact-gram
    * filter misses once a word is edited out of every k-gram.
    * Identical scale shape: holdout fingerprint set (small by
    * premise) → Bloom prefilter pre-shuffle in codegen → confirming
    * equi-join, so fpp moves work, never the answer.
    */
  def winnowLeaks(docs: DataFrame, textCol: Column,
                  k: Int = 8, w: Int = 10, minShared: Int = 1,
                  maxDocFreq: Int = Int.MaxValue,
                  holdoutSplits: Seq[String] = Seq("val", "test"),
                  fpp: Double = 0.01): DataFrame = {
    val fps = docWinnowFps(docs, textCol, k, w)
    // Boilerplate exclusion: a fingerprint carried by more than
    // `maxDocFreq` docs CORPUS-WIDE is template text, not leakage
    // (the common-gram exclusion every exact-gram decontam pipeline
    // applies too). Capping the fp is capping the match, so the train
    // side needs no separate cap — and holdout membership rides the
    // SAME map-side-combinable aggregate as the docfreq (one corpus
    // pass, 8-byte keys), so the corpus is never join-shuffled or
    // re-fingerprinted for the cap.
    val holdout = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"),
        max(when(col("split").isin(holdoutSplits: _*), 1).otherwise(0))
          .as("__h"))
      .filter(col("__h") === 1 &&
        (if (maxDocFreq == Int.MaxValue) lit(true)
         else col("__df") <= maxDocFreq))
      .select(col("fp")).localCheckpoint()
    val nHoldout = math.max(holdout.count(), 1L)
    val bloom = buildBloom(holdout.select(col("fp").as("gram")), nHoldout, fpp)
    fps.filter(col("split") === "train")
      .filter(mightContain(bloom, col("fp")))
      .join(holdout, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_leaked_fps"))
      .filter(col("n_leaked_fps") >= minShared)
  }
}
