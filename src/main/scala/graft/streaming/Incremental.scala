package graft.streaming

import graft.functions.{TextFns, TimeFns}
import graft.operators.{Dedup, LanguageModel, Media, Similarity}
import graft.store.{SegmentStore, VersionStore}
import graft.store.SegmentStore.writeBatch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Incremental / micro-batch execution (SURVEY §2.9): the reference is
  * cron-driven batch with hand-rolled cursors (`ingestion_cursors` +
  * `startblock` resume, `merlin_etl.py:159-175`). Structured Streaming
  * subsumes that pattern: the checkpoint IS the cursor (exactly-once
  * file offsets), and `Trigger.AvailableNow` gives "run as a job,
  * process only what's new, stop" — the cron-friendly shape.
  *
  * Every stream this object runs to completion goes through one
  * runner, [[runAvailableNow]], whose contract the per-stream docs do
  * not restate:
  *  - replay-safe storage: `foreachBatch` is at-least-once on side
  *    effects, so a batch replayed after a crash between its writes
  *    and its checkpoint commit must rewrite, never duplicate, through
  *    one of two protocols. Segments: appended output is one
  *    `__batch=<batchId>` segment ([[SegmentStore.append]],
  *    [[SegmentStore.writeBatch]]), and index probes leave out the
  *    current batch's segment ([[SegmentStore.scan]]), so a replay
  *    reproduces its original decisions. Versions: a small table
  *    replaced whole is version `batchId` of a [[VersionStore]], which
  *    a replay rebuilds from the same kept predecessor.
  *  - recovery before start: any crashed compaction swap of the
  *    stream's index stores is completed before the stream starts
  *    ([[SegmentStore.recover]]), as every probe's read does too — a
  *    replayed batch must never probe a live tree missing merged
  *    segments.
  *  - geometry: each index store carries its build parameters, so its
  *    appends declare and its probes check them in the store itself
  *    (see [[SegmentStore]]); a mis-parameterized stream fails before
  *    any of its rows land.
  *  - compaction after: once the stream ends, at its quiescent point,
  *    each store is segment-merged when its segment count reaches
  *    `spark.graft.index.autoCompactSegments`
  *    ([[SegmentStore.autoCompact]]), bounding the per-probe listing
  *    cost flat in stream lifetime.
  *
  * The composed firewalls ([[curationFirewallStream]],
  * [[mediaFirewallStream]]) call the same per-batch step functions as
  * the standalone firewalls, so a composed stage and its standalone
  * stream cannot diverge. The keyed-state and windowed surfaces
  * ([[heavyHittersStream]], [[streamingTop100]], [[userCursors]],
  * [[slidingActivity]], …) return streaming frames for the caller to
  * sink.
  */
object Incremental {

  private val DocsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val EmbeddedDocsSchema = DocsSchema.add("embedding", ArrayType(FloatType))
  private val PayloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("payload", BinaryType)))
  private def vectorSchema(idCol: String, vecCol: String): StructType =
    StructType(Seq(StructField(idCol, LongType),
      StructField(vecCol, ArrayType(FloatType))))

  /** The AvailableNow runner behind every stream this object runs to
    * completion (contract in the object doc). `stores` are the
    * stream's on-disk index stores.
    */
  private def runAvailableNow(spark: SparkSession, srcDir: String,
                              schema: StructType, checkpointDir: String,
                              stores: Seq[SegmentStore] = Nil)(
                              body: (DataFrame, Long) => Unit): Unit = {
    stores.foreach(_.recover())
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .start()
      .awaitTermination()
    stores.foreach(_.autoCompact())
  }

  /** One micro-batch pass: consume new event files from `srcDir`,
    * write them to `destDir` partitioned by the 6h snapshot bucket
    * (`bucket_unix`, then `__batch`), checkpoint at `checkpointDir`,
    * and stop when caught up. Re-running is a no-op until new files
    * arrive; each run adds exactly the delta — the engine-native
    * replacement for the reference's cursor loop.
    */
  def ingestIncrement(spark: SparkSession, srcDir: String, destDir: String,
                      checkpointDir: String): Unit =
    runAvailableNow(spark, srcDir, graft.Tables.eventsSchema, checkpointDir) {
      (batch, batchId) =>
        writeBatch(batch.withColumn("bucket_unix", TimeFns.bucket6h(col("ts"))),
          destDir, batchId, "bucket_unix")
    }

  /** Streaming verbatim-leak decontamination: consume new document
    * files from `srcDir`, drop every doc sharing an exact `k`-gram
    * with the STATIC holdout, write survivors to `destDir` — the
    * "benchmark firewall" run continuously in front of a training-data
    * lake instead of as a batch sweep.
    *
    * Execution shape: the holdout gram set and its Bloom filter are
    * built ONCE at query start (the holdout is small and static by
    * premise — the same premise as [[graft.operators.Decontam]]); each
    * micro-batch then runs the identical Bloom-prune → confirm-join →
    * anti-join composition via `foreachBatch`, so per-batch semantics
    * are EXACTLY the batch operator's (exact at any fpp). Stateless
    * per batch — no streaming state beyond the source offsets.
    *
    * @param holdoutToks static (…, __toks) frame of held-out docs
    * @return survivors schema: (doc_id, text)
    */
  def decontamStream(spark: SparkSession, srcDir: String,
                     holdoutToks: DataFrame, destDir: String,
                     checkpointDir: String, k: Int = 8,
                     fpp: Double = 0.01): Unit = {
    import graft.operators.Decontam
    // shared derivation with the batch operator — same gram unit,
    // same hash, same Bloom sizing (incl. the runtime-filter cap
    // raise), so stream and sweep can never diverge
    val holdoutGrams = Decontam.holdoutGramSet(holdoutToks, k)
    val nHoldout = math.max(holdoutGrams.count(), 1L)
    val bloom = Decontam.buildBloom(holdoutGrams, nHoldout, fpp)
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      val leaked = Decontam.docGramHashes(
          batch.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks")), k)
        .filter(Decontam.mightContain(bloom, col("gram")))
        .join(holdoutGrams, Seq("gram"), "left_semi")
        .select(col("doc_id")).distinct()
      writeBatch(batch.join(leaked, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text")), destDir, batchId)
    }
  }

  /** Streaming partial-copy decontamination — the winnow twin of
    * [[decontamStream]]: incoming docs are dropped when they share
    * ≥ `minShared` distinct winnowing fingerprints with the static
    * holdout (the partially-edited leak the exact-gram firewall
    * misses — see [[graft.operators.Decontam.winnowLeaks]]). Same
    * derivation sharing discipline: the holdout fingerprint set and
    * the per-batch scan both go through [[graft.operators.Decontam
    * .docWinnowFps]], so stream and batch sweep can never diverge on
    * the fingerprint unit. Stateless beyond source offsets; the
    * Bloom is built ONCE at query start.
    *
    * No corpus-docfreq boilerplate cap here: a stream has no corpus
    * to measure frequency over — pre-compute the cap into
    * `holdoutDocs` (drop its boilerplate fps) when template text is
    * a concern.
    *
    * @param holdoutDocs static (doc_id, text) frame of held-out docs
    * @return survivors schema: (doc_id, text)
    */
  def winnowDecontamStream(spark: SparkSession, srcDir: String,
                           holdoutDocs: DataFrame, destDir: String,
                           checkpointDir: String, k: Int = 8, w: Int = 10,
                           minShared: Int = 1, fpp: Double = 0.01): Unit = {
    import graft.operators.Decontam
    val holdoutFps = Decontam.docWinnowFps(holdoutDocs, col("text"), k, w)
      .select(col("fp")).distinct().localCheckpoint()
    val nHoldout = math.max(holdoutFps.count(), 1L)
    val bloom = Decontam.buildBloom(
      holdoutFps.select(col("fp").as("gram")), nHoldout, fpp)
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      val leaked = Decontam.docWinnowFps(batch, col("text"), k, w)
        .filter(Decontam.mightContain(bloom, col("fp")))
        .join(holdoutFps, Seq("fp"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= minShared)
        .select(col("doc_id"))
      writeBatch(batch.join(leaked, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text")), destDir, batchId)
    }
  }

  /** Streaming model-based quality filter — the learned-classifier
    * firewall ([[graft.operators.QualityClassifier]]) applied per
    * micro-batch: score each incoming doc under the frozen weights
    * and keep it by the content-deterministic Pareto rule. Both the
    * score and the draw are pure per-row expressions, so the whole
    * filter is STATELESS beyond source offsets and — because the
    * Pareto U comes from the content hash, not an RNG — a replayed
    * batch makes the identical keep decision, which is what makes
    * the `__batch` overwrite exactly-once here.
    * Streaming keep set ≡ the batch filter over the same docs by
    * construction (the SAME `score`/`paretoKeep` columns — there is
    * no stream-specific scoring path to diverge).
    *
    * @return survivors schema: (doc_id, text, model_score)
    */
  def qualityFilterStream(spark: SparkSession, srcDir: String,
                          weights: Array[Double], bias: Double,
                          destDir: String, checkpointDir: String,
                          alpha: Double = 9.0): Unit = {
    import graft.operators.QualityClassifier
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      writeBatch(batch
        .withColumn("model_score", QualityClassifier.score(
          TextFns.tokens(col("text")), weights, bias))
        .filter(QualityClassifier.paretoKeep(
          col("text"), col("model_score"), alpha))
        .select(col("doc_id"), col("text"), col("model_score")), destDir, batchId)
    }
  }

  /** Pin a frozen holdout once per stream call — semanticDecontam
    * collects it per call, and a per-batch re-collect of an unchanging
    * frame is waste.
    */
  private def freezeHoldout(holdout: DataFrame): DataFrame =
    holdout.select(col("vec_id"), col("embedding")).localCheckpoint()

  /** The frozen-holdout semantic decontamination step on an
    * (`idCol`, embedding, …) frame, shared by [[semanticDecontamStream]]
    * and [[curationFirewallStream]]'s stage 5: rows whose
    * nearest-holdout cosine reaches `eps` drop.
    */
  private def semanticDecontamKeep(df: DataFrame, idCol: String,
                                   frozenHoldout: DataFrame,
                                   eps: Double): DataFrame = {
    val keptIds = Similarity.semanticDecontam(
        df.filter(col("embedding").isNotNull)
          .select(col(idCol).as("vec_id"), col("embedding")),
        frozenHoldout, eps)
      .filter(col("kept")).select(col("vec_id").as(idCol))
    // null-embedding arrivals PASS THROUGH rather than vanish: the
    // scorer's inner join on the (null) nearest id would silently
    // drop them, and a firewall must never silently lose data it
    // cannot judge (the substrScrubStream null-text convention) —
    // an unembeddable doc is not evidence of contamination
    df.filter(col("embedding").isNull)
      .unionByName(df.join(keptIds, Seq(idCol), "left_semi"))
  }

  /** Streaming semantic-decontamination firewall — the frozen-holdout
    * twin of [[graft.operators.Similarity.semanticDecontam]]: arriving
    * embedded documents are scored against a FIXED holdout (benchmark)
    * split and admitted iff their nearest-holdout cosine stays under
    * `eps`. The holdout frame collects ONCE at stream start (it is
    * driver-sized by construction — the coarse-quantizer boundedness
    * argument) and every micro-batch scores through the same operator
    * call, so stream ≡ batch is by shared code, not reimplementation
    * (IncrementalSpec pins output ≡ batch-over-union). Stateless
    * beyond source offsets. The 100 TB shape: benchmark sets change
    * rarely — a NEW holdout means a new stream (and a batch back-scrub
    * of the already-admitted corpus), exactly like retraining the
    * quality/perplexity firewalls' frozen models.
    *
    * @return survivors schema: (vec_id, embedding)
    */
  def semanticDecontamStream(spark: SparkSession, srcDir: String,
                             holdout: DataFrame, eps: Double,
                             destDir: String, checkpointDir: String): Unit = {
    val frozenHoldout = freezeHoldout(holdout)
    runAvailableNow(spark, srcDir, vectorSchema("vec_id", "embedding"),
        checkpointDir) { (batch, batchId) =>
      writeBatch(semanticDecontamKeep(batch, "vec_id", frozenHoldout, eps),
        destDir, batchId)
    }
  }

  /** The frozen-model perplexity ceiling on a tokenized
    * (doc_id, __toks, …) frame, shared by [[perplexityFilterStream]]
    * and [[curationFirewallStream]]'s stage 4: docs above `maxPpl`
    * drop; docs with < 2 tokens carry no perplexity and pass.
    */
  private def perplexityKeep(toks: DataFrame, model: LanguageModel.BigramModel,
                             maxPpl: Double): DataFrame = {
    val dropped = LanguageModel.perplexityOf(
        toks.select(col("doc_id"), col("__toks")), model)
      .filter(col("ppl") > maxPpl).select(col("doc_id"))
    toks.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Streaming perplexity firewall — the frozen-model twin of the
    * batch fluency ceiling ([[graft.pipelines.Corpus.prepare]]'s
    * `maxPpl` stage): incoming docs are scored under a
    * [[graft.operators.LanguageModel.BigramModel]] trained ONCE on a
    * trusted reference corpus (the CCNet setup) and dropped when
    * their perplexity exceeds the ceiling. The model's count frames
    * are pinned at training, so each micro-batch joins against
    * materialized key-bounded frames — no per-batch re-training.
    * Docs with < 2 tokens carry no perplexity and pass, identical to
    * the batch stage. Stateless beyond source offsets.
    *
    * @return survivors schema: (doc_id, text)
    */
  def perplexityFilterStream(spark: SparkSession, srcDir: String,
                             model: LanguageModel.BigramModel,
                             maxPpl: Double, destDir: String,
                             checkpointDir: String): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      writeBatch(perplexityKeep(
          batch.withColumn("__toks", TextFns.tokens(col("text"))), model, maxPpl)
        .select(col("doc_id"), col("text")), destDir, batchId)
    }

  /** Streaming DSIR firewall — the frozen-model twin of the batch
    * importance selection ([[graft.queries.Retrieval.dsir]]): incoming
    * docs are scored under a λ table trained ONCE
    * ([[graft.queries.Retrieval.dsirLambda]] on a reference
    * target/raw split) and kept when their importance log-weight
    * clears a frozen threshold. At stream time DSIR's keep-fraction
    * cut becomes a fixed `minLogwMicro` (derived at training from the
    * batch cut's boundary value) — a stream has no global rank, and a
    * threshold is how the paper's selection deploys online. λ is V
    * rows, passed as driver data and rebroadcast per batch; scoring
    * is the shared [[graft.queries.Retrieval.dsirScores]] map, so
    * batch and stream cannot diverge. Stateless beyond source
    * offsets.
    *
    * @param lambdaRows the trained λ table, `(bigram, λ_micro)`
    * @return survivors schema: (doc_id, text, logw_micro)
    */
  def dsirFilterStream(spark: SparkSession, srcDir: String,
                       lambdaRows: Seq[(String, Long)],
                       minLogwMicro: Long, destDir: String,
                       checkpointDir: String): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      import batch.sparkSession.implicits._
      val lambda = lambdaRows.toDF("f", "lambda_micro")
      writeBatch(graft.queries.Retrieval.dsirScores(
          batch.select(col("doc_id"), col("text"),
            TextFns.tokens(col("text")).as("__toks")),
          lambda, Seq("doc_id", "text"))
        .filter(col("logw_micro") >= minLogwMicro)
        .select(col("doc_id"), col("text"), col("logw_micro")), destDir, batchId)
    }

  /** Streaming weighted reservoir — the online form of
    * [[graft.operators.Packing.weightedSample]] (Efraimidis–Spirakis
    * order sampling). Because the E-S key is a PURE FUNCTION of
    * (id, weight) — a hash-uniform, no RNG — top-K-of-union equals
    * union-of-top-Ks re-topped: each micro-batch computes its local
    * top-K and merges it with the stored reservoir, keeping the
    * global top-K. The result after any batch is EXACTLY the batch
    * [[graft.operators.Packing.weightedSample]] over all documents
    * seen so far (spec-asserted across checkpointed restarts).
    *
    * State is the K-row reservoir itself, bounded by K at any stream
    * length: version n of a [[VersionStore]] at `reservoirDir` is the
    * reservoir after batch n. A replay re-merges onto the same kept
    * predecessor, and the pure key makes the result identical.
    */
  def weightedReservoirStream(spark: SparkSession, srcDir: String,
                              reservoirDir: String, checkpointDir: String,
                              k: Int = 50): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      val s = batch.sparkSession
      val store = VersionStore(s, reservoirDir)
      val prev = store.before(batchId)
      val staged = batch.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      // weight clamped to MaxSampleWeight, NOT normalize=true: the
      // merge compares key_micro ACROSS batches, so the key must stay
      // a pure function of (id, weight). The clamp also defuses the
      // poison pill of one ≥1e6-token doc (raise_error in the key on
      // every replay); docs at the clamp tie at max weight, id-ordered.
      val batchTop = graft.operators.Packing.weightedSample(
        staged, col("doc_id"),
        least(col("n_tokens") + 1,
          lit(graft.operators.Packing.MaxSampleWeight.toLong)), k)
        .select(col("doc_id"), col("n_tokens"), col("key_micro"))
      val merged = prev.fold(batchTop)(v => batchTop.unionByName(s.read.parquet(store.path(v)))
        .dropDuplicates("doc_id")
        .orderBy(col("key_micro").desc, col("doc_id").asc)
        .limit(k))
      store.commit(batchId)(merged.write.parquet)
    }

  /** The current reservoir — the latest committed version (empty
    * K-schema frame if none yet).
    */
  def readReservoir(spark: SparkSession, reservoirDir: String): DataFrame = {
    val store = VersionStore(spark, reservoirDir)
    store.latest match {
      case Some(v) => spark.read.parquet(store.path(v))
      case None => spark.emptyDataFrame
        .withColumn("doc_id", lit(0L)).withColumn("n_tokens", lit(0L))
        .withColumn("key_micro", lit(0L)).limit(0)
    }
  }

  /** Streaming exact-substring scrub firewall — the frozen-model twin
    * of the batch ExactSubstr removal
    * ([[graft.operators.Dedup.exactSubstrScrubOfTokens]]): a
    * reference corpus (which holds every canonical copy) trains a
    * duplicated-gram set ONCE
    * ([[graft.operators.Dedup.frozenDupGrams]]); arriving documents
    * have every span matching a frozen gram REMOVED (not dropped —
    * the doc survives minus its already-seen passages), through the
    * SHARED positioned-gram derivation and splice, so batch and
    * stream cannot diverge on span semantics. A stream has no global
    * first-occurrence order; the reference's copy is canonical by
    * contract — the same frozen-model reduction as the
    * DSIR/perplexity/phrase firewalls. Stateless beyond source
    * offsets.
    *
    * @param dupGramRows frozen duplicated-gram hashes as a driver
    *                    Seq — this signature is for SMALL frozen sets
    *                    (benchmark/eval contamination references). At
    *                    minOcc=1 the gram set is ~reference token
    *                    count ([[graft.operators.Dedup
    *                    .frozenDupGrams]] size contract): a large
    *                    reference must NOT be collected — keep its
    *                    gram table in parquet and use
    *                    [[substrScrubStreamFromDir]], whose per-batch
    *                    join size-decides broadcast vs shuffle
    * @return survivors schema: (doc_id, n_tokens, n_removed,
    *         clean_text)
    */
  def substrScrubStream(spark: SparkSession, srcDir: String,
                        dupGramRows: Seq[Long], destDir: String,
                        checkpointDir: String, k: Int = 8): Unit =
    substrScrubStreamCore(spark, srcDir, destDir, checkpointDir, k,
      s => { import s.implicits._; dupGramRows.toDF("gram") })

  /** [[substrScrubStream]] with the frozen gram set read from parquet
    * instead of a driver Seq — the LARGE-reference form: the gram
    * table never touches the driver, and each micro-batch's gram join
    * is size-decided by Catalyst (broadcast when the set is small,
    * shuffled hash join when it exceeds the broadcast threshold).
    */
  def substrScrubStreamFromDir(spark: SparkSession, srcDir: String,
                               dupGramsDir: String, destDir: String,
                               checkpointDir: String, k: Int = 8): Unit =
    substrScrubStreamCore(spark, srcDir, destDir, checkpointDir, k,
      s => s.read.parquet(dupGramsDir))

  private def substrScrubStreamCore(spark: SparkSession, srcDir: String,
                                    destDir: String, checkpointDir: String,
                                    k: Int,
                                    gramsOf: SparkSession => DataFrame): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      // coalesce: a null-text doc tokenizes to null __toks and the
      // splice would emit null n_tokens/clean_text. The firewall's
      // contract is "remove already-seen spans"; a null text holds
      // no span and passes through as an empty doc — the same
      // null-text pass-through as phraseFilterStream.
      writeBatch(Dedup.scrubByFrozenGrams(
        batch.select(col("doc_id"),
          TextFns.tokens(coalesce(col("text"), lit(""))).as("__toks")),
        gramsOf(batch.sparkSession), k), destDir, batchId)
    }

  /** Streaming phrase firewall: drop (or tag) arriving documents that
    * contain any of a frozen list of exact phrases — the
    * benchmark-sentence contamination gate run at ingest instead of as
    * a batch sweep. Per micro-batch one map-side filter through the
    * SHARED [[graft.queries.Retrieval.phraseCount]] matcher (same
    * tokenization, same overlap-counted sliding-window match as the
    * batch `phrase_match` query, so the two paths cannot diverge on
    * semantics); docs matching NO phrase pass through. No join, no
    * shuffle, no state beyond source offsets.
    */
  def phraseFilterStream(spark: SparkSession, srcDir: String,
                         phrases: Seq[(Int, Seq[String])], destDir: String,
                         checkpointDir: String): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir) { (batch, batchId) =>
      // coalesce: a null-text doc tokenizes to null and the match
      // predicate evaluates null — without the coalesce, filter(!null)
      // silently DROPPED such rows as if contaminated. The firewall's
      // contract is "drop docs that MATCH a phrase"; a null text
      // matches nothing and passes through.
      writeBatch(batch
        .withColumn("__toks", TextFns.tokens(col("text")))
        .filter(!coalesce(graft.queries.Retrieval.containsAnyPhrase(
          col("__toks"), phrases.map(_._2)), lit(false)))
        .select(col("doc_id"), col("text")), destDir, batchId)
    }

  /** Streaming MinHash-LSH index maintenance: arriving documents'
    * banded signatures append into the
    * [[graft.operators.Dedup.writeMinhashIndex]] layout — per
    * micro-batch one narrow map (the SHARED
    * `Dedup.minhashIndexRows` derivation: same shingling, signature
    * expression, and banding as the batch build and the batch pair
    * sweep) + a partitioned append under `part=<p>/__batch=<n≥0>/`
    * (the batch seed lives at `__batch=-1`). Combined with
    * [[graft.operators.Dedup.minhashProbe]] this is incremental
    * near-dup dedup: each new batch probes the ever-growing index at
    * batch-joined cost, then appends itself — no state beyond source
    * offsets, no corpus-side recompute, unlike the batch sweep whose
    * self-join grows with the full corpus every run.
    */
  def minhashIndexStream(spark: SparkSession, srcDir: String, indexDir: String,
                         checkpointDir: String, shingleLen: Int = 3,
                         bands: Int = 16, rowsPerBand: Int = 8): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir,
        SegmentStore.minhash(spark, indexDir)) { (batch, batchId) =>
      appendToMinhashIndex(
        batch.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks")),
        indexDir, batchId, shingleLen, bands, rowsPerBand)
    }

  /** One micro-batch's append into the two-table LSH index layout
    * (the SHARED `Dedup.minhashIndexFrames` derivation) — used by
    * [[minhashIndexStream]] and [[minhashStep]].
    */
  private def appendToMinhashIndex(toks: DataFrame, indexDir: String,
                                   batchId: Long, shingleLen: Int,
                                   bands: Int, rowsPerBand: Int): Unit = {
    val (bandRows, sigRows) = Dedup.minhashIndexFrames(
      toks, shingleLen, bands, rowsPerBand, Dedup.MinhashParts)
    val Seq(bandStore, sigStore) = Dedup.minhashIndex(toks.sparkSession, indexDir,
      shingleLen, bands, rowsPerBand, Dedup.MinhashParts)
    bandStore.append(bandRows, batchId, col("band"), col("bucket"))
    sigStore.append(sigRows, batchId, col("doc_id"))
  }

  /** Shared Hamming-index micro-batch append: banded survivor rows
    * under `part=/__batch=` plus the geometry sidecar — every
    * perceptual firewall routes here so an unseeded stream creates an
    * index indistinguishable from a batch
    * [[graft.operators.Dedup.writeHammingIndex]] build.
    */
  private def appendToHammingIndex(sigs: DataFrame, indexDir: String,
                                   batchId: Long, maxDist: Int,
                                   alignCols: Seq[String]): Unit =
    Dedup.hammingIndex(sigs.sparkSession, indexDir, maxDist, Dedup.HammingParts, alignCols)
      .append(Dedup.hammingIndexRows(sigs, maxDist, Dedup.HammingParts, alignCols),
        batchId, col("chunk"), col("piece"))

  /** The MinHash firewall step on a tokenized micro-batch
    * (doc_id, __toks, …), shared by [[minhashDedupStream]] and
    * [[curationFirewallStream]]'s stage 2:
    *
    *  1. dedup WITHIN the batch by the full batch rule — the SHARED
    *     candidate sweep ([[graft.operators.Dedup
    *     .minhashCandidatesOfTokens]]: same shingling, signature
    *     expression, banding) at θ, connected components over the
    *     pair graph, min-doc_id keeps per component (the
    *     [[graft.operators.Dedup.componentLosers]] pruning path — no
    *     stream-specific dedup rule to diverge);
    *  2. drop batch survivors with an est_jaccard ≥ θ candidate
    *     against the index ([[graft.operators.Dedup.minhashProbe]] —
    *     partition-pruned to the ≤64 parts the batch's bands hash
    *     into, never a corpus scan);
    *  3. append the survivors' banded rows to the index.
    *
    * Returns the survivors, pinned.
    */
  private def minhashStep(toks: DataFrame, indexDir: String, batchId: Long,
                          threshold: Double, shingleLen: Int, bands: Int,
                          rowsPerBand: Int): DataFrame = {
    val pairs = Dedup.minhashCandidatesOfTokens(
        toks.select(col("doc_id"), col("__toks")), shingleLen, bands, rowsPerBand)
      .filter(col("est_jaccard") >= threshold)
    val batchKept = toks.join(
      Dedup.componentLosers(pairs).withColumnRenamed("node", "doc_id"),
      Seq("doc_id"), "left_anti")
    // an unseeded index means the first batch has nothing to collide with
    val indexHits =
      if (!SegmentStore.minhash(toks.sparkSession, indexDir).head.exists)
        batchKept.limit(0).select(col("doc_id"))
      else Dedup.minhashProbe(
          batchKept.select(col("doc_id"), col("__toks")), indexDir,
          shingleLen, bands, rowsPerBand, excludeBatch = Some(batchId))
        .filter(col("est_jaccard") >= threshold)
        .select(col("probe_id").as("doc_id")).distinct()
    // decide once — the index append and the caller's output must see
    // the SAME survivor set, not re-run the probe
    val survivors = batchKept.join(indexHits, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    appendToMinhashIndex(survivors.select(col("doc_id"), col("__toks")),
      indexDir, batchId, shingleLen, bands, rowsPerBand)
    survivors
  }

  /** Streaming MinHash near-dup firewall — the production use of the
    * on-disk LSH band index: arriving documents are admitted iff they
    * are NOT an estimated-Jaccard-≥θ near-dup of an already-admitted
    * document; admitted documents join the index themselves
    * ([[minhashStep]]) and land under `__batch=<n>/` in destDir. The
    * lexical twin of [[semanticDedupStream]].
    *
    * Every step is deterministic (xxhash64 end to end), so unlike the
    * eps-chain caveat in SemDeDup the whole stream is EXACTLY
    * reproducible: IncrementalSpec asserts the streaming kept set ≡ a
    * sequential batch-by-batch application of the identical rule.
    * State is the on-disk index only — no keyed state, no corpus-side
    * recompute; each micro-batch costs O(batch) regardless of how
    * large the admitted corpus has grown.
    */
  def minhashDedupStream(spark: SparkSession, srcDir: String, indexDir: String,
                         destDir: String, checkpointDir: String,
                         threshold: Double = 0.5, shingleLen: Int = 3,
                         bands: Int = 16, rowsPerBand: Int = 8): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir,
        SegmentStore.minhash(spark, indexDir)) { (batch, batchId) =>
      val toks = batch.withColumn("__toks", TextFns.tokens(col("text")))
      writeBatch(minhashStep(toks, indexDir, batchId, threshold, shingleLen,
          bands, rowsPerBand).select(col("doc_id"), col("text")),
        destDir, batchId)
    }

  /** Keepers-index geometry of a SemDeDup stream (round 17): the
    * keepers layout is keyed by the frozen quantizer's assignment AND
    * the admission eps — a probe/appender under a different quantizer
    * prunes to clusters the index never populated (the silent-miss
    * class), and a different eps breaks the pairwise-below-eps keeper
    * invariant. Computed ONCE per stream call from one driver collect.
    * `kind` stays "ivf" — the keepers ARE a writeIvfIndex layout, and
    * a batch-built IVF index seeds the stream directly (its sidecar
    * carries no eps yet; the absent key is trusted and the stream's
    * declaration adds it).
    */
  private def keeperGeometry(centroids: DataFrame, eps: Double): Map[String, String] = {
    val (ids, vecs) = Similarity.collectQuantizer(centroids)
    Similarity.ivfGeometryOf(ids, vecs) + ("eps" -> eps.toString)
  }

  /** The SemDeDup keeper step on an embedded (vec_id, embedding)
    * micro-batch, shared by [[semanticDedupStream]] and
    * [[curationFirewallStream]]'s stage 2b:
    *
    *  1. dedup WITHIN the batch by the full batch rule
    *     ([[graft.operators.Similarity.semanticDedup]]: same
    *     assignment, same pair blocking, same connected-components
    *     grouping, same least-prototypical keep — no stream-specific
    *     scoring path to diverge);
    *  2. drop batch survivors within `eps` of an existing keeper in
    *     their cluster (the batch side is micro-batch-sized and
    *     BROADCAST into the keeper scan, pruned to the batch's
    *     clusters), after checking the keepers index's geometry;
    *  3. append the remainder to `keepersDir` under
    *     `centroid=<id>/__batch=<n>/` as (`corpusId`, `vecCol`).
    *
    * The geometry is validated whenever the keepers index exists,
    * even when the batch has no clusters or admits nothing, so a
    * mis-parameterized stream fails loud on any batch. Returns the
    * admitted keepers (vec_id, cluster, __v), pinned.
    */
  private def semKeeperStep(embedded: DataFrame, centroids: DataFrame,
                            eps: Double, keepersDir: String,
                            geometry: Map[String, String], batchId: Long,
                            corpusId: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val s = embedded.sparkSession
    val (dec, release) = Similarity.semanticDedupReleasable(embedded, centroids, eps)
    val survivors = dec.filter(col("keep"))
      .select(col("vec_id"), col("cluster"))
      .join(embedded.select(col("vec_id"), col("embedding").as("__v")), Seq("vec_id"))
      .localCheckpoint() // micro-batch-sized; read thrice below
    release() // scored pin served the eager checkpoint above
    // driver list bounded by nCentroids
    val clusters = survivors.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val keepers = Similarity.ivfIndex(s, keepersDir, geometry)
    // an existing index is scanned even when no cluster is probed: the
    // scan's geometry check fails a mis-parameterized stream on any batch
    val keeperDup =
      if (!keepers.exists) survivors.limit(0).select(col("vec_id"))
      else keepers.scan(clusters, Some(batchId))
        .select(col("centroid").cast("long").as("cluster"),
          col(vecCol).as("__kv"))
        .join(broadcast(survivors), Seq("cluster"))
        // round-6 comparison — the same quantization the batch
        // pair rule applies (Similarity.cosinePairsBlocked)
        .filter(round(Similarity.cosine(col("__v"), col("__kv")), 6) >= eps)
        .select(col("vec_id")).distinct()
    val admitted = survivors.join(keeperDup, Seq("vec_id"), "left_anti")
      .localCheckpoint() // micro-batch-sized; read twice below
    // no append when the batch admits no keepers: its declaration
    // would create a keepersDir holding only the geometry sidecar
    // (an empty AvailableNow run against an unseeded stream, say)
    if (!admitted.isEmpty)
      keepers.append(admitted.select(col("vec_id").as(corpusId), col("__v").as(vecCol),
        col("cluster").as("centroid")), batchId)
    admitted
  }

  /** COMPOSED streaming curation firewall — [[graft.pipelines.Corpus
    * .prepare]]'s stage chain run at ingest time as ONE stream:
    * exact dedup → MinHash near-dup firewall → quality floor →
    * (opt-in) frozen-bigram perplexity ceiling → (opt-in) semantic
    * benchmark decontamination, in the batch pipeline's stage order,
    * with the batch pipeline's per-stage row accounting written per
    * micro-batch. This is the 100 TB ingest shape: documents are
    * judged ONCE, on arrival, against state that grows only with the
    * ADMITTED corpus (an exact-fingerprint store and the MinHash band
    * index, both on-disk, both partition-pruned probes) — never by
    * re-sweeping the lake.
    *
    * Stage semantics are the batch stages' own, by shared code:
    *  1. EXACT — within-batch [[graft.operators.Dedup.exactSurvivors]]
    *     (keep-min per normalized-text fingerprint), then drop
    *     arrivals whose fingerprint is already in the admitted store
    *     (`indexDir/exact`, partitioned `part=pmod(fp,64)` — a probe
    *     reads ≤64 pruned partitions, never the store). Fingerprints
    *     of exact-stage SURVIVORS are recorded regardless of
    *     later-stage fate — the batch pipeline's sequential-stage
    *     semantics, where a dup of a later-dropped junk doc is still
    *     a dup (stage 1 runs before quality there too).
    *  2. NEAR-DUP — [[minhashDedupStream]]'s step ([[minhashStep]]).
    *  2b. SEMDEDUP (opt-in, `semanticEps`+`semanticCentroids`) — the
    *     batch pipeline's stage-2b ([[graft.pipelines.Corpus.prepare]])
    *     as [[semanticDedupStream]]'s step ([[semKeeperStep]]), the
    *     keepers at `indexDir/semkeep`. The quantizer MUST be frozen —
    *     retraining it re-keys the keeper layout, which is a rebuild,
    *     not maintenance. Docs without an embedding pass untouched
    *     (the stage-5 rule).
    *  3. QUALITY — `TextFns.qualityScoreOf ≥ minQuality`, the batch
    *     stage-3 rule, map-only.
    *  4. PPL (opt-in, `pplModel`+`maxPpl`) — the frozen-model
    *     [[perplexityFilterStream]] rule: <2-token docs carry no
    *     perplexity and pass.
    *  5. SEMANTIC (opt-in, `decontamHoldout`) — the frozen-holdout
    *     [[semanticDecontamStream]] rule; null-embedding arrivals
    *     pass this stage untouched (never silently lose data the
    *     scorer cannot judge).
    *
    * The single tokenization pass is staged per batch and reused by
    * shingling, quality, and perplexity — the batch pipeline's
    * discipline. Per-stage counts land under
    * `destDir/_accounting/__batch=<n>/` (underscore-prefixed, so
    * corpus readers of `destDir` never see it); disabled stages
    * record -1, the [[graft.pipelines.Corpus.PrepareStats]]
    * convention.
    *
    * Source schema: (doc_id long, text string, embedding
    * array&lt;float&gt; nullable — may be entirely null when the
    * semantic stage is off).
    */
  def curationFirewallStream(spark: SparkSession, srcDir: String,
                             indexDir: String, destDir: String,
                             checkpointDir: String,
                             jaccard: Double = 0.5, minQuality: Double = 0.3,
                             shingleLen: Int = 3, bands: Int = 16,
                             rowsPerBand: Int = 8,
                             semanticEps: Double = 0.0,
                             semanticCentroids: DataFrame = null,
                             pplModel: LanguageModel.BigramModel = null,
                             maxPpl: Double = 0.0,
                             decontamHoldout: DataFrame = null,
                             decontamEps: Double = 0.8): Unit = {
    require(semanticEps <= 0.0 || semanticCentroids != null,
      "curationFirewallStream: semanticEps > 0 needs a FROZEN semanticCentroids " +
        "quantizer (train once outside the stream — retraining re-keys the " +
        "keeper layout, which is a rebuild, not maintenance)")
    val semDedupOn = semanticEps > 0.0
    val semKeeperGeo =
      if (semDedupOn) keeperGeometry(semanticCentroids, semanticEps)
      else Map.empty[String, String]
    val ExactParts = 64
    val frozenHoldout =
      if (decontamHoldout == null) null else freezeHoldout(decontamHoldout)
    val exactStatePath = s"$indexDir/exact"
    val keepPath = s"$indexDir/semkeep"
    val stores = SegmentStore(spark, exactStatePath, "part") +:
      SegmentStore.minhash(spark, indexDir) :+ SegmentStore(spark, keepPath, "centroid")
    runAvailableNow(spark, srcDir, EmbeddedDocsSchema, checkpointDir, stores) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val exactStore = SegmentStore(s, exactStatePath, "part", Some(SegmentStore.Geometry(
          exactStatePath, Map("kind" -> "exact_fp", "parts" -> ExactParts.toString))))
        // pin the micro-batch once: the accounting count and the
        // stage chain consume it several times, and an unbuffered
        // batch frame re-reads the source files per consumer (the ×10
        // rehearsal measured 2-3 source scans per trigger without it)
        val staged = batch.persist(StorageLevel.MEMORY_AND_DISK)
        val nInput = staged.count()

        // single staged tokenization, reused by stages 2-4
        val toks = staged.withColumn("__toks", TextFns.tokens(col("text")))

        // ---- stage 1: exact -------------------------------------
        // localCheckpoint: the within-batch survivor frame feeds the
        // partition-prune collect, the store anti-join, and (through
        // exactKept) the fingerprint-store write — un-pinned, the
        // fingerprint+window pipeline executed up to three times per
        // micro-batch (round-16 advisor finding; only `staged` was
        // cached, not this derived frame)
        val within = Dedup.exactSurvivors(toks, col("doc_id"), col("text"))
          .withColumn("__fp", TextFns.fingerprint(col("text")))
          .withColumn("__part", pmod(col("__fp"), lit(ExactParts)).cast("int"))
          .localCheckpoint()
        val exactKept =
          if (!exactStore.exists) within // already pinned above
          else {
            // reads the pinned `within`, so the prune list costs one
            // scan of the materialized frame, not a pipeline re-run
            val parts = within.select(col("__part")).distinct()
              .collect().map(_.getInt(0)).toSeq
            val seen = exactStore.scan(parts, Some(batchId))
              .select(col("fp").as("__fp"))
            within.join(seen, Seq("__fp"), "left_anti").localCheckpoint()
          }
        exactStore.append(exactKept.select(col("__fp").as("fp"), col("__part").as("part")),
          batchId)

        // ---- stage 2: near-dup ----------------------------------
        val nearKept = minhashStep(exactKept, indexDir, batchId, jaccard,
          shingleLen, bands, rowsPerBand)

        // ---- stage 2b (opt-in): SemDeDup firewall ---------------
        val semKept =
          if (!semDedupOn) nearKept
          else {
            val keepers = semKeeperStep(
              nearKept.filter(col("embedding").isNotNull)
                .select(col("doc_id").as("vec_id"), col("embedding")),
              semanticCentroids, semanticEps, keepPath, semKeeperGeo, batchId)
            // fingerprint-less docs pass untouched — never silently
            // lose data the scorer cannot judge (the stage-5 rule)
            nearKept.filter(col("embedding").isNull)
              .unionByName(nearKept.join(
                keepers.select(col("vec_id").as("doc_id")),
                Seq("doc_id"), "left_semi"))
          }

        // ---- stage 3: quality floor -----------------------------
        val qualKept = semKept.filter(
          TextFns.qualityScoreOf(col("text"), col("__toks")) >= minQuality)

        // ---- stage 4 (opt-in): frozen perplexity ceiling --------
        val pplOn = pplModel != null && maxPpl > 0.0
        val pplKept = if (!pplOn) qualKept else perplexityKeep(qualKept, pplModel, maxPpl)

        // ---- stage 5 (opt-in): semantic decontamination ---------
        val semOn = frozenHoldout != null
        val out = (if (!semOn) pplKept
          else semanticDecontamKeep(pplKept, "doc_id", frozenHoldout, decontamEps))
          .localCheckpoint()

        import s.implicits._
        // one count of `out` serves both the after_semantic and the
        // kept slot; lazy keeps the action where the tuple reaches it
        lazy val nOut = out.count()
        writeBatch(Seq((nInput, exactKept.count(), nearKept.count(),
            if (semDedupOn) semKept.count() else -1L,
            qualKept.count(),
            if (pplOn) pplKept.count() else -1L,
            if (semOn) nOut else -1L,
            nOut))
          .toDF("input", "after_exact", "after_neardup", "after_semdedup",
            "after_quality", "after_ppl", "after_semantic", "kept"),
          s"$destDir/_accounting", batchId)
        writeBatch(out.select(col("doc_id"), col("text"), col("embedding")),
          destDir, batchId)
        staged.unpersist(blocking = false)
    }
  }

  /** dHash fingerprints of decoded images: canonical 9×8 resize →
    * native [[graft.plans.DHash64]], projected as `idCols :+ sh`; rows
    * whose fingerprint is null never reach an index (the Media family
    * decode-or-drop convention).
    */
  private def dhashSigs(decoded: DataFrame, idCols: Column*): DataFrame =
    Media.resizeImages(decoded, 9, 8)
      .select(idCols :+ Media.dhash64.as("sh"): _*)
      .filter(col("sh").isNotNull)

  /** The Hamming firewall step on a (doc_id, [alignCols], sh)
    * signature frame, shared by the image, audio and video firewalls
    * and [[mediaFirewallStream]]:
    *
    *  1. dedup WITHIN the batch by the full batch rule (the SHARED
    *     [[graft.operators.Dedup.hammingPairsOfSignatures]] pigeonhole
    *     sweep + [[graft.operators.Dedup.componentLosers]] min-id
    *     keeps — no stream-specific rule to diverge);
    *  2. drop batch survivors with a Hamming-≤maxDist match against
    *     the index ([[graft.operators.Dedup.hammingProbe]] —
    *     partition-pruned to the ≤64 parts the batch's pieces hash
    *     into, never a corpus scan);
    *  3. append the survivors' banded rows to the index.
    *
    * With `alignCols` (video frames) a pair of docs matches when at
    * least `minFrames` aligned signatures match. Returns the
    * survivors, pinned.
    */
  private def hammingStep(sig: DataFrame, indexDir: String, batchId: Long,
                          maxDist: Int, alignCols: Seq[String] = Nil,
                          minFrames: Int = 1): DataFrame = {
    def docPairs(pairs: DataFrame, a: String, b: String): DataFrame =
      if (alignCols.isEmpty) pairs
      else pairs.groupBy(col(a), col(b)).agg(count(lit(1)).as("__fm"))
        .filter(col("__fm") >= minFrames)
    val pairs = docPairs(
      Dedup.hammingPairsOfSignatures(sig, maxDist, alignCols = alignCols), "id_a", "id_b")
    val batchKept = sig.join(
      Dedup.componentLosers(pairs).withColumnRenamed("node", "doc_id"),
      Seq("doc_id"), "left_anti")
    val indexHits =
      if (!SegmentStore.hamming(sig.sparkSession, indexDir).exists)
        batchKept.limit(0).select(col("doc_id"))
      else docPairs(Dedup.hammingProbe(batchKept, indexDir, maxDist,
          excludeBatch = Some(batchId), alignCols = alignCols), "probe_id", "index_id")
        .select(col("probe_id").as("doc_id")).distinct()
    // decide once — the index append and the caller's output must see
    // the SAME survivor set, not re-run the probe
    val survivors = batchKept.join(indexHits, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    appendToHammingIndex(survivors, indexDir, batchId, maxDist, alignCols)
    survivors
  }

  /** COMPOSED streaming MEDIA firewall — [[graft.pipelines.MediaCorpus
    * .prepare]]'s stage chain at ingest time as ONE stream: decode →
    * perceptual dHash near-dup pruning (within-batch pigeonhole sweep
    * + on-disk Hamming index probe) → brightness feature floor, with
    * per-stage accounting per micro-batch — the multimodal sibling of
    * [[curationFirewallStream]].
    *
    * Stage semantics are the batch pipeline's, by shared code:
    *  1. DECODE — [[graft.operators.Media.decodeImages]], one codec
    *     pass per batch staged for all downstream consumers;
    *     undecodable payloads drop here (the 2_decoded account).
    *  2. NEAR-DUP — [[phashDedupStream]]'s step ([[hammingStep]]):
    *     decoded survivors lose to within-batch Hamming-component
    *     minima and to already-admitted index matches; unlike
    *     [[phashDedupStream]] (fingerprint-only firewall), rows that
    *     decode but carry NO fingerprint pass this stage untouched —
    *     the [[graft.pipelines.MediaCorpus.prepare]] anti-join
    *     semantics (a doc the fingerprinter cannot judge is not
    *     evidence of duplication), at the cost that such rows are also
    *     not indexable against future arrivals.
    *  3. FEATURE FLOOR — codegen'd brightness against [lo, hi].
    *
    * The admitted output is MANIFEST-shaped (`id, brightness,
    * n_pixels`) — placement + features, never pixels; at 100 TB the
    * pixels stay in the lake and only decisions leave the stream.
    */
  def mediaFirewallStream(spark: SparkSession, srcDir: String,
                          indexDir: String, destDir: String,
                          checkpointDir: String, maxDist: Int = 3,
                          minBrightness: Double = 0.0,
                          maxBrightness: Double = 255.0): Unit =
    runAvailableNow(spark, srcDir, PayloadSchema, checkpointDir,
        Seq(SegmentStore.hamming(spark, indexDir))) { (batch, batchId) =>
      val s = batch.sparkSession
      // pin the raw batch once (the curationFirewallStream lesson:
      // the accounting count and the decode would otherwise each
      // scan the source files)
      val staged = batch.persist(StorageLevel.MEMORY_AND_DISK)
      val nInput = staged.count()
      // one codec pass per batch, three consumers (fingerprint,
      // floor, manifest) — batch-sized, so localCheckpoint
      val decoded = Media.decodeImages(staged).localCheckpoint()
      val nDecoded = decoded.count()

      val sig = dhashSigs(decoded, col("id").as("doc_id"))
      val survivors = hammingStep(sig, indexDir, batchId, maxDist)
      // the batch pipeline's anti-join: decoded rows lose only by id
      val dropped = sig.join(survivors, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("id"))
      val deduped = decoded.join(dropped, Seq("id"), "left_anti")

      val kept = Media.imageFeatures(deduped)
        .filter(col("brightness").between(minBrightness, maxBrightness))
        .withColumn("n_pixels",
          (col("width") * col("height") * col("channels")).cast("long"))
        .select(col("id"), col("brightness"), col("n_pixels"))
        .localCheckpoint()

      import s.implicits._
      writeBatch(Seq((nInput, nDecoded, deduped.count(), kept.count()))
        .toDF("input", "decoded", "after_neardup", "after_feature"),
        s"$destDir/_accounting", batchId)
      writeBatch(kept, destDir, batchId)
      staged.unpersist(blocking = false)
    }

  /** Streaming perceptual-image near-dup firewall — the multimodal
    * twin of [[minhashDedupStream]], over the on-disk Hamming index
    * ([[graft.operators.Dedup.writeHammingIndex]]): arriving ENCODED
    * images are admitted iff their dHash fingerprint is NOT within
    * Hamming distance `maxDist` of an already-admitted image's; the
    * LAION-style ingest-time image dedup a 100 TB multimodal corpus
    * runs continuously. Per micro-batch: decode → [[dhashSigs]]
    * (decode-or-drop: rows whose payload doesn't decode, or whose
    * fingerprint is null, never reach the index), then
    * [[hammingStep]]; the surviving `(doc_id, sh)` rows land under
    * `__batch=<n>/` in destDir.
    *
    * Every step is deterministic (stub-codec decode, integer dHash,
    * xxhash64 banding), so the whole stream is exactly reproducible:
    * IncrementalSpec asserts the streaming kept set ≡ a sequential
    * batch-by-batch application of the identical rule. State is the
    * on-disk index only — each micro-batch costs O(batch) regardless
    * of how large the admitted corpus has grown.
    */
  def phashDedupStream(spark: SparkSession, srcDir: String, indexDir: String,
                       destDir: String, checkpointDir: String,
                       maxDist: Int = 3): Unit =
    runAvailableNow(spark, srcDir, PayloadSchema, checkpointDir,
        Seq(SegmentStore.hamming(spark, indexDir))) { (batch, batchId) =>
      val sig = dhashSigs(Media.decodeImages(batch), col("id").as("doc_id"))
      writeBatch(hammingStep(sig, indexDir, batchId, maxDist), destDir, batchId)
    }

  /** Streaming ACOUSTIC near-dup firewall — [[phashDedupStream]] with
    * the energy-envelope fingerprint ([[graft.plans.AudioHash64]]):
    * arriving encoded clips are admitted iff their hash is not within
    * Hamming `maxDist` of an admitted clip's, through the same on-disk
    * Hamming band index and [[hammingStep]] (decode-or-drop,
    * within-batch sweep + min-id keeps, partition-pruned probe).
    * The within-batch sweep runs the CAPPED default —
    * acoustic fingerprints are the family's low-entropy member
    * (BASELINE ×30: the uncapped sweep is output-bound by
    * construction on clustered corpora), the
    * `audio_phash_capped_recall` QUALITY floor gates the seam.
    */
  def audioPhashDedupStream(spark: SparkSession, srcDir: String,
                            indexDir: String, destDir: String,
                            checkpointDir: String, maxDist: Int = 3): Unit =
    runAvailableNow(spark, srcDir, PayloadSchema, checkpointDir,
        Seq(SegmentStore.hamming(spark, indexDir))) { (batch, batchId) =>
      val sig = Media.decodeAudio(batch)
        .select(col("id").as("doc_id"),
          Media.audioHash64.as("sh"))
        .filter(col("sh").isNotNull)
      writeBatch(hammingStep(sig, indexDir, batchId, maxDist), destDir, batchId)
    }

  /** Streaming TEMPORAL VIDEO near-dup firewall — the clip-level twin
    * that completes the image/audio/video fingerprint triple: an
    * arriving clip is admitted iff fewer than `minFrames` of its
    * sampled frames are Hamming-≤maxDist matches of the SAME-INDEX
    * frames of any single admitted clip (the ≥2-of-3 rollup of
    * [[graft.queries.MediaPipeline.mediaVideoPhash]]). The on-disk
    * index stores per-frame banded rows with `frame` as an ALIGNMENT
    * key of the band join itself ([[graft.operators.Dedup
    * .hammingProbe]] `alignCols`): pieces shared by misaligned frames
    * never become candidates, so probe exchange volume stays
    * per-frame at any clip length. Same [[hammingStep]] as its
    * siblings; frames sample every `stride`-th (the
    * [[graft.operators.Media.sampleFrames]] rule), and clips whose
    * payload fails the container walk contribute no frames and are
    * dropped (the decode-or-drop convention).
    */
  def videoPhashDedupStream(spark: SparkSession, srcDir: String,
                            indexDir: String, destDir: String,
                            checkpointDir: String, maxDist: Int = 3,
                            stride: Int = 2, minFrames: Int = 2): Unit =
    runAvailableNow(spark, srcDir, PayloadSchema, checkpointDir,
        Seq(SegmentStore.hamming(spark, indexDir))) { (batch, batchId) =>
      // composite key = clip·1000 + frame (the videoPhashPairsOf
      // contract, same in-plan assert_true guard rationale: the
      // fixture path samples ≤ a handful of frames; a longer clip
      // fails loudly instead of corrupting pairs)
      val keyGuard = coalesce(
        assert_true(col("frame_index") < 1000,
          lit("videoPhashDedupStream: frame_index >= 1000 would " +
            "corrupt the clip*1000 + frame composite key"))
          .cast(LongType),
        lit(0L))
      val frames = Media.sampleFrames(batch, stride)
        .select((col("id") * 1000 + col("frame_index") + keyGuard).as("key"),
          col("payload"))
      val sig = dhashSigs(Media.decodeImages(frames, idCol = "key"),
          (col("id") / 1000).cast(LongType).as("doc_id"),
          (col("id") % 1000).as("frame"))
        .localCheckpoint()
      writeBatch(hammingStep(sig, indexDir, batchId, maxDist,
        alignCols = Seq("frame"), minFrames = minFrames), destDir, batchId)
    }

  /** Streaming BM25 index maintenance: new documents' postings append
    * into the [[graft.queries.Retrieval.writeBm25Index]] layout as
    * they arrive — per micro-batch one narrow map (the shared
    * `bm25PostingRows` derivation, so batch build and incremental
    * append cannot diverge on tokenization, tf math, or term
    * bucketing) + a partitioned append under
    * `bucket=<b>/__batch=<n≥0>/` (the batch seed lives at
    * `__batch=-1` and never collides). Between refreshes, probes see
    * the new postings but build-time df/stats — the standard
    * stale-statistics trade of segmented search indexes;
    * [[graft.queries.Retrieval.writeBm25Stats]] is the segment-merge
    * that restores exact direct-scorer parity. Stateless beyond
    * source offsets.
    */
  def bm25IndexStream(spark: SparkSession, srcDir: String, indexDir: String,
                      checkpointDir: String,
                      nBuckets: Int = graft.queries.Retrieval.Bm25Buckets): Unit =
    runAvailableNow(spark, srcDir, DocsSchema, checkpointDir,
        Seq(graft.queries.Retrieval.bm25Postings(spark, indexDir, None))) { (batch, batchId) =>
      graft.queries.Retrieval.bm25Postings(batch.sparkSession, indexDir, Some(nBuckets)).append(
        graft.queries.Retrieval.bm25PostingRows(
          batch.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks")), nBuckets),
        batchId, col("term"), col("doc_id"))
    }

  /** Streaming IVF index maintenance: new vectors append into the
    * [[graft.operators.Similarity.writeIvfIndex]] partition layout as
    * they arrive — per micro-batch one narrow map (the shared
    * `ivfIndexRows` assignment, so batch build and incremental append
    * cannot diverge) + a partitioned append. The index stays
    * immediately probe-able between batches via
    * [[graft.operators.Similarity.probeIvfIndex]] (partition pruning
    * reads only probed `centroid=` directories; appended files join
    * their directory transparently). Rows land under
    * `centroid=<id>/__batch=<n>/`; probes select explicit columns, so
    * the extra partition level is invisible to them. The quantizer is
    * static by design — re-training centroids re-keys the layout,
    * which is a rebuild ([[graft.operators.Similarity.writeIvfIndex]]),
    * not maintenance — and is collected to driver arrays ONCE at
    * query start, not per batch. Stateless beyond source offsets.
    *
    * @param corpusId id column of the source parquet
    * @param vecCol   vector column of the source parquet
    */
  def ivfIndexStream(spark: SparkSession, srcDir: String,
                     centroids: DataFrame, destDir: String,
                     checkpointDir: String, nAssign: Int = 1,
                     corpusId: String = "neighbor_id",
                     vecCol: String = "embedding"): Unit = {
    // the quantizer collects ONCE here (nCentroids-bounded arrays);
    // each micro-batch reuses the collected object — no per-batch
    // driver job, and (for a two-level frame) the same approximate
    // assignment as the batch builder
    val cq = Similarity.collectQuantizerHier(centroids)
    // geometry computed once, from the SAME collected arrays (no
    // second centroid collect); a re-trained quantizer re-keys the
    // layout, which is a rebuild (writeIvfIndex), so the append fails
    val geometry = Similarity.ivfGeometryOf(cq.ids, cq.vecs)
    runAvailableNow(spark, srcDir, vectorSchema(corpusId, vecCol), checkpointDir,
        Seq(SegmentStore(spark, destDir, "centroid"))) { (batch, batchId) =>
      Similarity.ivfIndex(batch.sparkSession, destDir, geometry).append(
        Similarity.ivfIndexRowsQ(batch, cq, nAssign, corpusId, vecCol), batchId)
    }
  }

  /** Streaming SemDeDup — the semantic twin of the exact/winnow/
    * model/ppl firewalls, closing the one batch family without a
    * streaming counterpart. Incoming vectors are admitted iff they
    * are NOT within cosine `eps` of any already-kept vector in their
    * cluster; admitted vectors become keepers themselves
    * ([[semKeeperStep]]). State is the on-disk keepers index in the
    * [[graft.operators.Similarity.writeIvfIndex]] layout
    * (`centroid=<id>/__batch=<n>/`), so a batch-built index seeds the
    * stream directly and each micro-batch reads ONLY the `centroid=`
    * directories its vectors assign to (partition pruning — never the
    * whole keeper set).
    *
    * Invariant (spec-asserted): at every point, same-cluster keepers
    * are pairwise below `eps` — the same guarantee the batch rule
    * gives (one representative per duplicate group), maintained
    * incrementally. The streaming keep CHOICE inside a group can
    * differ from a single batch run over the union (first-arrival
    * wins across batches; that is inherent to any online dedup), but
    * soundness — every dropped vector has a keeper within `eps` in
    * its cluster — holds identically.
    */
  def semanticDedupStream(spark: SparkSession, srcDir: String,
                          centroids: DataFrame, keepersDir: String,
                          checkpointDir: String, eps: Double,
                          corpusId: String = "vec_id",
                          vecCol: String = "embedding"): Unit = {
    val geometry = keeperGeometry(centroids, eps)
    runAvailableNow(spark, srcDir, vectorSchema(corpusId, vecCol), checkpointDir,
        Seq(SegmentStore(spark, keepersDir, "centroid"))) { (batch, batchId) =>
      val embedded = batch
        .select(col(corpusId).as("vec_id"), col(vecCol).as("embedding"))
        .localCheckpoint() // micro-batch-sized
      semKeeperStep(embedded, centroids, eps, keepersDir, geometry, batchId,
        corpusId, vecCol)
    }
  }

  /** Continuously-maintained per-group heavy hitters: the
    * [[graft.plans.MGKernel]] Misra–Gries rules as
    * `flatMapGroupsWithState` keyed state — the streaming twin of
    * [[graft.operators.HeavyHitters.exactTopKPerGroup]]'s pass 1.
    * Each micro-batch folds its rows into the group's bounded summary
    * (state ≤ `capacity` entries per group, FOREVER, regardless of
    * vocabulary growth) and emits the current top-`k` lower-bound
    * weights. A streaming run is repeated mergeable-summary updating,
    * so the MG bounds hold over the FULL stream history — for the
    * STATE: every item with total frequency > N/capacity is in the
    * group's state, weights within N/capacity below truth. The
    * EMISSION truncates that state to the k largest weights (raise
    * `k` toward `capacity` if the consumer needs every
    * above-threshold item). Null items are skipped, matching the
    * batch aggregate. Exactness certification needs
    * the recount pass — run the batch composition over the lake when
    * an exact answer is required; this surface is the cheap continuous
    * monitor (trending tokens, hot keys, drift alarms).
    *
    * @param docs streaming Dataset of (group, item) pairs
    * @return per micro-batch: (group, item, weight_lb, rnk ≤ k)
    */
  def heavyHittersStream(docs: org.apache.spark.sql.Dataset[(String, String)],
                         k: Int = 10, capacity: Int = 256)
      : org.apache.spark.sql.Dataset[(String, String, Long, Int)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], (String, String, Long, Int)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        case (grp, rows, state: GroupState[Map[String, Long]]) =>
          val buf = scala.collection.mutable.HashMap.from(
            state.getOption.getOrElse(Map.empty))
          rows.foreach { case (_, item) =>
            if (item != null) graft.plans.MGKernel.update(buf, item, capacity)
          }
          state.update(buf.toMap)
          buf.toSeq.sortBy { case (item, w) => (-w, item) }.take(k)
            .zipWithIndex.iterator
            .map { case ((item, w), i) => (grp, item, w, i + 1) }
      }
  }

  /** CERTIFIED-EXACT streaming top-K per group — the streaming
    * composition of the two batch passes in
    * [[graft.operators.HeavyHitters.exactTopKPerGroup]]: a
    * continuously-merged MG candidate summary (pass 1, incremental)
    * plus a distributed recount against the accumulated history
    * (pass 2, per micro-batch), certified by the same two sufficient
    * conditions — so unlike [[heavyHittersStream]]'s lower bounds, the
    * emitted ranks are EXACT or the batch refuses loudly.
    *
    * Per micro-batch, inside `foreachBatch`, after the summaries'
    * out-of-sync check ([[VersionStore.before]]; after a checkpoint
    * reset, lake segment 0 would double-count the surviving segments):
    *  1. the batch lands in `stateDir/lake` through the replay-safe
    *     `__batch` write, keeping lake counts exact;
    *  2. the per-group MG summary table, a [[VersionStore]] at
    *     `stateDir/summaries`, is advanced to version `batchId` =
    *     COMBINE(previous version, batch MG aggregate): counters add
    *     per (group, item), then the (capacity+1)-th largest weight
    *     subtracts from all and non-positive entries drop — the
    *     Misra–Gries merge of Agarwal et al., "Mergeable Summaries"
    *     (PODS'12), as three relational ops. Versioning makes replay
    *     idempotent: a re-run of batch n rebuilds version n from its
    *     kept predecessor instead of double-merging. Summary error
    *     after any merge sequence stays ≤ N/capacity, so every item
    *     with true frequency > N/capacity is a candidate — the
    *     certification bar below;
    *  3. groups TOUCHED by the batch are recounted exactly against the
    *     full lake (semi-join on candidates — only candidate rows
    *     shuffle), certified per group (full coverage, or k-th count
    *     clears N/capacity; otherwise IllegalStateException names the
    *     groups), and their partitions of `outDir` are dynamically
    *     overwritten. Untouched groups received no rows, so their
    *     stored result is still exact — per-batch work scales with the
    *     batch's groups, only the recount scan touches history.
    *
    * `outDir` is therefore always a certified-exact (grp, item, n,
    * rnk ≤ k) table as of the last processed batch.
    */
  def certifiedTopKStream(spark: SparkSession, srcDir: String, stateDir: String,
                          outDir: String, checkpointDir: String,
                          k: Int = 10, capacity: Int = 256): Unit = {
    val schema = StructType(Seq(
      StructField("grp", StringType), StructField("item", StringType)))
    val lakeDir = s"$stateDir/lake"

    runAvailableNow(spark, srcDir, schema, checkpointDir) { (batch0, batchId) =>
      val s = batch0.sparkSession
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val summaries = VersionStore(s, s"$stateDir/summaries")
      val prevV = summaries.before(batchId)
      // micro-batch-sized; consumed by the lake write, the summary
      // merge, and the touched-group set
      val batch = batch0.filter(col("item").isNotNull).localCheckpoint()

      // 1. idempotent lake append
      writeBatch(batch, lakeDir, batchId)

      // 2. versioned MG COMBINE
      val prev = prevV.map(v => s.read.parquet(summaries.path(v)))
        .getOrElse(Seq.empty[(String, String, Long)].toDF("grp", "item", "w"))
      val bSumm = batch.groupBy(col("grp"))
        .agg(graft.operators.HeavyHitters.mgSketch(col("item"), capacity).as("__mg"))
        .select(col("grp"), explode(col("__mg")))
        .toDF("grp", "item", "w")
      val wRank = Window.partitionBy(col("grp"))
        .orderBy(col("w").desc, col("item").asc)
      val wGrp = Window.partitionBy(col("grp"))
      val merged = prev.unionByName(bSumm)
        .groupBy(col("grp"), col("item")).agg(sum(col("w")).as("w"))
        .withColumn("__rnk", row_number().over(wRank))
        .withColumn("__wth",
          max(when(col("__rnk") === capacity + 1, col("w"))).over(wGrp))
        .withColumn("w", col("w") - coalesce(col("__wth"), lit(0L)))
        .filter(col("w") > 0).select(col("grp"), col("item"), col("w"))
      summaries.commit(batchId)(merged.write.parquet)

      // 3. exact recount + certification for touched groups
      val touched = batch.select(col("grp")).distinct()
      val lake = s.read.parquet(lakeDir)
        .join(touched, Seq("grp"), "left_semi")
        .filter(col("item").isNotNull)
      val cands = s.read.parquet(summaries.path(batchId))
        .join(touched, Seq("grp"), "left_semi").select(col("grp"), col("item"))
      val confirmed = lake.join(cands, Seq("grp", "item"), "left_semi")
        .groupBy(col("grp"), col("item")).agg(count(lit(1)).as("n"))
        .localCheckpoint() // candidate-sized; feeds certify + output
      val ranked = confirmed.withColumn("rnk", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("n").desc, col("item").asc)))
      // certification starts from TOUCHED, not from the candidates:
      // a touched group whose merged summary collapsed to zero
      // entries (possible when a batch carries > capacity distinct
      // singletons) would otherwise produce no cert row at all and
      // its stale stored result would silently stand as "exact".
      // With no candidates every aggregate below is null → __ok
      // coalesces to false → the group is refused loudly.
      val cert = touched
        .join(ranked.groupBy(col("grp"))
          .agg(sum(col("n")).as("__sum"),
            max(when(col("rnk") === k, col("n"))).as("__kth"),
            count(lit(1)).as("__cand")), Seq("grp"), "left")
        .join(lake.groupBy(col("grp")).agg(count(lit(1)).as("__n")), "grp")
        .withColumn("__ok", coalesce(
          col("__sum") === col("__n") ||
            (col("__cand") >= k && col("__kth") * capacity > col("__n")),
          lit(false)))
      val bad = cert.filter(!col("__ok")).select(col("grp"))
        .collect().map(_.getString(0))
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"MG capacity $capacity cannot certify exact top-$k for groups: " +
            bad.sorted.mkString(", ") + ". Retry with a larger capacity.")

      // 4. idempotent per-group result refresh
      ranked.filter(col("rnk") <= k)
        .select(col("grp"), col("item"), col("n"),
          col("rnk").cast("long").as("rnk"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("grp").parquet(outDir)
    }
  }

  /** Windowed rollup of the incrementally-built table — bucket
    * partition pruning applies because [[ingestIncrement]] partitioned
    * by bucket_unix.
    */
  def bucketRollup(spark: SparkSession, destDir: String): DataFrame =
    spark.read.parquet(destDir)
      .groupBy(col("bucket_unix"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))

  /** Streaming form of the reference's sliding 60-minute activity
    * window (`ingest_activity_and_report.sh:36,81` runs it as a cron
    * batch against now(); the streaming engine runs it continuously on
    * EVENT time): watermarked sliding window → per (window, type)
    * counts/sums. Late events beyond the watermark are dropped — the
    * batch reference has the same effective behavior, since a row
    * arriving after the cron window has passed is never counted.
    * Exposed unsunk; tests attach a memory sink, production appends to
    * a bucket-partitioned table.
    */
  def slidingActivity(spark: SparkSession, srcDir: String,
                      windowLen: String = "60 minutes",
                      slide: String = "15 minutes",
                      watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(graft.Tables.eventsSchema).parquet(srcDir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming duplicate suppression within the watermark — the
    * streaming counterpart of M2's insert-ignore key
    * (`dropDuplicatesWithinWatermark` keeps state bounded; an
    * unbounded `dropDuplicates` would accrete every key forever).
    */
  def dedupStream(spark: SparkSession, srcDir: String,
                  keyCols: Seq[String], watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(graft.Tables.eventsSchema).parquet(srcDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class HolderUpd(contract_address: String, holder_address: String,
                             balance_raw: String, seq: Long)
  final case class TopEntry(contract_address: String, rnk: Int,
                            holder_address: String, balance_raw: String)

  val holderUpdSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[HolderUpd].schema

  /** The reference's signature computation — Top-100 holders per token
    * — as a CONTINUOUSLY-maintained stream instead of a 6-hourly batch
    * refresh: balance updates arrive, per-token state keeps each
    * holder's latest balance (last-writer-wins by `seq`, so replayed
    * or reordered micro-batches converge to the same state), and every
    * micro-batch emits the token's current Top-K.
    *
    * State is the per-token holder→(balance, seq) map — the same
    * information the batch refresh scans, because a true top-K over
    * balances that can DECREASE cannot evict below-K holders (one of
    * them may re-enter when a leader drops). Production runs this on
    * the RocksDB state store; the emitted Top-K is identical to
    * running [[graft.domain.Top100]] over the final balances —
    * including the ranking key: balances are canonical uint256 raw
    * STRINGS ordered by (length DESC, string DESC, holder ASC), the
    * repo's lossless NUMERIC(78,0) contract, never a Double that
    * collapses wei-scale balances above 2^53.
    *
    * State growth guards (the map is per-token holder cardinality and
    * never shrinks on its own — a long-running job needs an escape
    * hatch):
    *  - `inactivityTimeout` (e.g. `Some("30 days")`): tokens receiving
    *    no updates for that long have their state EVICTED (processing-
    *    time timeout). Trade-off made explicit: an evicted token that
    *    wakes up rebuilds state from its post-eviction updates only, so
    *    holders whose last update predates eviction drop out of its
    *    Top-K until they next move. Correct-by-default is eviction OFF.
    *  - `stateSizeHook` fires as (token, holderCount) on every state
    *    update — wire it to a metrics sink to alarm on runaway maps.
    */
  def streamingTop100(spark: SparkSession, srcDir: String, k: Int = 100,
                      inactivityTimeout: Option[String] = None,
                      stateSizeHook: (String, Int) => Unit = noopStateHook): DataFrame = {
    import spark.implicits._
    val upds = spark.readStream.schema(holderUpdSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir).as[HolderUpd]
    val timeoutConf =
      if (inactivityTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    upds.groupByKey(_.contract_address)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Update(),
        timeoutConf)(top100Update(k, inactivityTimeout, stateSizeHook))
      .toDF()
  }

  val noopStateHook: (String, Int) => Unit = (_, _) => ()

  /** The per-group state transition of [[streamingTop100]], exposed so
    * specs can drive it directly against a scripted [[GroupState]]
    * (eviction and re-entry are processing-time behaviors that an e2e
    * stream test cannot deterministically trigger).
    */
  private[streaming] def top100Update(k: Int, inactivityTimeout: Option[String],
      stateSizeHook: (String, Int) => Unit)(
      token: String, batch: Iterator[HolderUpd],
      state: GroupState[Map[String, (String, Long)]]): Iterator[TopEntry] = {
    if (state.hasTimedOut) {
      // inactivity eviction: drop the map, emit nothing — the token
      // re-enters cleanly when its next update arrives
      state.remove()
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(Map.empty[String, (String, Long)])
      val next = batch.foldLeft(prev) { (m, u) =>
        m.get(u.holder_address) match {
          case Some((_, s)) if s >= u.seq => m // stale replay: keep newer
          case _ => m.updated(u.holder_address, (u.balance_raw, u.seq))
        }
      }
      state.update(next)
      inactivityTimeout.foreach(state.setTimeoutDuration)
      stateSizeHook(token, next.size)
      // (length DESC, string DESC) = exact numeric DESC for canonical
      // decimal strings; holder ASC tiebreak matches Top100.compute
      next.toSeq.sortBy { case (h, (b, _)) => (-b.length, b, h) }(
        Ordering.Tuple3(Ordering.Int, Ordering.String.reverse, Ordering.String))
        .take(k).zipWithIndex
        .map { case ((h, (b, _)), i) => TopEntry(token, i + 1, h, b) }.iterator
    }
  }

  /** Event-time sessionization: gap-based `session_window` per user —
    * the training-pipeline view of user activity (a session closes
    * after `gap` of silence; windows merge as late-but-in-watermark
    * events arrive). Batch and streaming share the same expression, so
    * the spec gates streaming output against the batch run verbatim.
    */
  def sessionizedActivity(spark: SparkSession, srcDir: String,
                          gap: String = "30 minutes",
                          watermark: String = "2 hours"): DataFrame =
    spark.readStream.schema(graft.Tables.eventsSchema).parquet(srcDir)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Watermarked stream-stream attribution join: each purchase matches
    * the same user's clicks in the preceding `horizon`. Both sides
    * carry watermarks and the join condition carries the time bound —
    * the two things Spark needs to EVICT join state (an unbounded
    * stream-stream join is a memory leak by construction; with the
    * bound, rows age out once the other side's watermark passes).
    */
  def attributionJoin(spark: SparkSession, srcDir: String,
                      horizon: String = "60 minutes",
                      watermark: String = "2 hours"): DataFrame = {
    def src = spark.readStream.schema(graft.Tables.eventsSchema).parquet(srcDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class UserCursor(user_id: Long, last_event_id: Long, events_seen: Long)

  /** Keyed streaming state: per-user monotonic cursor (max event id +
    * count), updated per micro-batch via mapGroupsWithState — the
    * GREATEST-merge semantics of `merlin_etl.py:159-175`, inside the
    * engine. Returns
    * the streaming DataFrame; callers attach a sink (tests use the
    * memory sink in update mode).
    */
  def userCursors(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    val events = spark.readStream.schema(graft.Tables.eventsSchema)
      .parquet(srcDir).as[Event]
    def update(user: Long, batch: Iterator[Event],
               state: GroupState[UserCursor]): UserCursor = {
      val prev = state.getOption.getOrElse(UserCursor(user, -1L, 0L))
      val next = batch.foldLeft(prev)((c, e) =>
        UserCursor(user, math.max(c.last_event_id, e.event_id), c.events_seen + 1))
      state.update(next)
      next
    }
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }
}
