package graft.pipelines

import graft.functions.TextFns
import graft.operators.{Dedup, Packing, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end corpus preparation — the composed "switch to this
  * library" entry point over the individually-gated stages: exact
  * dedup → near-dup cluster pruning → quality filtering → stable
  * split → token-budget packing. Every stage is the same operator the
  * oracle gates individually (`dedup_exact`, `dedup_components`,
  * `text_stats`, `doc_sample`, `seq_pack`), so the composition adds
  * no new semantics — only the wiring a production pipeline needs.
  *
  * Scale shape: one tokenization pass staged up front and reused by
  * quality and packing; near-dup pruning joins on the pair graph's
  * component labels (log-diameter contraction), never materializing
  * anything quadratic; packing is per-shard windowed cumsum — no
  * global window anywhere.
  */
object Corpus {

  final case class PrepareStats(input: Long, afterExact: Long,
                                afterNearDup: Long, afterQuality: Long,
                                afterModel: Long = -1L,
                                afterPpl: Long = -1L,
                                afterSemantic: Long = -1L,
                                afterDecontam: Long = -1L)

  /** @param docs       (doc_id: long, text: string) + any passthrough columns
    * @param jaccard    near-dup threshold on word-trigram Jaccard
    * @param minQuality quality-score floor (TextFns.qualityScoreOf ∈ [0,1])
    * @param budget     tokens per packed chunk
    * @param nShards    parallel packing streams
    * @param withStats  per-stage row accounting costs ONE extra action
    *                   per stage — priceless in validation, full
    *                   passes you don't want on a 100 TB production
    *                   run. Pass false → stats are -1 and ZERO
    *                   accounting actions run: construction stays one
    *                   lazy plan apart from the near-dup component
    *                   closure (inherently iterative) and opt-in
    *                   stage training (quantizer k-means, SemDeDup
    *                   loser materialization) — the exact action
    *                   delta is plan-contracted in CorpusSpec
    * @param holdoutGramK >0 enables verbatim-leak decontamination:
    *                   train docs sharing a k-gram with val/test are
    *                   dropped (Bloom-prefiltered exact filter)
    * @param mixBudget  >0 enables temperature mixture sampling toward
    *                   this token budget (docs must carry `source`)
    * @param shuffleSeed non-null packs in epoch-seeded reproducible
    *                   shuffle order instead of id order
    * @param modelWeights non-null enables the learned quality filter
    *                   (GPT-3 App. A): Pareto-threshold acceptance on
    *                   the hashed-feature logistic score under these
    *                   frozen weights ([[graft.operators.QualityClassifier]])
    * @param modelBias  frozen-model bias (with `modelWeights`)
    * @param paretoAlpha Pareto shape for the acceptance rule
    * @param maxPpl     >0 enables the CCNet-style fluency ceiling:
    *                   docs whose self-perplexity under the
    *                   vocab-capped bigram LM exceeds this are
    *                   dropped (docs with <2 tokens carry no
    *                   perplexity and always pass)
    * @param pplVocab   bigram-LM vocabulary cap (with `maxPpl`)
    * @param embeddings doc embeddings `(vec_id = doc_id, embedding)`
    *                   — required by the two embedding-level stages
    *                   below; docs WITHOUT an embedding row pass both
    *                   stages untouched (the streaming-firewall
    *                   rule: never silently lose data the scorer
    *                   cannot judge)
    * @param semanticEps >0 enables SemDeDup over the near-dup
    *                   survivors' embeddings ([[Similarity
    *                   .semanticDedup]]): within-cluster cosine-≥eps
    *                   duplicate groups keep only the member least
    *                   like its centroid (Abbas et al. 2023)
    * @param semanticCentroids coarse quantizer for the SemDeDup
    *                   stage; null trains one at the production
    *                   [[Similarity.autoCentroidCount]] size on the
    *                   survivors (the gated query passes a fixed
    *                   deterministic quantizer so the oracle can
    *                   restate the stage)
    * @param decontamHoldout non-null enables semantic benchmark
    *                   decontamination ([[Similarity
    *                   .semanticDecontam]]): docs whose embedding
    *                   reaches cosine `decontamEps` of ANY holdout
    *                   (eval-set) embedding are dropped — the
    *                   paraphrase leak the k-gram filter can't see.
    *                   Must be driver-sized (an eval set; enforced at
    *                   [[Similarity.MaxHoldoutRows]])
    * @param decontamEps cosine ceiling vs the holdout (with
    *                   `decontamHoldout`)
    * @return (prepared frame with split/shard/chunk assignment,
    *         per-stage row accounting, release handle that unpersists
    *         the staged corpus-sized frames — call it once the
    *         prepared frame is materialized)
    */
  def prepare(docs: DataFrame, jaccard: Double = 0.5, minQuality: Double = 0.3,
              budget: Int = 2048, nShards: Int = 8,
              withStats: Boolean = true, holdoutGramK: Int = 0,
              mixBudget: Long = 0L,
              shuffleSeed: String = null,
              modelWeights: Array[Double] = null, modelBias: Double = 0.0,
              paretoAlpha: Double = 9.0,
              maxPpl: Double = 0.0, pplVocab: Int = 1024,
              embeddings: DataFrame = null,
              semanticEps: Double = 0.0,
              semanticCentroids: DataFrame = null,
              decontamHoldout: DataFrame = null,
              decontamEps: Double = 0.8)
      : (DataFrame, PrepareStats, () => Unit) = {
    def tally(df: DataFrame): Long = if (withStats) df.count() else -1L
    val input = tally(docs)
    // every corpus-sized frame this call persists, so the caller can
    // release them once the prepared frame is materialized — repeated
    // prepare() calls in one long-lived session must not accumulate
    // cached corpus-sized blocks until LRU pressure evicts them
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // release thunks for pins owned by callees (the 3c bigram frame)
    val releasers = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

    // 1. exact dedup: keep the min doc_id of each normalized-text
    //    group. Tokens are staged HERE, before the checkpoint, so the
    //    single tokenization pass is materialized once and reused by
    //    near-dup shingling, the quality score, and packing.
    // persist, NOT localCheckpoint: this frame is corpus-sized, and
    // localCheckpoint's truncated lineage would make an executor loss
    // unrecoverable at the 100 TB target. persist keeps the (short,
    // deterministic) lineage so lost blocks recompute; disk spill
    // bounds memory. The small frames elsewhere (holdout grams, MG
    // summaries, edge frames) keep localCheckpoint — there eager
    // truncation is the point and loss exposure is trivial.
    // __q staged INTO the pin (round-18 measurement): the quality
    // score — interpreted higher-order filters over the token array
    // plus two regex ratios over text — was being re-evaluated by
    // every consumer of the staged frame (the survivor filter, the
    // fused stage tally, and each opt-in stage's downstream pass),
    // 2-3 full evaluations per prepare() call. Eight staged bytes per
    // row buy each later pass an attribute read instead.
    val exact = Dedup.exactSurvivors(docs, col("doc_id"), col("text"))
      .withColumn("__toks", TextFns.tokens(col("text")))
      .withColumn("__q", TextFns.qualityScoreOf(col("text"), col("__toks")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pinned += exact
    // No staging count on the LAZY path, although a persist() only
    // fills on first touch (at ×10 the source scan + tokenization
    // re-derived in 8 concurrent consumer subtrees, 22.7 s of stage
    // wall, round 18): the zero-accounting-actions contract
    // (CorpusSpec) holds, and at gate-fixture scale the rescans are
    // cheaper than the extra job.

    // 2. near-dup pruning: pair graph → component LOSERS (every
    //    non-minimum member of a duplicate cluster — the same
    //    keep-min rule as exact dedup). componentLosers skips the
    //    full labeling: a pruning pipeline never needs isolated
    //    nodes or cluster minima labeled (round-11 profile: the
    //    pair+CC stage dominates this pipeline).
    // Scale-adaptive pair-stage width (round-13): the gram self-join +
    // pair aggregation is this pipeline's dominant intermediate — the
    // ×30 profile measured 60+ GB of sort-spill at the session's fixed
    // 32-way width (>1 GB of per-task aggregation state). One pair
    // partition per ~1000 input docs keeps that state memory-sized at
    // any corpus; the session width is the floor, so small fixtures
    // keep their exact historical plans (pairParts = 0 path).
    // Pair-stage width needs a document count. withStats already paid
    // the input count; the LAZY path (withStats = false) must not
    // spend a corpus pass here — the zero-accounting-actions contract
    // (plan-contracted in CorpusSpec) — so it derives the width from
    // the optimizer's size estimate at a conservative ~2 KB/doc.
    // Overestimating nDocs only widens the pair exchange (smaller
    // tasks), and the [session, 4096] clamp bounds both directions.
    // Sources without stats (RDD-backed frames, some V2 sources)
    // report the spark.sql.defaultSizeInBytes sentinel (Long.MaxValue
    // by default) — treating that as a huge corpus would hand a tiny
    // fixture a 4096-task pair shuffle, silently contradicting the
    // "small fixtures keep their exact historical plans" contract.
    // Unknown stats fall back to the session width (pairParts = 0).
    val nDocs =
      if (input >= 0) input
      else {
        val size = docs.queryExecution.optimizedPlan.stats.sizeInBytes
        val sentinel = docs.sparkSession.sessionState.conf.defaultSizeInBytes
        if (size >= BigInt(sentinel)) 0L
        else (size / 2048).min(BigInt(Long.MaxValue)).toLong
      }
    val pairParts = {
      val derived = math.min(4096L, nDocs / 1000L).toInt
      val session = docs.sparkSession.sessionState.conf.numShufflePartitions
      if (derived > session) derived else 0
    }
    val pairs = Dedup.ngramJaccardPairsOfTokens(
      exact.select(col("doc_id"), col("__toks")), n = 3, threshold = jaccard,
      pairParts = pairParts)
    val losers = Dedup.componentLosers(pairs)
      .select(col("node").as("doc_id"))
    val nearDeduped = exact.join(losers, Seq("doc_id"), "left_anti")

    // 2b (opt-in). SemDeDup over the near-dup survivors' embeddings:
    //     within-cluster cosine-≥eps duplicate groups keep one
    //     representative (lowest centroid similarity — the member
    //     that adds the most information to its cluster). The loser
    //     set is a NARROW (doc_id) frame persisted with lineage, so
    //     the vector-carrying scored pin inside
    //     semanticDedupReleasable is released as soon as the losers
    //     materialize — the memoized-query lifecycle. Docs without an
    //     embedding row never appear in the decision frame and pass
    //     through the anti-join untouched.
    val semLost: Option[DataFrame] =
      if (semanticEps <= 0.0) None
      else {
        require(embeddings != null,
          "prepare: semanticEps > 0 needs an `embeddings` frame")
        val survVecs = embeddings.join(
          nearDeduped.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        val cents =
          if (semanticCentroids != null) semanticCentroids
          else Similarity.kmeansCentroidsAuto(
            survVecs.select(col("embedding"))).localCheckpoint()
        val (dec, releaseSem) =
          Similarity.semanticDedupReleasable(survVecs, cents, semanticEps)
        val lost = dec.filter(!col("keep"))
          .select(col("vec_id").as("doc_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        pinned += lost
        lost.count() // materialize while the scored pin still serves
        releaseSem()
        Some(lost)
      }
    val semDeduped = semLost.fold(nearDeduped)(l =>
      nearDeduped.join(l, Seq("doc_id"), "left_anti"))

    // 3. quality floor over the staged (pin-resident) score
    val scored = semDeduped
      .withColumn("quality", col("__q"))
      .filter(col("quality") >= minQuality)

    // Drop-set staging for the fused tally (round-18): when accounting
    // is ON, each opt-in stage's NARROW drop-id frame materializes
    // once (localCheckpoint — result-sized, the leak/tail sets) so the
    // pipeline anti-join and the fused stage aggregate below both read
    // it without re-running the stage; the lazy path keeps the pure
    // single-consumer lazy chain (nothing to reuse, zero extra
    // actions — the CorpusSpec contract).
    def stagedIds(ids: DataFrame): DataFrame =
      if (withStats) ids.localCheckpoint() else ids

    // 3b (opt-in). learned quality filter: Pareto-threshold
    //     acceptance on the frozen-model score — the GPT-3 App. A
    //     stage layered over the heuristic floor. Per-row expressions
    //     over the staged tokens; no new shuffle. The keep expression
    //     is shared with the fused tally (same codegen'd pass, no
    //     separate count job — round-18).
    val modelKeepExpr =
      if (modelWeights == null) lit(true)
      else graft.operators.QualityClassifier.paretoKeep(
        col("text"),
        graft.operators.QualityClassifier.score(
          col("__toks"), modelWeights, modelBias),
        paretoAlpha)
    val modelKept =
      if (modelWeights == null) scored else scored.filter(modelKeepExpr)

    // 3c (opt-in). fluency ceiling: drop the high-perplexity tail
    //     under the vocab-capped bigram LM trained on the survivors
    //     themselves (CCNet trains on a trusted corpus; the wiring is
    //     the same). The LM derivation rides the `exact` persist.
    val pplDropped: Option[DataFrame] =
      if (maxPpl <= 0.0) None
      else {
        // releasable form: the staged bigram frame is LARGER than the
        // corpus (one row per bigram occurrence) — thread its release
        // into this call's release handle like every other pin, or
        // repeated prepare() calls leak one bigram-sized cached frame
        // each (the exact class selfPerplexityReleasable exists for)
        val (ppl, releasePpl) = graft.operators.LanguageModel
          .selfPerplexityReleasable(
            modelKept.select(col("doc_id"), col("__toks")), pplVocab)
        releasers += releasePpl
        Some(stagedIds(
          ppl.filter(col("ppl") > maxPpl).select(col("doc_id"))))
      }
    val fluent = pplDropped.fold(modelKept)(d =>
      modelKept.join(d, Seq("doc_id"), "left_anti"))

    // 4. stable split
    val withSplit = fluent.withColumn("split", TextFns.stableSplit(col("text")))

    // 4b (opt-in). verbatim-leak decontamination: drop train docs
    //     sharing a k-gram with the val/test splits (the Bloom-
    //     prefiltered exact filter; see Decontam.leakedGrams).
    val gramLeaked: Option[DataFrame] =
      if (holdoutGramK <= 0) None
      else {
        // leakedGrams runs eager jobs (holdout count, Bloom build) and
        // a train-side scan against its input — persist the narrow
        // (id, tokens, split) projection so those don't re-execute the
        // pair-join/components/quality chain above per consumption.
        // persist (lineage kept), not localCheckpoint: corpus-sized,
        // same recoverability argument as `exact` above.
        val tokSplit = withSplit
          .select(col("doc_id"), col("__toks"), col("split"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        pinned += tokSplit
        Some(stagedIds(
          graft.operators.Decontam.leakedGrams(tokSplit, k = holdoutGramK)
            .select(col("doc_id"))))
      }
    val cleaned = gramLeaked.fold(withSplit)(l =>
      withSplit.join(l, Seq("doc_id"), "left_anti"))

    // 4c (opt-in). semantic benchmark decontamination: drop docs
    //     whose embedding reaches cosine `decontamEps` of ANY holdout
    //     embedding — the paraphrase leak the verbatim k-gram stage
    //     (4b) can't see. The scorer is map-only over the survivors
    //     (driver-resident holdout + one broadcast join — zero
    //     corpus-side exchanges), so no pin is needed; docs without
    //     an embedding row never reach the scorer and pass through.
    val semLeaked: Option[DataFrame] =
      if (decontamHoldout == null) None
      else {
        require(embeddings != null,
          "prepare: decontamHoldout needs an `embeddings` frame")
        val survVecs = embeddings.join(
          cleaned.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        Some(stagedIds(Similarity
          .semanticDecontam(survVecs, decontamHoldout, decontamEps)
          .filter(!col("kept")).select(col("vec_id").as("doc_id"))))
      }
    val semClean = semLeaked.fold(cleaned)(l =>
      cleaned.join(l, Seq("doc_id"), "left_anti"))

    // ALL stage tallies fused into ONE action over the staged pin
    // (round-11 fused stages 1-3; round-18 folds the opt-in model /
    // ppl / decontam tallies in too — each was a separate count job
    // re-running the whole downstream chain). Every opt-in stage's
    // decision is either a per-row expression over pin columns (the
    // model keep) or a checkpointed narrow drop-set joined in as a
    // flag, so one conditional aggregate reproduces every stage's
    // row count exactly: each drop-set is a subset of the rows that
    // survive the stages above it, so the conjunction chain counts
    // precisely the rows the sequential anti-joins keep.
    val (nExact, nNearDup, nSemantic, nQuality, nModel, nPpl, nDecontam) =
      if (!withStats) (-1L, -1L, -1L, -1L, -1L, -1L, -1L)
      else {
        def flag(base: DataFrame, ids: Option[DataFrame], name: String) =
          ids.fold(base.withColumn(name, lit(false)))(l =>
            base.join(l.withColumn(name, lit(true)), Seq("doc_id"), "left"))
        val flagged = flag(flag(flag(flag(
          exact.join(losers.withColumn("__lost", lit(true)), Seq("doc_id"), "left"),
          semLost, "__slost"), pplDropped, "__pdrop"),
          gramLeaked, "__gleak"), semLeaked, "__sleak")
        val surv2 = !coalesce(col("__lost"), lit(false))
        val surv3 = surv2 && !coalesce(col("__slost"), lit(false))
        val survQ = surv3 && col("__q") >= minQuality
        val survM = survQ && modelKeepExpr
        val survP = survM && !coalesce(col("__pdrop"), lit(false))
        val survD = survP && !coalesce(col("__gleak"), lit(false)) &&
          !coalesce(col("__sleak"), lit(false))
        val r = flagged
          .agg(count(lit(1)), count(when(surv2, 1)), count(when(surv3, 1)),
            count(when(survQ, 1)), count(when(survM, 1)),
            count(when(survP, 1)), count(when(survD, 1)))
          .head()
        (r.getLong(0), r.getLong(1),
          if (semLost.isEmpty) -1L else r.getLong(2), r.getLong(3),
          if (modelWeights == null) -1L else r.getLong(4),
          if (maxPpl <= 0.0) -1L else r.getLong(5),
          if (decontamHoldout == null) -1L else r.getLong(6))
      }

    // 4d (opt-in). temperature mixture sampling toward a token budget
    //     (requires a `source` column; keeps the per-source `rate`).
    val mixed =
      if (mixBudget <= 0L) semClean
      else mixtureSample(semClean, size(col("__toks")).cast("long"), mixBudget)

    // 5. token-budget packing — id order by default; epoch-seeded
    //    reproducible shuffle order when `shuffleSeed` is given (the
    //    training-order contract: same seed ⇒ same chunks, any
    //    cluster size).
    val prepared = (if (shuffleSeed == null)
      Packing.packByTokenBudget(mixed, col("doc_id"), size(col("__toks")),
        budget, nShards)
    else
      Packing.packSharded(
        Packing.deterministicShuffle(mixed, col("doc_id"), nShards, shuffleSeed),
        col("pos"), size(col("__toks")), budget))
      .drop("__toks").drop("__q")

    (prepared, PrepareStats(input, nExact, nNearDup, nQuality,
      nModel, nPpl, nSemantic, nDecontam),
      // release handle: unpersist every corpus-sized pin. Call AFTER
      // materializing the prepared frame (its lineage reads through
      // `exact`); calling earlier is safe but re-tokenizes once.
      () => { pinned.foreach(_.unpersist(false)); releasers.foreach(_()) })
  }

  // ---- source-weighted mixture sampling ("data mixing") ------------

  /** Per-source sampling rates for temperature-smoothed mixture
    * sampling: the training-mix step that reweights a multi-source
    * corpus so no giant source drowns the rest (the multilingual /
    * multi-corpus sampling rule p_s ∝ T_s^α — Conneau & Lample 2019
    * use α≈0.7, T5 and friends α≈0.5; α<1 flattens the source
    * distribution, α=1 is proportional passthrough).
    *
    * rate_s = min(1, budget · w_s / Σw · 1/T_s), with w_s = T_s^α over
    * per-source token totals T_s. In expectation the kept corpus holds
    * `budget` tokens distributed ∝ w (sources too small for their
    * target keep everything — rate caps at 1; the budget is a target,
    * not a quota fill).
    *
    * Determinism contract (this feeds a per-doc keep/drop, so it is
    * gate-critical): α=0.5 uses `sqrt` — correctly rounded in IEEE 754
    * everywhere, unlike `pow`'s 1-ulp licence — and Σw is an explicit
    * ordered left fold over sources (collect_list→sort→fold, seed 0.0,
    * which is IEEE-identical to the oracle's list_reduce over the
    * source-ordered list; a plain SUM's accumulation order is
    * engine-private). The tiny per-source frame makes the fold free.
    *
    * Scale shape: ONE map-side-combinable aggregate over the corpus
    * (the per-source totals), a source-count-sized driver-free fold,
    * and a broadcast join back — the corpus itself is never shuffled.
    */
  def mixtureRates(docTokens: DataFrame, budget: Long,
                   temperature: Double = 0.5): DataFrame = {
    // Source-count-sized frame consumed twice (Σw fold + the rate
    // join) and again by every downstream consumer of the returned
    // rates — eager localCheckpoint runs the corpus-wide aggregate
    // ONCE; without it each consumer re-scans (and re-tokenizes) the
    // whole corpus.
    val tot = docTokens.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_in"), sum(col("__n")).as("tokens_in"))
      .withColumn("__w",
        if (temperature == 0.5) sqrt(col("tokens_in").cast("double"))
        else pow(col("tokens_in").cast("double"), lit(temperature)))
      .localCheckpoint()
    val sumW = tot
      .agg(sort_array(collect_list(struct(col("source"), col("__w")))).as("__l"))
      .select(aggregate(col("__l"), lit(0.0),
        (acc, x) => acc + x.getField("__w")).as("__sw"))
    tot.crossJoin(broadcast(sumW))
      .withColumn("rate", round(least(lit(1.0),
        lit(budget.toDouble) * col("__w") / col("__sw")
          / col("tokens_in").cast("double")), 6))
      .select(col("source"), col("docs_in"), col("tokens_in"), col("rate"))
  }

  /** Deterministic acceptance predicate for a (rate, text) pair:
    * content-hash sampling against the rate mapped onto the first 32
    * md5 bits as a lexicographic hex threshold (lowercase hex compares
    * identically in any engine; no RNG, no seed, re-ingest-stable —
    * the [[TextFns.stableSample]] contract generalized to a computed
    * rate). rate ≥ 1 short-circuits: a 9-hex-digit threshold would
    * compare lexicographically BELOW 8-digit hashes starting ≥ '2'.
    */
  def mixtureAccept(textCol: Column, rateCol: Column): Column =
    rateCol >= 1.0 ||
      substring(TextFns.contentHash(textCol), 1, 8) <
        lpad(lower(hex(floor(rateCol * lit(4294967296.0)).cast("long"))), 8, "0")

  /** Mixture-sample `docs` (needs `text`, `source`, and a token count
    * in `tokenCol`) to a ~`budget`-token corpus with per-source
    * temperature weighting. Returns the kept docs with their source's
    * `rate` attached. One aggregate + one broadcast join + one filter
    * scan — the 100 TB plan has no corpus-side shuffle at all.
    */
  def mixtureSample(docs: DataFrame, tokenCol: Column, budget: Long,
                    temperature: Double = 0.5): DataFrame = {
    val withN = docs.withColumn("__n", tokenCol)
    val rates = mixtureRates(withN.select(col("source"), col("__n")),
      budget, temperature)
    withN.join(broadcast(rates.select(col("source"), col("rate"))), "source")
      .filter(mixtureAccept(col("text"), col("rate")))
      .drop("__n")
  }
}
