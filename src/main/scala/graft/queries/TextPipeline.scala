package graft.queries

import graft.Tables
import graft.functions.TextFns
import graft.operators.{Dedup, Similarity}
import graft.pipelines.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Training-data-pipeline queries (dedup / similarity / text analysis)
  * over the `documents` and `embeddings` test tables, each with a
  * DuckDB oracle where the semantics are hash-function-free.
  *
  * Hash-based candidate generation (MinHash banding, SimHash chunks,
  * sign-LSH sketches) depends on Spark's xxhash64, which no portable
  * SQL oracle reproduces — those queries are registered rows-only and
  * get exact-semantics ScalaTest specs instead (minhash estimate vs
  * true Jaccard, pigeonhole recall, LSH recall vs brute force).
  *
  * Determinism contract with the oracle (same as [[Relational]]):
  * integer-derived ratios are exact IEEE divisions of exact ints;
  * multi-term double arithmetic (quality score, cosine) is written
  * with the identical operation order on both sides and rounded to 6
  * decimals at the boundary.
  */
object TextPipeline {

  // ---- dedup -------------------------------------------------------

  /** Exact-dup groups keyed on the normalized-text fingerprint; the
    * oracle groups on the normalized text itself (hash-free), which is
    * the same partition of doc space absent 64-bit collisions.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), col("doc_id"), col("text"))
      .select(col("keep_id"), col("dup_count"))
      .orderBy(col("keep_id"))

  /** The θ=0.5 trigram-Jaccard pair frame, persisted and memoized per
    * (session, dir) — the reference's M7 temp-table reuse, because
    * THREE gated queries consume the identical frame (ngram_jaccard,
    * dedup_components, decontamination) and recomputing the shingle
    * blocking join per consumer triples the most expensive stage of
    * the text pipeline. Released with the session's other entries by
    * [[graft.SessionCache.evictSession]].
    */
  private val pairsCache = graft.SessionCache.frames[String]

  private[queries] def ngramPairs05(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir) {
      val toks = tokenizedDocs(s, dir).select(col("doc_id"), col("__toks"))
      // scale-adaptive pair-stage width, the Corpus.prepare rule
      // (~1 partition / 1000 docs, session width as floor): the raw
      // operator's fixed-width plan spills 80+ GB at ×30 (per-stage
      // ledger) while small fixtures keep their exact plans via
      // the 0 path. The count reads the memoized persisted tokenized
      // frame — one cheap job, paid once per (session, dir) alongside
      // the pair build itself.
      val derived = math.min(4096L, toks.count() / 1000L).toInt
      val session = s.sessionState.conf.numShufflePartitions
      Dedup.ngramJaccardPairsOfTokens(toks, n = 3, threshold = 0.5,
        pairParts = if (derived > session) derived else 0).persist()
    }

  /** Tokenized documents (doc_id, text, lang, __toks), persisted and
    * memoized per (session, dir): tokenization is the text family's
    * single most repeated stage (TextFns cost contract — one regex
    * pass per document), and text_stats / lang_guess /
    * text_repetition all start from exactly this frame. Same M7
    * lifecycle as [[pairsCache]]. Already spread across cores
    * (core-count partitions) when materialized.
    */
  private val toksCache = graft.SessionCache.frames[String]

  private[graft] def tokenizedDocs(s: SparkSession, dir: String): DataFrame =
    toksCache.getOrElseUpdate(s, dir)(
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), TextFns.tokens(col("text")).as("__toks"))
        .persist())

  /** Exact word-trigram Jaccard near-dup pairs at θ=0.5. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramPairs05(s, dir)
      .orderBy(col("id_a"), col("id_b"))

  /** Duplicate clusters from the exact trigram-Jaccard pair graph:
    * alternating large-star/small-star contraction to fixpoint; the
    * oracle restates it as a recursive transitive closure over the
    * identical pair derivation — so the iterative-join convergence
    * loop is hash-gated end to end.
    */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(ngramPairs05(s, dir))
      .select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))

  /** [[dedupComponents]] with the driver union-find fast path
    * DISABLED (`smallGraphMaxEdges = 0`), forcing the distributed
    * large-star/small-star loop. Registered as its own gated query
    * (same oracle — identical labels by construction) so the
    * distributed path's correctness AND performance stay observable
    * per round: at sf0.1 the pair graph is small enough that
    * `dedup_components` alone would only ever measure the driver
    * path.
    */
  def dedupComponentsDist(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(ngramPairs05(s, dir), smallGraphMaxEdges = 0L)
      .select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))

  /** MinHash+LSH candidate pairs (rows-only: xxhash64-based).
    * 32 bands × 4 rows: ~87% collision probability at J=0.5.
    *
    * Tokenizes DIRECTLY from the documents scan rather than reading
    * the shared `tokenizedDocs` cache: BASELINE.md's round-5
    * measurement (re-confirmed round 11 after the round-10 switch to
    * the cache regressed the full-suite steady 1.11→1.99 s) is that
    * for this explode-heavy consumer the one codegen'd regex pass is
    * cheaper than materializing the columnar array<string> column
    * under full-suite cache pressure. `simhashPairs` below stays on
    * the cache — its signature stage is a single map and measurably
    * benefits (1.93→1.53 s in the same round-10 run). Per-consumer
    * choice, both directions measured.
    */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    // result-set checkpoint before the presentation sort (round 18,
    // the text_stats finding): the final orderBy's range partitioner
    // SAMPLES its child, and while shuffle reuse covers the map
    // sides, the post-exchange pair aggregate AND the interpreted
    // signature-agreement fold re-ran once per distinct pair in the
    // sampling job. The surviving pair set is result-sized — one
    // cheap checkpoint halves the fold work.
    Dedup.minhashCandidates(
      Tables.documents(s, dir), col("doc_id"), col("text"),
      shingleLen = 3, bands = 32, rowsPerBand = 4)
      .filter(col("est_jaccard") >= 0.25)
      .localCheckpoint()
      .orderBy(col("id_a"), col("id_b"))

  // Temp LSH index dirs, one per (session, sfDir), a SessionCache
  // entry like Retrieval's BM25 binding (batch mains are the only
  // users; a service calls Dedup.writeMinhashIndex with its own
  // durable path). Indexes every doc_id % 10 != 0 ("the
  // already-ingested corpus"); the query probes the % 10 == 0 batch.
  private val minhashIdxDirs = graft.SessionCache.dirs[String]

  private def minhashIndexFor(s: SparkSession, dir: String): String =
    minhashIdxDirs.getOrElseUpdate(s, dir)(graft.SessionCache.tempDir("graft_mh_idx") { path =>
      Dedup.writeMinhashIndex(
        tokenizedDocs(s, dir).select(col("doc_id"), col("__toks"))
          .filter(col("doc_id") % 10 =!= 0),
        path, shingleLen = 3, bands = 32, rowsPerBand = 4)
    })

  /** Incremental near-dup dedup through the on-disk LSH band index
    * (rows-only: xxhash64-based): the doc_id % 10 == 0 docs play the
    * "new batch" probing an index built over the other 90% — the
    * corpus side's signatures are never recomputed and the index scan
    * prunes to the partitions the batch's bands hash into (DedupSpec
    * plan-asserts the PartitionFilters), which is what makes dedup of
    * a daily batch against a 100 TB indexed corpus batch-sized
    * instead of corpus-sized. Same 32×4 banding and θ-estimate cut as
    * [[minhashPairs]]; probe ≡ batch sweep is spec-proven exactly and
    * floor-gated continuously (`minhash_indexed_recall`,
    * QualityMetrics).
    */
  def minhashIndexed(s: SparkSession, dir: String): DataFrame =
    // same result-set checkpoint as [[minhashPairs]]: the probe's
    // signature-fetch joins + est fold re-ran in the sort's sampling
    // job otherwise
    Dedup.minhashProbe(
      tokenizedDocs(s, dir).select(col("doc_id"), col("__toks"))
        .filter(col("doc_id") % 10 === 0),
      minhashIndexFor(s, dir), shingleLen = 3, bands = 32, rowsPerBand = 4)
      .filter(col("est_jaccard") >= 0.25)
      .localCheckpoint()
      .orderBy(col("probe_id"), col("index_id"))

  /** SimHash Hamming-≤6 near-dup pairs via pigeonhole chunking
    * (rows-only: xxhash64-based). maxPieceFreq=200 (4% of the corpus
    * in one 9-bit piece): measured on sf0.1, cap 1000 admits 2.5M
    * candidate pairs where cap 200 admits 886k while dropping only 21
    * of 1510 buckets — the dropped buckets are near-constant-chunk
    * noise, and a true ≤6-distance pair is lost only if EVERY chunk it
    * agrees on (typically 4-6 of 7) is that hot.
    */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    // result-set checkpoint before the presentation sort — the
    // [[minhashPairs]] rationale (here the re-run was the pair
    // aggregate + bit_count distance filter over the candidate
    // stream)
    Dedup.simhashPairsOfTokens(
      tokenizedDocs(s, dir).select(col("doc_id"), col("__toks")),
      maxDist = 6, maxPieceFreq = 200L)
      .localCheckpoint()
      .orderBy(col("id_a"), col("id_b"))

  // ---- text analysis ----------------------------------------------

  /** Per-document token counts, ratios, and composite quality score.
    * Tokens are staged once per row (TextFns cost contract) and the
    * scan repartitioned — per-doc regex work must spread across
    * cores, not sit in one small-file task.
    */
  def textStats(s: SparkSession, dir: String): DataFrame =
    // Checkpoint BEFORE the presentation sort (round-18 measurement):
    // a final orderBy plans as a range exchange whose partitioner
    // SAMPLES its child, so the expensive projection (regex ratios,
    // BPE count, interpreted HOF folds) below the sort executed twice
    // — once for the sampling job, once for the real shuffle (two
    // ~2 s-cpu stages at sf0.1). Materializing the doc-count-sized
    // NARROW stats frame first computes it exactly once at full scan
    // parallelism, and both the sample and the range shuffle then
    // move 7 numeric columns instead of re-deriving them (shuffle
    // stats, not text — guide §2.3/§8).
    tokenizedDocs(s, dir)
      .select(
        col("doc_id"),
        size(col("__toks")).cast(LongType).as("n_tokens"),
        TextFns.bpeTokenCount(col("text")).cast(LongType).as("n_bpe"),
        round(TextFns.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFns.avgWordLenOf(col("__toks")), 6).as("avg_word_len"),
        round(TextFns.stopwordRatioOf(col("__toks")), 6).as("stop_ratio"),
        TextFns.qualityScoreOf(col("text"), col("__toks")).as("quality"))
      .localCheckpoint()
      .orderBy(col("doc_id"))

  /** BPE merge table trained ONCE per (session, dir) — a tokenizer
    * belongs to its corpus like the IVF quantizer does (ivfCentroids'
    * memo rationale): training is an eager word-count aggregate +
    * driver-side merge learning, so re-training per query would re-run
    * the corpus scan every call. A plain-value SessionCache entry (a
    * merge list has nothing to unpersist; entries are trivially small).
    */
  private val bpeMergesMemo = graft.SessionCache.values[String, Seq[(String, String)]]
  private[graft] def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesMemo.getOrElseUpdate(s, dir)(
      graft.functions.Bpe.train(
        Tables.documents(s, dir).select(col("text")), col("text"),
        numMerges = 256, maxWords = 65536))

  /** TRUE learned-BPE token counts (rows-only: the greedy merge loop
    * is not SQL-expressible) next to the two oracle-gated counts —
    * `n_bpe_learned ≤ n_bpe_pretokens·(maxlen+1)` by construction and
    * the compression it buys is floor-gated in QualityMetrics
    * (`bpe_compression`); exact encode behavior is pinned in BpeSpec
    * against the published Sennrich et al. 2016 example.
    */
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(s, dir)
    Tables.spread(Tables.documents(s, dir))
      .select(
        col("doc_id"),
        TextFns.bpeTokenCountLearned(col("text"), merges).cast(LongType)
          .as("n_bpe_learned"),
        TextFns.bpeTokenCount(col("text")).cast(LongType).as("n_pretokens"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language ID vs the labeled truth column. */
  def langGuess(s: SparkSession, dir: String): DataFrame =
    tokenizedDocs(s, dir)
      .select(
        col("doc_id"),
        TextFns.langGuessOf(col("__toks")).as("lang_guess"),
        col("lang").as("lang_true"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition quality metrics: duplicate-word ratio,
    * most-frequent-token fraction, duplicate-bigram ratio — the
    * filters that drop boilerplate/spam before near-dup detection even
    * runs. Execution shape: explode tokens/bigrams once, two-level
    * map-side-combinable aggregates (per (doc, gram) counts → per-doc
    * totals/max) — exact integer ratios, no HOF nesting, portable to
    * the oracle verbatim.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    // per-doc multiset stats fold map-side (plans/TokenStats) — the
    // former two explode → two-level groupBy pipelines (4 exchanges)
    // are now two struct columns in the scan projection; the ratios
    // are the same post-aggregation arithmetic as before
    def stats(toks: org.apache.spark.sql.Column) =
      ColumnBridge.column(graft.plans.TokenStats(ColumnBridge.expression(toks)))
    tokenizedDocs(s, dir)
      .select(col("doc_id"),
        stats(col("__toks")).as("w"),
        stats(TextFns.wordShinglesOf(col("__toks"), 2)).as("b"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"),
        col("w.n").as("n_tokens"), col("w.d").as("n_distinct"),
        round(lit(1.0) - col("w.d").cast(DoubleType) / col("w.n"), 6).as("dup_word_ratio"),
        round(col("w.top").cast(DoubleType) / col("w.n"), 6).as("top_word_ratio"),
        round(lit(1.0) - col("b.d").cast(DoubleType) / col("b.n"), 6).as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Content-hash stable sampling + train/val/test split: md5-driven,
    * so membership is reproducible across runs/engines and stable
    * under re-ingestion (id- and order-independent). Portable oracle:
    * md5 is md5 everywhere; the split is lexicographic hex compare.
    */
  def docSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.contentHash(col("text")).as("content_md5"),
        TextFns.stableSample(col("text"), "29").as("in_sample"),
        TextFns.stableSplit(col("text")).as("split"))
      .orderBy(col("doc_id"))

  /** Token-count-weighted sample of 50 documents without replacement
    * (Efraimidis–Spirakis order sampling; weight = n_tokens + 1 so
    * empty docs keep a nonzero draw, clamped at
    * [[graft.operators.Packing.MaxSampleWeight]] so a pathological
    * ≥1e6-token doc ties at max weight instead of tripping the
    * in-plan range guard — the clamp is mirrored in the oracle SQL,
    * keeping the key a shared pure function) — the deterministic
    * quality-weighted subsample step. Hash-gated: the hash-uniform,
    * ln-key micro-rounding, top-K cut and tiebreak all restate in
    * DuckDB.
    */
  def weightedSampleQ(s: SparkSession, dir: String): DataFrame = {
    val staged = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast(LongType).as("n_tokens"))
    graft.operators.Packing.weightedSample(
      staged, col("doc_id"),
      least(col("n_tokens") + 1,
        lit(graft.operators.Packing.MaxSampleWeight.toLong)), k = 50)
      .select(col("doc_id"), col("n_tokens"), col("key_micro"))
      .orderBy(col("doc_id"))
  }

  /** Sharded sequence packing at a 2048-token budget over 8 shards:
    * per-shard windowed cumulative token counts — no global window.
    */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val staged = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("__n"))
    graft.operators.Packing.packByTokenBudget(
      staged, col("doc_id"), col("__n"), budget = 2048, nShards = 8)
      .select(col("doc_id"), col("shard").cast(LongType).as("shard"),
        col("n_tokens"), col("cum_tokens"), col("chunk_id"))
      .orderBy(col("doc_id"))
  }

  /** Epoch-seeded reproducible training order
    * ([[graft.operators.Packing.deterministicShuffle]]): every doc's
    * (shard, pos) under seed "epoch-0", hash-gated — the oracle
    * restates the md5 ordering, shard mod, and per-shard rank, so the
    * whole training order (not just membership) is checked.
    */
  def shardShuffle(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.deterministicShuffle(
      Tables.spread(Tables.documents(s, dir)).select(col("doc_id")),
      col("doc_id"), nShards = 8, seed = "epoch-0")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  /** Train/test decontamination: near-duplicate pairs (trigram Jaccard
    * ≥ 0.5) that CROSS the content-hash split boundary — the leakage a
    * training pipeline must catch before evaluation means anything.
    * Composes the gated pair generation with the gated split; fully
    * oracle-stated.
    */
  def decontamination(s: SparkSession, dir: String): DataFrame = {
    val pairs = ngramPairs05(s, dir)
    val splits = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.stableSplit(col("text")).as("split"))
    pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("split_a"), col("id_b"), col("split_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Verbatim-leakage decontamination: train-split docs sharing an
    * exact 8-token gram with the val/test splits, found through the
    * Bloom-prefilter + exact-confirm pipeline ([[Decontam]]) — the
    * Bloom stage changes where work happens (codegen'd pre-shuffle
    * prune), never the answer, so the oracle states the plain exact
    * semantics: distinct train grams ∩ distinct holdout grams, counted
    * per doc.
    */
  def decontamGrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decontam.leakedGrams(
      tokenizedDocs(s, dir).select(col("doc_id"), col("__toks"),
        TextFns.stableSplit(col("text")).as("split")),
      k = 8)
      .orderBy(col("doc_id"))

  /** Partial-copy decontamination ([[graft.operators.Decontam
    * .winnowLeaks]]): train docs sharing ≥5 distinct winnowing
    * fingerprints with val/test after corpus-docfreq boilerplate
    * exclusion (≤10 docs) — fires on any ≥17-char normalized
    * substring match, catching the partially-edited leak the exact
    * 8-token filter (`decontam_grams`) misses once one word changes
    * per gram. The Bloom stage moves work (codegen'd pre-shuffle
    * prune), never the answer; the oracle states the plain exact
    * semantics over the winnow CTE.
    */
  def decontamWinnow(s: SparkSession, dir: String): DataFrame =
    graft.operators.Decontam.winnowLeaks(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextFns.stableSplit(col("text")).as("split")),
      col("text"), k = 8, w = 10, minShared = 5, maxDocFreq = 10)
      .orderBy(col("doc_id"))

  /** Mixture-sampling accounting: temperature-0.5 source weighting
    * toward a 12k-token budget ([[Corpus.mixtureRates]]), per-source
    * docs/tokens in vs kept. The kept set is decided per doc by the
    * content-hash acceptance threshold, so the accounting hashes the
    * whole sampling decision — rates, thresholds, and membership —
    * not just the rate arithmetic.
    */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val docs = tokenizedDocs(s, dir)
      .select(col("doc_id"), col("text"), col("source"),
        size(col("__toks")).cast(LongType).as("__n"))
    val rates = graft.pipelines.Corpus.mixtureRates(
      docs.select(col("source"), col("__n")), budget = 12000L)
    val kept = docs
      .join(broadcast(rates.select(col("source"), col("rate"))), "source")
      .filter(graft.pipelines.Corpus.mixtureAccept(col("text"), col("rate")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("__n")).as("tokens_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("docs_in"), col("tokens_in"), col("rate"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
      .orderBy(col("source"))
  }

  // ---- similarity --------------------------------------------------

  /** One exact Lloyd iteration from deterministic seeds (vec_id < 8 as
    * centroids — the semantic_dedup seeding convention): the
    * hash-gated twin of the floor-gated ml.KMeans trainer. See
    * [[graft.operators.Similarity.kmeansStep]].
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.kmeansStep(emb,
      emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid")))
  }

  /** Cluster-balanced diverse sample (the D4 "diversify" stage):
    * nearest-centroid assignment from the semantic_dedup seeding
    * convention (vec_id < 8 as centroids), then a fixed 20-vector
    * quota per cluster in deterministic md5 order. Hash-gated — the
    * assignment math shares [[kmeansStep]]'s oracle restatement.
    */
  def diverseSampleQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.diverseSample(emb,
      emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid")),
      quota = 20)
  }

  /** Exact cosine top-5 for the first 10 vectors as probes. */
  def knnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Similarity.bruteForceTopK(q, c, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Sign-LSH multi-probe approximate top-5 (rows-only: xxhash64-based
    * hyperplanes). 8-bit sketch, probe distance 2.
    */
  def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    // 3 tables × 8 bits from one 24-bit native sketch: per-table
    // recall ~0.62 (the round-8 single-table figure) amplifies to
    // ~1-(1-0.62)^3 ≈ 0.95 unioned, still all equi-joins
    Similarity.lshTopK(q, c, k = 5, bits = 8, probeDist = 3, tables = 3)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The k-means coarse quantizer, trained ONCE per (session, dir) —
    * the production IVF contract (a quantizer belongs to its corpus,
    * not to a query batch); re-training per query re-ran Lloyd's full
    * job set every call. 16 rows — the memo is the trained model, the
    * persisted size is trivial.
    */
  private val centsCache = graft.SessionCache.frames[String]
  private def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    centsCache.getOrElseUpdate(s, dir)(
      Similarity.kmeansCentroids(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        k = 16).localCheckpoint())

  /** IVF approximate top-5 over k-means-TRAINED coarse centroids with
    * nAssign = 2 multi-assignment — each corpus vector is indexed
    * under its two nearest lists, recovering the neighbors that sit
    * just across a Voronoi boundary from the probed cells (rows-only:
    * recall depends on the quantizer; recall@5 vs the brute-force twin
    * is floor-gated in QualityMetrics).
    */
  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Similarity.ivfTopKWithCentroids(q, c, ivfCentroids(s, dir), k = 5, nProbe = 6,
      nAssign = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Sign-LSH at probeDist = bits: the multi-probe expansion covers the
    * entire sketch space, so every (query, corpus) pair is a candidate
    * and the result provably equals brute force — which gives the
    * xxhash64 candidate-generation machinery (sketch, mask expansion,
    * equi-join) a REAL hash gate against the knn_bruteforce oracle.
    */
  def knnLshExact(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Similarity.lshTopK(q, c, k = 5, bits = 8, probeDist = 8)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF at nProbe = nCentroids: every query probes every inverted
    * list, so the union of probed lists is the whole corpus and the
    * result provably equals brute force — an oracle hash gate for the
    * coarse-quantize / assign / probe-equi-join machinery.
    */
  def knnIvfExact(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    Similarity.ivfTopK(q, c, k = 5, nCentroids = 16, nProbe = 16)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Winnowing fingerprint summary per document (k=8 char grams,
    * w=10 windows — sized so a fingerprint pins a ≥17-char normalized
    * phrase, discriminative on the small-vocabulary fixture text):
    * count/sum/min/max over the selected fingerprint hashes. The
    * aggregate pins the exact selected SET (count + sum + extremes
    * over 31-bit hashes leave no room for a different selection to
    * hash-collide), while keeping the gated output one row per doc.
    * The oracle recomputes gram hashes as a list_reduce fold and the
    * rightmost-min window selection as a windowed MIN over
    * (hash, −pos)-encoded keys — same semantics, different machinery.
    */
  def winnowFps(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 8, w = 10)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"),
        sum(col("fp")).as("fp_sum"),
        min(col("fp")).as("fp_min"),
        max(col("fp")).as("fp_max"))
      .orderBy(col("doc_id"))

  /** Partial-overlap pairs by shared winnowing fingerprints (MOSS
    * containment detection — the copied-paragraph signal whole-doc
    * hashing and Jaccard thresholds both miss). The doc-frequency cap
    * is doing real work on this corpus: at sf0.1 it drops the
    * template boilerplate fingerprints shared by >30 docs, leaving
    * only genuinely duplicated content in the pair set.
    */
  def winnowOverlapPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlap(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 8, w = 10,
        minShared = 5, maxDocFreq = 30)
      .orderBy(col("id_a"), col("id_b"))

  /** Duplicate-passage statistics at k=8 tokens — the exact-substring
    * dedup signal (verbatim boilerplate spans shared across docs).
    * Spark blocks on hashed grams (8-byte shuffle keys); the oracle
    * uses the gram strings — identical counts absent 2^64 collisions
    * (the same contract ngram_jaccard gates under).
    */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatePassageStatsOfTokens(
      tokenizedDocs(s, dir).select(col("doc_id"), col("__toks")), k = 8)
      .orderBy(col("doc_id"))

  /** Exact-substring span scrubbing gate — the Lee et al. 2021
    * ExactSubstr removal pass ([[Dedup.exactSubstrScrubOfTokens]]):
    * duplicated ≥8-token spans vanish from every occurrence but the
    * (doc_id, pos)-first one. Hash-gated end to end: the oracle
    * restates positioned grams, the first-occurrence rule, position
    * coverage, and the token splice, so the CLEANED TEXT itself (not
    * just counts) must match byte-for-byte.
    */
  def substrScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrScrubOfTokens(
      tokenizedDocs(s, dir).select(col("doc_id"), col("__toks")), k = 8)
      .orderBy(col("doc_id"))

  /** PII/noise scrubbing gate. The synthetic corpus contains no URLs,
    * emails or IPs, so the query plants them deterministically from
    * doc_id (the media queries' payload-from-id pattern): every doc
    * gets one URL + one email + one IPv4 appended, docs with
    * doc_id % 3 == 0 a second URL — exercising the replace-ALL
    * semantics (DuckDB needs the explicit 'g' flag). The oracle
    * restates the construction and the fused single-pass derivation
    * verbatim (one extract_all for the classified counts, one fused
    * replace for the scrub — see [[TextFns.piiPattern]]).
    */
  def textScrub(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val dirty = concat(
      col("text"),
      lit(" visit https://ex"), id, lit(".com/a?b="), id,
      lit(" mail u"), id, lit("@ex.org from 10.0."),
      (col("doc_id") % 256).cast("string"), lit(".7"),
      when(col("doc_id") % 3 === 0, lit(" http://dup.io/x")).otherwise(lit("")))
    // ONE exchange does double duty: range-partitioning on doc_id both
    // spreads the single-row-group scan across every core for the
    // regex stage AND establishes the output order — ordered range
    // partitions + a per-partition sort produce exactly the file
    // layout a global orderBy would (which is itself a range exchange
    // + local sort), without a second shuffle of the wide text rows.
    Tables.documents(s, dir)
      .select(col("doc_id"), dirty.as("__dirty"))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      // stage the fused-pattern match array ONCE per row (non-cheap +
      // multi-referenced, so CollapseProject keeps it separate) and
      // classify the short matches — 3 full-text regex traversals
      // total (extract_all, fused replace, \s+ collapse) vs 7 for the
      // count×3 + chained-replace form.
      .withColumn("__pii", TextFns.piiMatches(col("__dirty")))
      .select(col("doc_id"),
        TextFns.countUrlsOf(col("__pii")).as("n_urls"),
        TextFns.countEmailsOf(col("__pii")).as("n_emails"),
        TextFns.countIpsOf(col("__pii")).as("n_ips"),
        TextFns.scrubText(col("__dirty")).as("clean_text"))
      .withColumn("clean_chars", length(col("clean_text")).cast(LongType))
      .sortWithinPartitions(col("doc_id"))
  }

  /** Per-domain link statistics — the extraction dual of [[textScrub]]
    * (same planted-URL construction, small deterministic domain pool so
    * the aggregation is exercised): extract → explode → host → count
    * links and distinct linking docs per domain. The shape of a
    * web-corpus domain-blocklist/weighting pass.
    */
  def linkDomains(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val dirty = concat(col("text"),
      lit(" see https://d"), (col("doc_id") % 7).cast("string"),
      lit(".com/p/"), id,
      lit(" img http://cdn.d"), ((col("doc_id") * 3) % 7).cast("string"),
      lit(".com/i.png"))
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextFns.extractUrls(dirty)).as("url"))
      .select(col("doc_id"), TextFns.urlHost(col("url")).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("domain"))
  }

  /** Curation selection: the 5 highest-quality docs per source
    * (quality DESC, doc_id ASC — a total order, so both engines rank
    * identically on the round-6 score). Plans as WindowGroupLimit:
    * the rank<=k predicate is pushed into the shuffle so each
    * partition keeps a bounded candidate set — the "keep best N per
    * slice" pass runs on the full corpus without a global sort.
    */
  def qualityTopk(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    tokenizedDocs(s, dir)
      .select(col("source"), col("doc_id"),
        TextFns.qualityScoreOf(col("text"), col("__toks")).as("quality"))
      .withColumn("rk", rank().over(w).cast(LongType))
      .filter(col("rk") <= 5)
      .orderBy(col("source"), col("rk"))
  }

  /** Per-source percentile calibration of the heuristic quality score
    * (the FineWeb-style per-dump normalization: a raw score of 0.7
    * means different things in different crawls; its percentile
    * WITHIN the source is comparable across sources, so downstream
    * thresholds cut each source at the same quantile). Tie rows share
    * a rank (percent_rank semantics), so the result is deterministic
    * with no id tiebreak.
    *
    * The plain form — `percent_rank() OVER (PARTITION BY source ORDER
    * BY score)` — is exactly what the oracle states, but a window
    * partition is ONE task, and calibration runs on corpora where a
    * single source is half the data (the giant-source skew class).
    * The engine therefore computes the identical statistic through
    * [[graft.operators.Rankings.percentRankBucketed]]: coarse score
    * buckets → a groups·nBuckets cum-table → per-(source, bucket)
    * fine ranks, so a giant source runs as ~nBuckets parallel tasks
    * (window ≡ bucketed equivalence is spec-pinned in RankingsSpec).
    */
  def qualityPercentile(s: SparkSession, dir: String): DataFrame = {
    val staged = tokenizedDocs(s, dir)
      .select(col("source"), col("doc_id"),
        round(TextFns.qualityScoreOf(col("text"), col("__toks")) * 1e6)
          .cast(LongType).as("score_micro"))
    // releasable form + narrow result pin (the corpusPrepare
    // lifecycle): the scored projection is persisted WITH lineage
    // inside the operator (executor-loss-safe), evaluated once for
    // the cum-table AND the probe side, and its pin released as soon
    // as the narrow ranked result is materialized. persist, NOT
    // localCheckpoint (round-15): the ranked frame is one row per
    // input doc — corpus-sized at the 100 TB target — so truncated
    // lineage would make an executor loss fatal; persist keeps the
    // deterministic recompute path (the Corpus.prepare convention)
    val (ranked, release) = graft.operators.Rankings
      .percentRankBucketedReleasable(staged, "source", "score_micro")
    val out = ranked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize while the staged pin still serves
    release()
    out.orderBy(col("doc_id"))
  }

  /** Exact token-budget quality cut: keep the highest-quality docs
    * (heuristic [[TextFns.qualityScoreOf]], micro-rounded) until a
    * 10,000-token global budget under the (score DESC, doc_id ASC)
    * total order — cum-before rule, so the crossing doc fills the
    * budget. Hash-gated: the oracle restates the quality chain and
    * the global cumsum cut; the Spark side reaches the identical set
    * through [[graft.operators.Packing.budgetSelect]]'s bucketed
    * decomposition (no global sort).
    */
  def budgetSelectQ(s: SparkSession, dir: String): DataFrame = {
    val staged = tokenizedDocs(s, dir)
      .select(col("doc_id"),
        size(col("__toks")).cast(LongType).as("n_tokens"),
        round(TextFns.qualityScoreOf(col("text"), col("__toks")) * 1e6)
          .cast(LongType).as("score_micro"))
    // releasable form + narrow result checkpoint. localCheckpoint is
    // FINE here, unlike qualityPercentile/dsir (round-15 exemption,
    // argued with numbers): the kept set is BUDGET-bounded — at most
    // budget/1 ≈ 10k tokens of docs regardless of corpus size (the
    // crossing doc fills the budget), a bounded summary, not a
    // corpus-fraction — so truncated lineage risks re-running a
    // trivially small frame, and eager local materialization is the
    // cheaper lifecycle (no ContextCleaner dependency).
    val (kept, release) = graft.operators.Packing.budgetSelectReleasable(
      staged, "doc_id", "n_tokens", "score_micro", budget = 10000L)
    val out = kept.localCheckpoint()
    release()
    out.orderBy(col("doc_id"))
  }

  /** Context-window chunking (the split dual of [[seqPack]]):
    * 64-token windows every 48 tokens over each document — no shuffle,
    * pure per-row explode from the shared tokenized frame.
    */
  def docChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkByTokenWindow(
      tokenizedDocs(s, dir), col("doc_id"), col("__toks"),
      chunkSize = 64, stride = 48)
      .orderBy(col("id"), col("chunk_start"))

  // ---- corpus statistics ------------------------------------------

  /** Corpus vocabulary: top-50 tokens by frequency (count DESC, token
    * ASC total order) — the vocabulary-building / stopword-discovery
    * pass of a training pipeline. Exact integers; plans as a
    * distributed per-partition heap (TakeOrderedAndProject), never a
    * global sort.
    */
  def vocabTopk(s: SparkSession, dir: String): DataFrame =
    tokenizedDocs(s, dir)
      .select(explode(col("__toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)

  /** [[vocabTopk]] via the Misra–Gries exact-top-K composition
    * ([[graft.operators.HeavyHitters.exactTopK]]) — same answer,
    * hash-gated against the SAME exact oracle, but the scale path:
    * shuffle volume O(capacity·partitions) instead of one row per
    * distinct vocabulary item.
    */
  def vocabTopkMg(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.exactTopK(
      tokenizedDocs(s, dir).select(explode(col("__toks")).as("token")),
      col("token"), k = 50, capacity = 4096)
      .select(col("item").as("token"), col("n"))
      .orderBy(col("n").desc, col("token").asc)

  /** Per-source top-10 tokens via the GROUPED Misra–Gries composition
    * ([[graft.operators.HeavyHitters.exactTopKPerGroup]]) — per-group
    * mergeable summaries, distributed candidate recount, per-group
    * exactness certification; gated against a plain per-source
    * count + row_number oracle.
    */
  def sourceTopkMg(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.exactTopKPerGroup(
      tokenizedDocs(s, dir)
        .select(col("source"), explode(col("__toks")).as("token")),
      col("source"), col("token"), k = 10, capacity = 4096)
      .select(col("grp").as("source"), col("item").as("token"),
        col("n"), col("rnk"))
      .orderBy(col("source"), col("rnk"))

  /** Per-source document-length distribution: exact interpolated
    * percentiles of chars and tokens — the corpus-profiling pass that
    * sizes packing budgets and truncation limits. Both engines use the
    * same pos = p·(n−1) linear interpolation, so exact percentiles are
    * oracle-portable (round 6 absorbs last-ulp arithmetic). This is
    * the gated ground-truth twin of the `percentile_approx` sketch
    * (the 100 TB path — fixed-size KLL-style state per group instead
    * of a per-group value multiset; bounded-error spec in SketchSpec).
    */
  def lengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    val d = tokenizedDocs(s, dir)
      .select(col("source"), col("n_chars"),
        size(col("__toks")).cast(LongType).as("n_toks"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
          .as("mean_chars"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"),
        round(percentile(col("n_chars"), lit(0.9)), 6).as("p90_chars"),
        round(percentile(col("n_chars"), lit(0.99)), 6).as("p99_chars"),
        round(percentile(col("n_toks"), lit(0.5)), 6).as("p50_toks"),
        round(percentile(col("n_toks"), lit(0.9)), 6).as("p90_toks"))
      .orderBy(col("source"))
  }

  /** Exact per-source token cardinality — the ground truth
    * [[tokenHll]]'s sketches approximate; both gated surfaces of the
    * same pipeline decision (when is a corpus slice worth keeping).
    */
  def distinctTokens(s: SparkSession, dir: String): DataFrame =
    tokenizedDocs(s, dir)
      .select(col("source"), explode(col("__toks")).as("token"))
      .groupBy(col("source"))
      .agg(countDistinct(col("token")).as("n_distinct"),
        count(lit(1)).as("n_tokens"))
      .orderBy(col("source"))

  /** Mergeable distinct-count sketches (rows-only: HLL binary layout
    * is engine-specific): per-source Datasketches HLL over tokens,
    * plus the UNION row merged from the per-source sketches — the
    * 100 TB shape, where per-partition/per-day sketch columns are
    * tiny, map-side-combinable partial aggregates that merge across
    * any grouping without rescanning the corpus. Accuracy vs the
    * exact twin is spec-gated (≤5% relative error, union ≥ max part).
    */
  def tokenHll(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenizedDocs(s, dir)
      .select(col("source"), explode(col("__toks")).as("token"))
    val per = toks.groupBy(col("source"))
      .agg(hll_sketch_agg(col("token")).as("__sk"))
    val union = per.agg(hll_union_agg(col("__sk")).as("__sk"))
      .select(lit("__union__").as("source"), col("__sk"))
    per.unionByName(union)
      .select(col("source"),
        hll_sketch_estimate(col("__sk")).as("approx_distinct"))
      .orderBy(col("source"))
  }

  /** Corpus-wide exact distinct-token count (spec support for the HLL
    * union accuracy gate).
    */
  private[queries] def exactDistinctTokens(s: SparkSession, dir: String): Long =
    tokenizedDocs(s, dir).select(explode(col("__toks")).as("token"))
      .agg(countDistinct(col("token")).as("n")).collect()(0).getLong(0)

  /** Per-vector int8 quantization summary — scale and the quantized
    * values' sum/min/max. Every number is deterministic double/integer
    * arithmetic (max |x|, scaled rounding), so the whole quantize path
    * is oracle-stated.
    */
  def embedQuant(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("__q"))
      .select(col("vec_id"),
        round(col("__q").getField("scale"), 6).as("scale"),
        aggregate(col("__q").getField("q"), lit(0L),
          (a, v) => a + v.cast(LongType)).as("q_sum"),
        array_min(col("__q").getField("q")).cast(LongType).as("q_min"),
        array_max(col("__q").getField("q")).cast(LongType).as("q_max"))
      .orderBy(col("vec_id"))

  /** Embedding near-dup pairs, label-blocked (IVF-coarse pattern),
    * cosine ≥ 0.4.
    */
  def embedNeardup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsBlocked(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), col("label"), threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  /** Semantic cross-split decontamination over the embeddings table:
    * every 97th vector plays the holdout (benchmark) split, the rest
    * the training corpus; a training vector is flagged dropped when
    * its cosine to the nearest holdout vector reaches 0.8. HASH-GATED
    * end to end — nearest-holdout argmax (incl. the higher-id tie
    * rule of [[graft.plans.IvfAssign]]), the 6dp cosine rounding, and
    * the kept flag all restate in SQL.
    */
  def semanticDecontamQ(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.semanticDecontam(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0), eps = 0.8)
      .orderBy(col("vec_id"))
  }

  /** SemDeDup over the embeddings table with a DETERMINISTIC coarse
    * quantizer (the first 8 vectors as centroids) so the WHOLE
    * decision — assignment argmax incl. the higher-id tie rule,
    * within-cluster pair generation, duplicate-group closure, and the
    * lowest-centroid-similarity keep rule — is restated by the DuckDB
    * oracle and hash-checked. Production runs swap in
    * [[Similarity.kmeansCentroids]] (same operator, trained
    * quantizer — the knn_ivf / knn_ivf_exact gating pattern).
    */
  private val semCache = graft.SessionCache.frames[String]

  def semanticDedupQ(s: SparkSession, dir: String): DataFrame =
    semCache.getOrElseUpdate(s, dir) {
      // Releasable form, memoized (M7): the decision frame is a
      // corpus-level artifact like the BPE merges or ngramPairs05 —
      // deterministic per (session, dir) — so it is computed once,
      // the NARROW result (no vectors) persisted with lineage, and
      // the corpus-sized vector-carrying scored pin released as soon
      // as the result is materialized. Without the release, the pin
      // (the exact leak class semanticDedupReleasable exists for)
      // lived until application end.
      val (dec, release) = Similarity.semanticDedupReleasable(
        Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"),
            col("embedding").as("centroid")),
        eps = 0.4)
      val out = dec.persist()
      out.count() // materialize while the scored pin still serves
      release()
      out
    }.orderBy(col("vec_id"))

  /** The PRODUCTION SemDeDup path — [[semanticDedupQ]]'s twin with the
    * quantizer trained at [[Similarity.autoCentroidCount]] size
    * (corpus/128 clamped, k-means||-seeded Lloyd) instead of the
    * fixed 8-vector gate quantizer. Rows-only gated (no portable
    * oracle can restate a trained quantizer); its VALUES gate is the
    * `semantic_dedup_auto_fit_ratio` QUALITY floor ≥ 1.0 — quantizer
    * FITNESS (mean vector-to-assigned-centroid cosine, the k-means
    * objective) of the trained quantizer relative to the fixed
    * 8-seed twin, the quantity an untrained/garbage/dead-centroid
    * trainer regression collapses first (deliberately NOT a
    * pair-blocking recall — see [[QualityMetrics]] for why recall
    * falls mechanically with the sizing rule at ×R).
    * Same memoized releasable lifecycle as the fixed twin.
    */
  private val semAutoCache = graft.SessionCache.frames[String]

  def semanticDedupAutoQ(s: SparkSession, dir: String): DataFrame =
    semAutoCache.getOrElseUpdate(s, dir) {
      val emb = Tables.embeddings(s, dir)
      // trained once per (session, dir) — a quantizer is a corpus
      // artifact; nCentroids-row result, checkpoint is trivial
      val cents = Similarity.kmeansCentroidsAuto(
        emb.select(col("embedding"))).localCheckpoint()
      val (dec, release) = Similarity.semanticDedupReleasable(
        emb, cents, eps = 0.4)
      val out = dec.persist()
      out.count() // materialize while the scored pin still serves
      release()
      out
    }.orderBy(col("vec_id"))

  /** End-to-end corpus preparation ([[graft.pipelines.Corpus.prepare]])
    * surfaced as per-stage accounting: input size, survivors after
    * exact dedup / near-dup pruning / the quality floor, split sizes,
    * and the packed-chunk totals. Every stage is an operator the
    * oracle already gates individually (dedup_exact, ngram_jaccard +
    * dedup_components, text_stats, doc_sample, seq_pack); the oracle
    * here restates the whole composition as one CTE chain, so stage
    * wiring bugs (e.g. pruning against the wrong survivor set) hash-
    * mismatch even though each piece is green on its own.
    */
  def corpusPrepare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val (prepared, stats, release) = Corpus.prepare(docs)
    // three aggregates consume the prepared frame; checkpoint a
    // NARROW projection once (no text column) so the pipeline's
    // tokenize/quality/pack chain runs once, not per consumer
    val packed = prepared.select("split", "shard", "n_tokens", "chunk_id")
      .localCheckpoint()
    // the eager checkpoint above materialized the whole pipeline —
    // the staged token/decontam pins are now dead weight; release
    // them so repeated calls (Bench steady passes) don't accumulate
    // corpus-sized cached blocks
    release()
    val stages = Seq(
      ("1_input", stats.input),
      ("2_exact_survivors", stats.afterExact),
      ("3_neardup_survivors", stats.afterNearDup),
      ("4_quality_survivors", stats.afterQuality)).toDF("stage", "n")
    val splits = packed
      .groupBy(concat(lit("5_split_"), col("split")).as("stage"))
      .agg(count(lit(1)).as("n"))
    val chunks = packed
      .agg(countDistinct(col("shard"), col("chunk_id")).as("n"))
      .select(lit("6_packed_chunks").as("stage"), col("n"))
    val toks = packed.agg(sum(col("n_tokens")).as("n"))
      .select(lit("7_packed_tokens").as("stage"), col("n"))
    stages.unionByName(splits).unionByName(chunks).unionByName(toks)
      .orderBy(col("stage"))
  }

  /** [[corpusPrepare]] with the EMBEDDING-LEVEL stages composed in —
    * the full curation story a 100 TB run wants as ONE accounted
    * pipeline: exact dedup → lexical near-dup prune → SemDeDup over
    * the survivors' embeddings (deterministic first-8-vector
    * quantizer, eps 0.4 — the `semantic_dedup` gate convention) →
    * quality floor → stable split → semantic benchmark
    * decontamination (every-97th-vector holdout, eps 0.8 — the
    * `semantic_decontam` convention) → token-budget packing. Each
    * stage is the operator its standalone oracle already gates; THIS
    * oracle restates the whole composition as one CTE chain, so
    * survivor-set chaining bugs (e.g. semantic dedup scoring
    * non-survivors, decontam running before the quality floor it
    * documents) hash-fail even when each stage is individually
    * correct. Production swaps the fixed quantizer for
    * [[graft.operators.Similarity.kmeansCentroidsAuto]] and the
    * fixture holdout for a real eval set (same operator, same plan).
    */
  def corpusPrepareSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(s, dir)
    val (prepared, stats, release) = Corpus.prepare(docs,
      embeddings = emb,
      semanticEps = 0.4,
      semanticCentroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid")),
      decontamHoldout = emb.filter(col("vec_id") % 97 === 0),
      decontamEps = 0.8)
    val packed = prepared.select("split", "shard", "n_tokens", "chunk_id")
      .localCheckpoint()
    release()
    val stages = Seq(
      ("1_input", stats.input),
      ("2_exact_survivors", stats.afterExact),
      ("3_neardup_survivors", stats.afterNearDup),
      ("4_semantic_survivors", stats.afterSemantic),
      ("5_quality_survivors", stats.afterQuality),
      ("6_decontam_survivors", stats.afterDecontam)).toDF("stage", "n")
    val splits = packed
      .groupBy(concat(lit("7_split_"), col("split")).as("stage"))
      .agg(count(lit(1)).as("n"))
    val chunks = packed
      .agg(countDistinct(col("shard"), col("chunk_id")).as("n"))
      .select(lit("8_packed_chunks").as("stage"), col("n"))
    val toks = packed.agg(sum(col("n_tokens")).as("n"))
      .select(lit("9_packed_tokens").as("stage"), col("n"))
    stages.unionByName(splits).unionByName(chunks).unionByName(toks)
      .orderBy(col("stage"))
  }

  /** Frozen quality-classifier artifact: d=64 hashed-feature logistic
    * weights distilled from the heuristic quality score on the fixture
    * corpus (label = score ≥ corpus median) by
    * [[graft.tools.TrainQuality]] — the shipped-model workflow: train
    * once, freeze the coefficients into the pipeline, score at corpus
    * scale with constants. Both gated queries and their DuckDB oracles
    * restate these SAME literals, so the gate checks the portable
    * feature hash, the fold, the sigmoid, and the Pareto rule — the
    * machinery every deployment reuses with its own weights.
    */
  private[queries] object FrozenQualityModel {
    val W: Array[Double] = Array(
      -1.047824465423947, -0.6557303889176713, 0.0, 0.0,
      0.0, -1.1266727384385893, 0.0, 0.0,
      0.0, 0.0, 0.7339192352773269, 0.0,
      -0.6665346389944373, 0.5512796429735531, -0.9387557152160166, 0.0,
      0.0, 0.0, 0.0, -0.6990386477818396,
      0.0, 0.0, 0.5549763084561419, -0.6066308746519418,
      0.0, -0.5307710826560892, 0.0, -0.031197832513810198,
      0.0, 0.0, 0.3641766928398944, -0.23700361561508376,
      -0.26246638740993294, 0.0, 0.0, 0.0,
      0.170635422958701, 0.0, 0.0, -1.2597315822126054,
      0.0, -0.6889285242591026, 0.0, 0.0,
      0.0, 2.633828154300574, 0.0, 0.0,
      0.5878313975185464, 0.30662148217631013, 0.0, 0.0,
      0.0, 0.0, 0.0, -1.9642334922216946,
      -0.8029027750067275, 3.9147480934200742, 0.04896045526566972, 0.0,
      0.0, 0.6087566536381719, 0.0, 0.0)
    val B: Double = -17.38257113448696
    val Alpha: Double = 9.0
  }

  /** Model-based quality scores under the frozen classifier
    * ([[graft.operators.QualityClassifier]]): one per-row fold, zero
    * shuffles before the presentation sort.
    */
  def qualityModelScore(s: SparkSession, dir: String): DataFrame =
    // session-cached staged tokens (M7): the score reads __toks, so
    // the tokenization regex chain never re-runs for this query
    tokenizedDocs(s, dir)
      .select(col("doc_id"),
        round(graft.operators.QualityClassifier.score(
          col("__toks"),
          FrozenQualityModel.W, FrozenQualityModel.B), 6).as("model_score"))
      .orderBy(col("doc_id"))

  /** GPT-3's Pareto-threshold acceptance over the frozen classifier
    * score, accounted per source — the learned-filter twin of
    * `corpus_mix`'s acceptance accounting. The keep decision compares
    * UNROUNDED score against the content-deterministic Pareto draw on
    * both engines.
    */
  def qualityModelFilter(s: SparkSession, dir: String): DataFrame = {
    val m = FrozenQualityModel
    tokenizedDocs(s, dir)
      .select(col("source"), col("text"),
        graft.operators.QualityClassifier.score(
          col("__toks"), m.W, m.B).as("__s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_in"),
        sum(graft.operators.QualityClassifier
          .paretoKeep(col("text"), col("__s"), m.Alpha)
          .cast("long")).as("docs_kept"))
      .orderBy(col("source"))
  }

  /** Self-perplexity frame (doc_id, n_bigrams, ppl) at v = 256,
    * persisted and memoized per (session, dir): BOTH lm_perplexity
    * and ppl_buckets score the identical model over the identical
    * corpus, and the bigram training aggregation is the text family's
    * second-heaviest stage after pair generation. The bigram-row-sized
    * staging pin is released as soon as this narrow result
    * materializes (the [[graft.operators.LanguageModel
    * .selfPerplexityReleasable]] contract).
    */
  private val pplCache = graft.SessionCache.frames[String]

  private def selfPpl(s: SparkSession, dir: String): DataFrame =
    pplCache.getOrElseUpdate(s, dir) {
      val (df, release) = graft.operators.LanguageModel
        .selfPerplexityReleasable(
          tokenizedDocs(s, dir).select(col("doc_id"), col("__toks")), v = 256)
      val out = df.persist()
      out.count() // materialize while the bigram pin still serves
      release()
      out
    }

  /** CCNet-style language-model fluency signal: per-doc bigram
    * perplexity under a vocab-capped Laplace bigram model trained on
    * the corpus itself ([[graft.operators.LanguageModel]]). The
    * oracle restates the WHOLE model — deterministic top-256 vocab,
    * `<unk>` folding, bigram-start counts, smoothing arithmetic, and
    * the exact micro-nat log accumulation — so training and scoring
    * hash together.
    */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame =
    selfPpl(s, dir).orderBy(col("doc_id"))

  /** CCNet's head/middle/tail corpus partition: exact-tercile cutoffs
    * of the bigram-LM perplexity, then a map-side bucket assignment —
    * the cutoffs are a 1-row broadcast (the `block_by_time` cross-join
    * pattern), so the corpus is never shuffled to be bucketed. Only
    * bucket MEMBERSHIP is gated (counts + per-bucket min/max ppl);
    * the interpolated cutoffs stay internal, where a last-ulp
    * cross-engine difference cannot flip any 1e-6-grid ppl value
    * across a cutoff that is either exactly a data point or ≥3e-7
    * from one.
    */
  def pplBuckets(s: SparkSession, dir: String): DataFrame = {
    // feeds cutoffs AND assignment — already persisted by the shared
    // per-(session, dir) memo, so no extra checkpoint here
    val pp = selfPpl(s, dir).select(col("doc_id"), col("ppl"))
    val cut = pp.agg(
      percentile(col("ppl"), lit(1.0 / 3.0)).as("__c1"),
      percentile(col("ppl"), lit(2.0 / 3.0)).as("__c2"))
    pp.crossJoin(broadcast(cut))
      .withColumn("bucket",
        when(col("ppl") <= col("__c1"), "head")
          .when(col("ppl") <= col("__c2"), "middle")
          .otherwise("tail"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("ppl")), 6).as("lo_ppl"),
        round(max(col("ppl")), 6).as("hi_ppl"))
      .orderBy(col("bucket"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_prepare" -> (corpusPrepare _),
    "corpus_prepare_semantic" -> (corpusPrepareSemantic _),
    "dedup_exact" -> (dedupExact _),
    "ngram_jaccard" -> (ngramJaccard _),
    "minhash_pairs" -> (minhashPairs _),
    "minhash_indexed" -> (minhashIndexed _),
    "simhash_pairs" -> (simhashPairs _),
    "text_stats" -> (textStats _),
    "bpe_tokens" -> (bpeTokens _),
    "lang_guess" -> (langGuess _),
    "kmeans_step" -> (kmeansStep _),
    "diverse_sample" -> (diverseSampleQ _),
    "knn_bruteforce" -> (knnBruteforce _),
    "knn_lsh" -> (knnLsh _),
    "knn_ivf" -> (knnIvf _),
    "knn_lsh_exact" -> (knnLshExact _),
    "knn_ivf_exact" -> (knnIvfExact _),
    "embed_neardup" -> (embedNeardup _),
    "semantic_decontam" -> (semanticDecontamQ _),
    "dedup_components" -> (dedupComponents _),
    "dedup_components_dist" -> (dedupComponentsDist _),
    "embed_quant" -> (embedQuant _),
    "doc_sample" -> (docSample _),
    "weighted_sample" -> (weightedSampleQ _),
    "seq_pack" -> (seqPack _),
    "shard_shuffle" -> (shardShuffle _),
    "decontamination" -> (decontamination _),
    "decontam_grams" -> (decontamGrams _),
    "decontam_winnow" -> (decontamWinnow _),
    "corpus_mix" -> (corpusMix _),
    "text_repetition" -> (textRepetition _),
    "vocab_topk" -> (vocabTopk _),
    "vocab_topk_mg" -> (vocabTopkMg _),
    "source_topk_mg" -> (sourceTopkMg _),
    "distinct_tokens" -> (distinctTokens _),
    "token_hll" -> (tokenHll _),
    "dup_spans" -> (dupSpans _),
    "substr_scrub" -> (substrScrub _),
    "winnow_fps" -> (winnowFps _),
    "winnow_overlap" -> (winnowOverlapPairs _),
    "text_scrub" -> (textScrub _),
    "length_quantiles" -> (lengthQuantiles _),
    "link_domains" -> (linkDomains _),
    "doc_chunks" -> (docChunks _),
    "quality_topk" -> (qualityTopk _),
    "budget_select" -> (budgetSelectQ _),
    "quality_percentile" -> (qualityPercentile _),
    "quality_model_score" -> (qualityModelScore _),
    "quality_model_filter" -> (qualityModelFilter _),
    "semantic_dedup" -> (semanticDedupQ _),
    "semantic_dedup_auto" -> (semanticDedupAutoQ _),
    "lm_perplexity" -> (lmPerplexity _),
    "ppl_buckets" -> (pplBuckets _))

  /** DuckDB expression mirroring [[TextFns.normText]]. DuckDB's
    * regexp_replace needs the explicit 'g' flag (Spark's replaces all
    * occurrences by default).
    */
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** DuckDB expression mirroring [[TextFns.tokens]]. */
  private val toksSql =
    s"list_filter(string_split($normSql, ' '), x -> x <> '')"

  private def markerList(lang: String): String =
    TextFns.LangMarkers.toMap.apply(lang).map(w => s"'$w'").mkString("[", ",", "]")

  private val stopList: String =
    TextFns.StopWords.map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB left-fold dot product over `a`·`b` matching the Spark
    * zip_with+aggregate fold order (0.0 + p1 + p2 + …, which is
    * IEEE-identical to DuckDB's list_reduce p1 + p2 + … seed fold).
    */
  /** Shared DuckDB CTE chain for the bigram-LM oracles, ending in
    * `pp(doc_id, n_bigrams, ppl)` — the exact restatement of
    * [[graft.operators.LanguageModel.selfPerplexity]] at v = 256
    * (deterministic vocab, `<unk>` fold, bigram-start counts, Laplace
    * smoothing, micro-nat integer log accumulation).
    */
  private def lmPplCteSql: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |u AS (SELECT unnest(toks) AS token FROM t),
       |voc AS (SELECT token FROM (
       |  SELECT token, COUNT(*) AS c FROM u GROUP BY token
       |  ORDER BY c DESC, token ASC LIMIT 256)),
       |tok0 AS (SELECT doc_id, unnest(
       |  [{'o': i, 't': toks[i]} for i in range(1, len(toks) + 1)]) AS s
       |  FROM t),
       |tok AS (SELECT tok0.doc_id, s.o AS ord,
       |        COALESCE(v.token, '<unk>') AS w
       |        FROM tok0 LEFT JOIN voc v ON s.t = v.token),
       |bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
       |       FROM tok a JOIN tok b
       |       ON a.doc_id = b.doc_id AND b.ord = a.ord + 1),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
       |lp AS (SELECT bg.doc_id,
       |  CAST(round(ln((c2.c2 + 1.0) / (c1.c1 + 257.0)) * 1000000) AS BIGINT) AS lpm
       |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
       |pp AS (SELECT doc_id, COUNT(*) AS n_bigrams,
       |  round(exp(-(CAST(SUM(lpm) AS DOUBLE) / 1000000.0) / COUNT(*)), 6) AS ppl
       |  FROM lp GROUP BY doc_id)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** Shared DuckDB CTE body for the winnowing oracles, ending in
    * `wsel(doc_id, pos, fp)` — the selected fingerprint set at
    * (k, w). Restates [[graft.plans.WinnowFingerprints]] through
    * DIFFERENT machinery: gram hashes as an explicit list_reduce
    * polynomial fold (the expression rolls), rightmost-min window
    * selection as a windowed MIN over `hash·2^27 + (2^27−1 − pos)`
    * keys (the expression scans each window) — min key ⇒ min hash,
    * ties ⇒ max pos. Only full windows start a selection
    * (`pos ≤ greatest(0, n_grams − w)`); a doc shorter than one
    * window degenerates to a single global window on both sides.
    */
  private def winnowCteSql(k: Int, w: Int): String =
    s"""wnorm AS (SELECT doc_id, $normSql AS n FROM documents),
       |wgrams AS (
       |  SELECT doc_id, p.p AS pos,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(p.p + 1, p.p + $k),
       |          i -> CAST(unicode(substring(n, CAST(i AS INT), 1)) AS BIGINT))),
       |      (a, c) -> (a * 257 + c) % 2147483647) AS h,
       |    length(n) - ${k - 1} AS n_grams
       |  FROM wnorm, LATERAL (SELECT unnest(generate_series(0, length(n) - $k)) AS p) p
       |  WHERE length(n) >= $k),
       |wkeyed AS (
       |  SELECT doc_id, pos, n_grams,
       |    h * 134217728 + (134217727 - pos) AS key
       |  FROM wgrams),
       |wsel AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(134217727 - (mk % 134217728) AS BIGINT) AS pos,
       |    CAST(mk // 134217728 AS BIGINT) AS fp
       |  FROM (
       |    SELECT doc_id, pos, n_grams,
       |      min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |                     ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mk
       |    FROM wkeyed) w
       |  WHERE pos <= greatest(0, n_grams - $w))""".stripMargin

  /** Shared DuckDB CTE body: word-trigram near-dup pairs at θ=0.5
    * (freq-capped shingle blocking), ending in `pairs(id_a, id_b,
    * jaccard)` — consumed by ngram_jaccard and dedup_components.
    */
  private val ngramCteSql: String = ngramCteSqlOver("documents")

  /** [[ngramCteSql]] over an arbitrary (doc_id, text) relation — the
    * corpus_prepare oracle re-derives the pair frame over exact-dedup
    * survivors instead of the full table.
    */
  private def ngramCteSqlOver(from: String): String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM $from),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
       |    END)) AS gram
       |  FROM t),
       |kept AS (SELECT g.* FROM grams g
       |         JOIN (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= 1000) f
       |         USING (gram)),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
       |          FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
       |  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)""".stripMargin

  /** Exact cosine top-5 oracle — shared by knn_bruteforce and the
    * degenerate-exact LSH/IVF gates.
    */
  private val knnExactSql: String =
    s"""WITH e AS (SELECT vec_id, embedding AS v,
       |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, v AS cv, nrm AS cn FROM e),
       |s AS (SELECT query_id, neighbor_id,
       |  round(CASE WHEN qn * cn = 0 THEN 0.0
       |             ELSE ${dotSql("qv", "cv")} / (qn * cn) END, 6) AS cos
       |  FROM q, c WHERE query_id <> neighbor_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                                   ORDER BY cos DESC, neighbor_id ASC) AS rank
       |      FROM s)
       |SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB restatement of the frozen-model margin over `toks`: the
    * md5-prefix feature hash ([[graft.operators.QualityClassifier
    * .hashBucket]]) and the 0.0-seeded fold with bias added outside
    * (IEEE-identical to Spark's `aggregate` — see [[dotSql]]). The
    * weight literals are the SAME constants [[FrozenQualityModel]]
    * compiles in; `::DOUBLE[]` forces double semantics (bare decimal
    * literals would fold in DECIMAL).
    */
  private val qmWeightsSql: String =
    FrozenQualityModel.W.mkString("[", ", ", "]::DOUBLE[]")

  private def qmScoreSql(toks: String): String = {
    val b = FrozenQualityModel.B
    val fold = s"list_reduce(list_transform($toks, t -> ws[" +
      s"(CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 64)::INT + 1])," +
      " (x, y) -> x + y)"
    s"1.0 / (1.0 + exp(-(CASE WHEN len($toks) = 0 THEN $b " +
      s"ELSE $b + $fold END)))"
  }

  val oracles: Map[String, String] = Map(
    "quality_model_score" ->
      s"""WITH w AS (SELECT $qmWeightsSql AS ws),
         |t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id, round(${qmScoreSql("toks")}, 6) AS model_score
         |FROM t, w ORDER BY doc_id""".stripMargin,
    "quality_model_filter" ->
      s"""WITH w AS (SELECT $qmWeightsSql AS ws),
         |t AS (SELECT source, text, $toksSql AS toks FROM documents),
         |s AS (SELECT source, ${qmScoreSql("toks")} AS sc,
         |  (CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) + 1.0)
         |    / 4294967296.0 AS u
         |  FROM t, w)
         |SELECT source, COUNT(*) AS docs_in,
         |  CAST(COALESCE(SUM(CASE WHEN pow(u, -1.0 / 9.0) - 1.0 > 1.0 - sc
         |                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_kept
         |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "quality_topk" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, source, text,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END AS awl,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, w -> list_contains($stopList, w))) AS DOUBLE) / len(toks) END AS sr
         |  FROM t),
         |q AS (SELECT doc_id, source,
         |  round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
         |      + (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
         |      + least(sr * 5.0, 1.0) * 0.2
         |      + greatest(0.0, 1.0 - pr * 4.0) * 0.2, 6) AS quality FROM m),
         |r AS (SELECT source, doc_id, quality,
         |  rank() OVER (PARTITION BY source
         |               ORDER BY quality DESC, doc_id ASC) AS rk FROM q)
         |SELECT source, rk, doc_id, quality FROM r
         |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    // the quality chain + percent_rank per source; ties share a rank,
    // so no id tiebreak is needed for determinism
    "quality_percentile" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, source, text,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END AS awl,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, w -> list_contains($stopList, w))) AS DOUBLE) / len(toks) END AS sr
         |  FROM t),
         |q AS (SELECT doc_id, source,
         |  CAST(round(round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
         |      + (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
         |      + least(sr * 5.0, 1.0) * 0.2
         |      + greatest(0.0, 1.0 - pr * 4.0) * 0.2, 6) * 1000000) AS BIGINT) AS score_micro
         |  FROM m)
         |SELECT source, doc_id, score_micro,
         |  CAST(round(percent_rank() OVER (PARTITION BY source
         |    ORDER BY score_micro) * 1000000) AS BIGINT) AS pctile_micro
         |FROM q ORDER BY doc_id""".stripMargin,
    // the same quality chain as quality_topk, then the global
    // cum-before cut the bucketed Spark decomposition must reproduce
    "budget_select" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, text, len(toks) AS n,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END AS awl,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, w -> list_contains($stopList, w))) AS DOUBLE) / len(toks) END AS sr
         |  FROM t),
         |q AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(round(round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
         |      + (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
         |      + least(sr * 5.0, 1.0) * 0.2
         |      + greatest(0.0, 1.0 - pr * 4.0) * 0.2, 6) * 1000000) AS BIGINT) AS score_micro
         |  FROM m),
         |c AS (SELECT doc_id, n_tokens, score_micro,
         |  SUM(n_tokens) OVER (ORDER BY score_micro DESC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM q)
         |SELECT doc_id, n_tokens, score_micro FROM c
         |WHERE cum - n_tokens < 10000 ORDER BY doc_id""".stripMargin,
    "doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |f AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
         |c AS (SELECT doc_id, toks,
         |  unnest(range(0, ((len(toks) - 1) // 48) * 48 + 1, 48)) AS s FROM f)
         |SELECT doc_id AS id, s AS chunk_start,
         |  LEAST(64, len(toks) - s) AS chunk_tokens,
         |  array_to_string(list_slice(toks, s + 1, s + 64), ' ') AS chunk_text
         |FROM c ORDER BY id, chunk_start""".stripMargin,
    "link_domains" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' see https://d' || CAST(doc_id % 7 AS VARCHAR)
        |       || '.com/p/' || CAST(doc_id AS VARCHAR)
        |       || ' img http://cdn.d' || CAST((doc_id * 3) % 7 AS VARCHAR)
        |       || '.com/i.png' AS dirty FROM documents),
        |u AS (SELECT doc_id,
        |  unnest(regexp_extract_all(dirty, 'https?://\S+')) AS url FROM d)
        |SELECT regexp_extract(url, 'https?://([^/\s]+)', 1) AS domain,
        |  COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY domain ORDER BY domain""".stripMargin,
    "length_quantiles" ->
      s"""WITH t AS (SELECT source, n_chars,
         |  CAST(len($toksSql) AS BIGINT) AS n_toks FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_chars,
         |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
         |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
         |  round(quantile_cont(n_chars, 0.99), 6) AS p99_chars,
         |  round(quantile_cont(n_toks, 0.5), 6) AS p50_toks,
         |  round(quantile_cont(n_toks, 0.9), 6) AS p90_toks
         |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "text_scrub" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' visit https://ex' || CAST(doc_id AS VARCHAR)
        |       || '.com/a?b=' || CAST(doc_id AS VARCHAR)
        |       || ' mail u' || CAST(doc_id AS VARCHAR)
        |       || '@ex.org from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |       || CASE WHEN doc_id % 3 = 0 THEN ' http://dup.io/x' ELSE '' END
        |       AS dirty FROM documents),
        |p AS (SELECT doc_id, dirty,
        |  regexp_extract_all(dirty, '(https?://\S+)'
        |    || '|([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+)'
        |    || '|([0-9]{1,3}(\.[0-9]{1,3}){3})') AS pii,
        |  trim(regexp_replace(regexp_replace(dirty, '(https?://\S+)'
        |    || '|([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+)'
        |    || '|([0-9]{1,3}(\.[0-9]{1,3}){3})', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text FROM d)
        |SELECT doc_id,
        |  CAST(len(list_filter(pii, m -> contains(m, '://'))) AS BIGINT)
        |    AS n_urls,
        |  CAST(len(list_filter(pii, m -> NOT contains(m, '://')
        |    AND contains(m, '@'))) AS BIGINT) AS n_emails,
        |  CAST(len(list_filter(pii, m -> NOT contains(m, '://')
        |    AND NOT contains(m, '@'))) AS BIGINT) AS n_ips,
        |  clean_text,
        |  CAST(length(clean_text) AS BIGINT) AS clean_chars
        |FROM p ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      s"""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         |FROM (SELECT doc_id, $normSql AS norm FROM documents)
         |GROUP BY norm ORDER BY keep_id""".stripMargin,
    // the full Corpus.prepare composition restated as one CTE chain:
    // exact survivors → near-dup graph over SURVIVORS (not the full
    // table) → transitive-closure losers → quality floor → md5 split →
    // per-shard packing, reduced to per-stage accounting
    "corpus_prepare" ->
      s"""WITH RECURSIVE
         |surv AS (SELECT MIN(doc_id) AS doc_id
         |         FROM (SELECT doc_id, $normSql AS norm FROM documents)
         |         GROUP BY norm),
         |sd AS (SELECT d.doc_id, d.text FROM documents d JOIN surv USING (doc_id)),
         |${ngramCteSqlOver("sd")},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |losers AS (SELECT src AS doc_id FROM reach
         |           GROUP BY src HAVING LEAST(src, MIN(dst)) <> src),
         |nd AS (SELECT * FROM sd
         |       WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
         |tq AS (SELECT doc_id, text, $toksSql AS toks FROM nd),
         |mq AS (SELECT doc_id, text, toks,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END AS awl,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, w -> list_contains($stopList, w))) AS DOUBLE) / len(toks) END AS sr
         |  FROM tq),
         |qs AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_toks
         |       FROM mq
         |       WHERE round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
         |           + (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
         |           + least(sr * 5.0, 1.0) * 0.2
         |           + greatest(0.0, 1.0 - pr * 4.0) * 0.2, 6) >= 0.3),
         |p AS (SELECT doc_id, n_toks,
         |  CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
         |       WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id % 8 AS shard,
         |  SUM(n_toks) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM qs)
         |SELECT stage, n FROM (
         |  SELECT '1_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM documents
         |  UNION ALL
         |  SELECT '2_exact_survivors', CAST(COUNT(*) AS BIGINT) FROM surv
         |  UNION ALL
         |  SELECT '3_neardup_survivors', CAST(COUNT(*) AS BIGINT) FROM nd
         |  UNION ALL
         |  SELECT '4_quality_survivors', CAST(COUNT(*) AS BIGINT) FROM qs
         |  UNION ALL
         |  SELECT '5_split_' || split, CAST(COUNT(*) AS BIGINT) FROM p GROUP BY split
         |  UNION ALL
         |  SELECT '6_packed_chunks', CAST(COUNT(*) AS BIGINT) FROM (
         |    SELECT DISTINCT shard, FLOOR((cum - n_toks) / 2048) FROM p)
         |  UNION ALL
         |  SELECT '7_packed_tokens', CAST(SUM(n_toks) AS BIGINT) FROM p
         |) ORDER BY stage""".stripMargin,
    // the corpus_prepare chain with the two embedding-level stages
    // composed in: the semantic_dedup CTE block re-scoped to the
    // near-dup survivors (s* names) and the semantic_decontam leak
    // rule re-scoped to the quality survivors (d* names) — the leak
    // decision reduces to round(MAX(raw cos), 6) >= eps because the
    // argmax row's cosine IS the max regardless of the id tie rule
    "corpus_prepare_semantic" ->
      s"""WITH RECURSIVE
         |surv AS (SELECT MIN(doc_id) AS doc_id
         |         FROM (SELECT doc_id, $normSql AS norm FROM documents)
         |         GROUP BY norm),
         |sd AS (SELECT d.doc_id, d.text FROM documents d JOIN surv USING (doc_id)),
         |${ngramCteSqlOver("sd")},
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |losers AS (SELECT src AS doc_id FROM reach
         |           GROUP BY src HAVING LEAST(src, MIN(dst)) <> src),
         |nd AS (SELECT * FROM sd
         |       WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
         |se AS (SELECT vec_id, embedding AS v,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings
         |  WHERE vec_id IN (SELECT doc_id FROM nd)),
         |sc AS (SELECT vec_id AS cid, embedding AS cv,
         |  sqrt(${dotSql("embedding", "embedding")}) AS cn FROM embeddings
         |  WHERE vec_id < 8),
         |sa0 AS (SELECT se.vec_id, sc.cid,
         |  CASE WHEN se.nrm * sc.cn = 0 THEN 0.0
         |       ELSE ${dotSql("se.v", "sc.cv")} / (se.nrm * sc.cn) END AS cos
         |  FROM se, sc),
         |sa AS (SELECT vec_id, cid AS cluster, round(cos, 6) AS cent_cos FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |                               ORDER BY cos DESC, cid DESC) AS rn
         |  FROM sa0) WHERE rn = 1),
         |ss AS (SELECT sa.vec_id, sa.cluster, sa.cent_cos, se.v, se.nrm
         |       FROM sa JOIN se USING (vec_id)),
         |sp AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |       FROM ss x JOIN ss y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |       WHERE round(CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
         |                        ELSE ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm)
         |                   END, 6) >= 0.4),
         |sedges AS (SELECT id_a AS src, id_b AS dst FROM sp
         |           UNION SELECT id_b, id_a FROM sp),
         |sreach(src, dst) AS (
         |  SELECT src, dst FROM sedges
         |  UNION
         |  SELECT r.src, e2.dst FROM sreach r JOIN sedges e2 ON r.dst = e2.src),
         |scomp AS (SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
         |          FROM sreach GROUP BY src),
         |sl AS (SELECT ss.vec_id, ss.cent_cos,
         |              COALESCE(scomp.component, ss.vec_id) AS component
         |       FROM ss LEFT JOIN scomp USING (vec_id)),
         |sk AS (SELECT vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY component
         |                            ORDER BY cent_cos ASC, vec_id ASC) AS rn
         |       FROM sl),
         |sem AS (SELECT * FROM nd
         |        WHERE doc_id NOT IN (SELECT vec_id FROM sk WHERE rn <> 1)),
         |tq AS (SELECT doc_id, text, $toksSql AS toks FROM sem),
         |mq AS (SELECT doc_id, text, toks,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END AS awl,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, w -> list_contains($stopList, w))) AS DOUBLE) / len(toks) END AS sr
         |  FROM tq),
         |qs AS (SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_toks
         |       FROM mq
         |       WHERE round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
         |           + (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
         |           + least(sr * 5.0, 1.0) * 0.2
         |           + greatest(0.0, 1.0 - pr * 4.0) * 0.2, 6) >= 0.3),
         |dh AS (SELECT vec_id AS hid, embedding AS hv,
         |  sqrt(${dotSql("embedding", "embedding")}) AS hn FROM embeddings
         |  WHERE vec_id % 97 = 0),
         |dc AS (SELECT vec_id, embedding AS v,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings
         |  WHERE vec_id IN (SELECT doc_id FROM qs)),
         |leaked AS (SELECT dc.vec_id
         |  FROM dc, dh
         |  GROUP BY dc.vec_id
         |  HAVING round(MAX(CASE WHEN dc.nrm * dh.hn = 0 THEN 0.0
         |    ELSE ${dotSql("dc.v", "dh.hv")} / (dc.nrm * dh.hn) END), 6) >= 0.8),
         |ds AS (SELECT doc_id, text, n_toks FROM qs
         |       WHERE doc_id NOT IN (SELECT vec_id FROM leaked)),
         |pk AS (SELECT doc_id, n_toks,
         |  CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
         |       WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
         |       ELSE 'test' END AS split,
         |  doc_id % 8 AS shard,
         |  SUM(n_toks) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ds)
         |SELECT stage, n FROM (
         |  SELECT '1_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM documents
         |  UNION ALL
         |  SELECT '2_exact_survivors', CAST(COUNT(*) AS BIGINT) FROM surv
         |  UNION ALL
         |  SELECT '3_neardup_survivors', CAST(COUNT(*) AS BIGINT) FROM nd
         |  UNION ALL
         |  SELECT '4_semantic_survivors', CAST(COUNT(*) AS BIGINT) FROM sem
         |  UNION ALL
         |  SELECT '5_quality_survivors', CAST(COUNT(*) AS BIGINT) FROM qs
         |  UNION ALL
         |  SELECT '6_decontam_survivors', CAST(COUNT(*) AS BIGINT) FROM ds
         |  UNION ALL
         |  SELECT '7_split_' || split, CAST(COUNT(*) AS BIGINT) FROM pk GROUP BY split
         |  UNION ALL
         |  SELECT '8_packed_chunks', CAST(COUNT(*) AS BIGINT) FROM (
         |    SELECT DISTINCT shard, FLOOR((cum - n_toks) / 2048) FROM pk)
         |  UNION ALL
         |  SELECT '9_packed_tokens', CAST(SUM(n_toks) AS BIGINT) FROM pk
         |) ORDER BY stage""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH $ngramCteSql
         |SELECT id_a, id_b, jaccard FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,
    // transitive closure over the SAME pair derivation: component =
    // min doc id reachable through the near-dup graph
    "dedup_components" ->
      s"""WITH RECURSIVE $ngramCteSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // identical semantics through the forced-distributed CC path —
    // the oracle is deliberately the same closure
    "dedup_components_dist" ->
      s"""WITH RECURSIVE $ngramCteSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, text, toks,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) END AS awl,
         |  CASE WHEN len(toks) = 0 THEN 0.0
         |       ELSE CAST(len(list_filter(toks, w -> list_contains($stopList, w))) AS DOUBLE) / len(toks) END AS sr
         |  FROM t)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe,
         |  round(pr, 6) AS punct_ratio,
         |  round(awl, 6) AS avg_word_len,
         |  round(sr, 6) AS stop_ratio,
         |  round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
         |      + (CASE WHEN awl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
         |      + least(sr * 5.0, 1.0) * 0.2
         |      + greatest(0.0, 1.0 - pr * 4.0) * 0.2, 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,
    "lang_guess" ->
      s"""WITH t AS (SELECT doc_id, lang AS lang_true, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id, lang_true,
         |  len(list_filter(toks, w -> list_contains(${markerList("en")}, w))) AS en,
         |  len(list_filter(toks, w -> list_contains(${markerList("de")}, w))) AS de,
         |  len(list_filter(toks, w -> list_contains(${markerList("fr")}, w))) AS fr,
         |  len(list_filter(toks, w -> list_contains(${markerList("es")}, w))) AS es,
         |  len(list_filter(toks, w -> list_contains(${markerList("zh")}, w))) AS zh
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN greatest(en, de, fr, es, zh) = 0 THEN 'und'
         |       WHEN en = greatest(en, de, fr, es, zh) THEN 'en'
         |       WHEN de = greatest(en, de, fr, es, zh) THEN 'de'
         |       WHEN fr = greatest(en, de, fr, es, zh) THEN 'fr'
         |       WHEN es = greatest(en, de, fr, es, zh) THEN 'es'
         |       ELSE 'zh' END AS lang_guess,
         |  lang_true
         |FROM h ORDER BY doc_id""".stripMargin,
    "decontamination" ->
      s"""WITH $ngramCteSql,
         |sp AS (SELECT doc_id,
         |         CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
         |              WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM documents)
         |SELECT id_a, sa.split AS split_a, id_b, sb.split AS split_b, jaccard
         |FROM pairs JOIN sp sa ON id_a = sa.doc_id JOIN sp sb ON id_b = sb.doc_id
         |WHERE sa.split <> sb.split ORDER BY id_a, id_b""".stripMargin,
    "shard_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |             CAST('0x' || substr(md5('epoch-0' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |           FROM documents)
        |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    "decontam_grams" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks,
         |             CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
         |                  WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
         |                  ELSE 'test' END AS split
         |           FROM documents),
         |g AS (SELECT doc_id, split, unnest(list_distinct(
         |        CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
         |             ELSE [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
         |        END)) AS gram FROM t),
         |h AS (SELECT DISTINCT gram FROM g WHERE split IN ('val', 'test'))
         |SELECT doc_id, COUNT(*) AS n_leaked_grams
         |FROM g JOIN h USING (gram)
         |WHERE split = 'train'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // corpus_mix restates the whole sampling decision: sqrt weights
    // (correctly-rounded IEEE everywhere), Σw as the SAME ordered left
    // fold both engines run sequentially (list_reduce seedless fold ≡
    // Spark's 0.0-seeded fold — see dotSql), rate arithmetic in
    // identical operation order, md5-prefix acceptance thresholds as
    // lowercase-hex string comparison.
    "corpus_mix" ->
      s"""WITH t AS (SELECT doc_id, text, source,
         |             CAST(len($toksSql) AS BIGINT) AS n FROM documents),
         |tot AS (SELECT source, COUNT(*) AS docs_in,
         |               CAST(SUM(n) AS BIGINT) AS tokens_in,
         |               sqrt(CAST(SUM(n) AS DOUBLE)) AS wt
         |        FROM t GROUP BY source),
         |sw AS (SELECT list_reduce(list(wt ORDER BY source), (x, y) -> x + y) AS sw
         |       FROM tot),
         |r AS (SELECT source, docs_in, tokens_in,
         |        round(least(1.0, 12000.0 * wt / sw.sw / CAST(tokens_in AS DOUBLE)), 6) AS rate
         |      FROM tot, sw),
         |k AS (SELECT t.source, t.n FROM t JOIN r USING (source)
         |      WHERE rate >= 1.0 OR substring(md5(text), 1, 8) <
         |            lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')),
         |ka AS (SELECT source, COUNT(*) AS docs_kept,
         |              CAST(SUM(n) AS BIGINT) AS tokens_kept
         |       FROM k GROUP BY source)
         |SELECT r.source, r.docs_in, r.tokens_in, r.rate,
         |       COALESCE(ka.docs_kept, 0) AS docs_kept,
         |       COALESCE(ka.tokens_kept, 0) AS tokens_kept
         |FROM r LEFT JOIN ka USING (source) ORDER BY source""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (SELECT doc_id, g, COUNT(*) AS c
         |      FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY doc_id, g),
         |wl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS d,
         |              MAX(c) AS top FROM w GROUP BY doc_id),
         |bg AS (SELECT doc_id, g, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest(
         |               CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |                    ELSE [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
         |               END) AS g FROM t) GROUP BY doc_id, g),
         |bl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS d
         |       FROM bg GROUP BY doc_id)
         |SELECT wl.doc_id, wl.n AS n_tokens, CAST(wl.d AS BIGINT) AS n_distinct,
         |       round(1.0 - CAST(wl.d AS DOUBLE) / wl.n, 6) AS dup_word_ratio,
         |       round(CAST(wl.top AS DOUBLE) / wl.n, 6) AS top_word_ratio,
         |       round(1.0 - CAST(bl.d AS DOUBLE) / bl.n, 6) AS dup_bigram_ratio
         |FROM wl JOIN bl ON wl.doc_id = bl.doc_id ORDER BY wl.doc_id""".stripMargin,
    "vocab_topk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS token FROM t)
         |SELECT token, COUNT(*) AS n FROM tok GROUP BY token
         |ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,
    "source_topk_mg" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |tok AS (SELECT source, unnest(toks) AS token FROM t),
         |c AS (SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token),
         |r AS (SELECT source, token, n,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token ASC) AS BIGINT) AS rnk
         |      FROM c)
         |SELECT source, token, n, rnk FROM r WHERE rnk <= 10
         |ORDER BY source, rnk""".stripMargin,
    // vocab_topk_mg: the MG composition is EXACT by construction
    // (certified recount), so it is gated against the identical
    // plain-count oracle — no weaker floor needed.
    "vocab_topk_mg" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT unnest(toks) AS token FROM t)
         |SELECT token, COUNT(*) AS n FROM tok GROUP BY token
         |ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,
    "dup_spans" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(
         |        CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
         |             ELSE [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
         |        END) AS gram FROM t),
         |f AS (SELECT gram, 1 AS dup FROM g GROUP BY gram
         |      HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |       CAST(SUM(CASE WHEN f.dup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dup_grams,
         |       round(CAST(SUM(CASE WHEN f.dup IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / COUNT(*), 6) AS dup_fraction
         |FROM g LEFT JOIN f USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // positioned grams (parallel unnest keeps pos aligned), the
    // first-occurrence-canonical rule as a row_number window, covered
    // positions via a constant 0..k-1 cross range, and the splice as
    // an ordered string_agg over the uncovered positions — the
    // cleaned text itself is hash-compared
    "substr_scrub" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        unnest(range(1, len(toks) - 6)) AS pos,
         |        unnest([array_to_string(toks[i:i+7], ' ')
         |                for i in range(1, len(toks) - 6)]) AS gram
         |      FROM t WHERE len(toks) >= 8),
         |s AS (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         |        COUNT(*) OVER (PARTITION BY gram) AS n
         |      FROM g),
         |cov AS (SELECT DISTINCT s.doc_id, s.pos + r.ofs AS p
         |        FROM s, range(0, 8) r(ofs)
         |        WHERE n >= 2 AND rn > 1),
         |tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p,
         |               unnest(toks) AS tk FROM t),
         |kept AS (SELECT tok.doc_id, tok.p, tok.tk
         |         FROM tok LEFT JOIN cov
         |           ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |         WHERE cov.p IS NULL),
         |clean AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS clean_text
         |          FROM kept GROUP BY doc_id),
         |nrm AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(COALESCE(nrm.n_removed, 0) AS BIGINT) AS n_removed,
         |       COALESCE(clean.clean_text, '') AS clean_text
         |FROM t LEFT JOIN nrm USING (doc_id) LEFT JOIN clean USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    "decontam_winnow" ->
      s"""WITH ${winnowCteSql(8, 10)},
         |wsp AS (SELECT doc_id,
         |          CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
         |               WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM documents),
         |wfp AS (SELECT DISTINCT wsel.doc_id, wsp.split, fp
         |        FROM wsel JOIN wsp USING (doc_id)),
         |wkept AS (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) <= 10),
         |wh AS (SELECT DISTINCT fp FROM wfp JOIN wkept USING (fp)
         |       WHERE split IN ('val', 'test'))
         |SELECT doc_id, COUNT(*) AS n_leaked_fps
         |FROM wfp JOIN wh USING (fp)
         |WHERE split = 'train'
         |GROUP BY doc_id HAVING COUNT(*) >= 5
         |ORDER BY doc_id""".stripMargin,
    "winnow_fps" ->
      s"""WITH ${winnowCteSql(8, 10)}
         |SELECT doc_id, COUNT(*) AS n_fps,
         |       CAST(SUM(fp) AS BIGINT) AS fp_sum,
         |       MIN(fp) AS fp_min, MAX(fp) AS fp_max
         |FROM wsel GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "winnow_overlap" ->
      s"""WITH ${winnowCteSql(8, 10)},
         |wfp AS (SELECT DISTINCT doc_id, fp FROM wsel),
         |wkept AS (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) <= 30),
         |wc AS (SELECT wfp.doc_id, wfp.fp FROM wfp JOIN wkept USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
         |FROM wc a JOIN wc b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 5
         |ORDER BY 1, 2""".stripMargin,
    "distinct_tokens" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |tok AS (SELECT source, unnest(toks) AS token FROM t)
         |SELECT source, COUNT(DISTINCT token) AS n_distinct,
         |       COUNT(*) AS n_tokens
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,
    "doc_sample" ->
      """SELECT doc_id, md5(text) AS content_md5,
        |       substring(md5(text), 1, 2) < '29' AS in_sample,
        |       CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
        |            WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "seq_pack" ->
      s"""WITH t AS (SELECT doc_id, len($toksSql) AS n FROM documents),
         |p AS (
         |  SELECT doc_id, doc_id % 8 AS shard, CAST(n AS BIGINT) AS n_tokens,
         |         CAST(SUM(CAST(n AS BIGINT)) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, cum_tokens,
         |       CAST(FLOOR((cum_tokens - n_tokens) / 2048) AS BIGINT) AS chunk_id
         |FROM p ORDER BY doc_id""".stripMargin,
    // Efraimidis–Spirakis: u from the first 8 md5 hex chars of the id
    // (DuckDB casts '0x…' strings to BIGINT; Spark uses conv(…,16,10)),
    // key = ln(u)/w micro-rounded BEFORE the rank so the top-K cut is
    // integer-exact in both engines; w clamped at 1e6 like the Spark
    // side (MaxSampleWeight) while n_tokens stays the true count
    "weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, len($toksSql) AS n_toks,
         |             least(len($toksSql) + 1, 1000000) AS w FROM documents),
         |k AS (SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
         |        CAST(round(ln((CAST(concat('0x',
         |              substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |            + 0.5) / 4294967296.0) / w * 1000000) AS BIGINT) AS key_micro
         |      FROM t),
         |s AS (SELECT * FROM k ORDER BY key_micro DESC, doc_id LIMIT 50)
         |SELECT doc_id, n_tokens, key_micro FROM s ORDER BY doc_id""".stripMargin,
    // symmetric int8 quantization: scale = max|x|/127 (exact double
    // max), q_i = round(x_i*127/max) — same op order as the Spark side
    "embed_quant" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, mx,
        |         CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(embedding,
        |                     x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT))
        |         END AS qv
        |  FROM m)
        |SELECT vec_id, round(mx / 127.0, 6) AS scale,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       CAST(list_min(qv) AS BIGINT) AS q_min,
        |       CAST(list_max(qv) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,
    "kmeans_step" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, e.v, c.cid,
         |         CASE WHEN e.nrm * c.cn = 0 THEN 0.0
         |              ELSE ${dotSql("e.v", "c.cv")} / (e.nrm * c.cn) END AS cos
         |       FROM e, c),
         |a AS (SELECT vec_id, v, cid FROM sc
         |      QUALIFY row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, cid DESC) = 1),
         |x AS (SELECT cid AS cluster, unnest(range(1, len(v) + 1)) AS i,
         |        CAST(round(CAST(unnest(v) AS DOUBLE) * 1000000) AS BIGINT) AS xm
         |      FROM a),
         |g AS (SELECT cluster, i, COUNT(*) AS n_vecs,
         |        CAST(SUM(xm) AS BIGINT) AS sum_micro
         |      FROM x GROUP BY cluster, i)
         |SELECT cluster, i, n_vecs, sum_micro,
         |  CAST(round(CAST(sum_micro AS DOUBLE) / n_vecs) AS BIGINT) AS mean_micro
         |FROM g ORDER BY cluster, i""".stripMargin,
    // same assignment CTE as kmeans_step (cos DESC, cid DESC), then a
    // per-cluster quota in md5(id-string) order — portable across
    // engines because both md5 the identical decimal string
    "diverse_sample" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, c.cid,
         |         CASE WHEN e.nrm * c.cn = 0 THEN 0.0
         |              ELSE ${dotSql("e.v", "c.cv")} / (e.nrm * c.cn) END AS cos
         |       FROM e, c),
         |a AS (SELECT vec_id, cid AS cluster FROM sc
         |      QUALIFY row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, cid DESC) = 1),
         |r AS (SELECT vec_id, cluster,
         |        CAST(row_number() OVER (PARTITION BY cluster
         |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
         |      FROM a)
         |SELECT vec_id, cluster, rk FROM r WHERE rk <= 20
         |ORDER BY vec_id""".stripMargin,
    "knn_bruteforce" -> knnExactSql,
    // degenerate-parameter LSH/IVF provably equal brute force
    // (probeDist = bits / nProbe = nCentroids), so the exact-knn oracle
    // gates the approximate machinery end to end
    "knn_lsh_exact" -> knnExactSql,
    "knn_ivf_exact" -> knnExactSql,
    "lm_perplexity" ->
      s"""WITH $lmPplCteSql
         |SELECT doc_id, n_bigrams, ppl FROM pp ORDER BY doc_id""".stripMargin,
    "ppl_buckets" ->
      s"""WITH $lmPplCteSql,
         |cut AS (SELECT quantile_cont(ppl, 1.0 / 3.0) AS c1,
         |               quantile_cont(ppl, 2.0 / 3.0) AS c2 FROM pp),
         |b AS (SELECT CASE WHEN ppl <= c1 THEN 'head'
         |                  WHEN ppl <= c2 THEN 'middle'
         |                  ELSE 'tail' END AS bucket, ppl
         |      FROM pp, cut)
         |SELECT bucket, COUNT(*) AS n_docs,
         |       round(MIN(ppl), 6) AS lo_ppl, round(MAX(ppl), 6) AS hi_ppl
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "semantic_dedup" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding AS v,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 8),
         |a0 AS (SELECT e.vec_id, c.cid,
         |  CASE WHEN e.nrm * c.cn = 0 THEN 0.0
         |       ELSE ${dotSql("e.v", "c.cv")} / (e.nrm * c.cn) END AS cos
         |  FROM e, c),
         |a AS (SELECT vec_id, cid AS cluster, round(cos, 6) AS cent_cos FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |                               ORDER BY cos DESC, cid DESC) AS rn
         |  FROM a0) WHERE rn = 1),
         |s AS (SELECT a.vec_id, a.cluster, a.cent_cos, e.v, e.nrm
         |      FROM a JOIN e USING (vec_id)),
         |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |      FROM s x JOIN s y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |      WHERE round(CASE WHEN x.nrm * y.nrm = 0 THEN 0.0
         |                       ELSE ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm)
         |                  END, 6) >= 0.4),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |comp AS (SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
         |         FROM reach GROUP BY src),
         |l AS (SELECT s.vec_id, s.cluster, s.cent_cos,
         |             COALESCE(comp.component, s.vec_id) AS component
         |      FROM s LEFT JOIN comp USING (vec_id)),
         |k AS (SELECT vec_id, cluster, component, cent_cos,
         |        ROW_NUMBER() OVER (PARTITION BY component
         |                           ORDER BY cent_cos ASC, vec_id ASC) AS rn
         |      FROM l)
         |SELECT vec_id, cluster, component, cent_cos, (rn = 1) AS keep
         |FROM k ORDER BY vec_id""".stripMargin,
    "embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding AS v,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
         |p AS (SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
         |             ELSE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) END, 6) AS cos
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT block, id_a, id_b, cos FROM p WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    // nearest-holdout argmax restated: ranked on the RAW double
    // cosine with ties -> HIGHER holdout id (exactly the IvfAssign
    // comparator — the sequential double fold is IEEE-identical
    // across engines, the qmScoreSql convention), 6dp-rounded only at
    // the output and the eps comparison (the engine's boundary rule)
    "semantic_decontam" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
         |h AS (SELECT vec_id AS hid, v AS hv, nrm AS hn FROM e WHERE vec_id % 97 = 0),
         |c AS (SELECT vec_id, v, nrm FROM e WHERE vec_id % 97 <> 0),
         |s AS (SELECT c.vec_id, h.hid,
         |  CASE WHEN c.nrm * h.hn = 0 THEN 0.0
         |       ELSE ${dotSql("c.v", "h.hv")} / (c.nrm * h.hn) END AS cos_raw
         |  FROM c, h),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |                                   ORDER BY cos_raw DESC, hid DESC) AS rn
         |      FROM s)
         |SELECT vec_id, hid AS nearest_holdout, round(cos_raw, 6) AS max_cos,
         |       round(cos_raw, 6) < 0.8 AS kept
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
}
