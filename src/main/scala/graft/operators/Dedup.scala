package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.store.SegmentStore

/** Document deduplication operators for training-data pipelines:
  * exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design:
  *  - Exact dedup groups on a 64-bit fingerprint of normalized text,
  *    not the text itself — the shuffle carries 8 bytes per row
  *    instead of whole documents.
  *  - MinHash/SimHash candidate generation is LSH-banded: documents
  *    only meet in the join if they collide in ≥1 band, so the
  *    pair-space is near-linear, never O(n²).
  *  - All signature math is built-in array expressions (xxhash64 +
  *    aggregate/transform/zip_with) — codegen'd, no UDFs, no
  *    driver-side collect.
  */
object Dedup {

  /** Exact duplicate groups by normalized text: one row per surviving
    * doc (min id in its group), with the group's duplicate count.
    * Grouping key is the 64-bit fingerprint; at 2^64 space, collisions
    * are negligible for exact-dup detection even at 100 TB.
    */
  def exact(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"), TextFns.fingerprint(textCol).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Surviving documents after exact dedup (keep min id per group).
    *
    * Exchange width deliberately stays at the session default
    * (round-19 A/B): widening this window — and therefore the
    * Corpus.prepare pin it fills and every consumer map stage that
    * inherits the pin's partitioning — to `max(session, cores)` was
    * measured NEUTRAL-TO-WORSE at local[32] (corpus_prepare task count
    * 211 → 395 with no stage-wall win; per-task executorRunTime at 32
    * concurrent tasks ran 3-5× its cpu time — allocation/scheduler
    * contention — where the data-derived narrow grid keeps run ≈ cpu).
    * The compute here is per-byte-cheap enough that task-grid overhead
    * dominates below ~2 MiB/partition; at cluster scale the session
    * width is launcher-sized and nothing changes.
    */
  def exactSurvivors(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val w = Window.partitionBy(TextFns.fingerprint(textCol)).orderBy(idCol.asc)
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---- MinHash -----------------------------------------------------

  /** Candidate near-duplicate pairs via MinHash + LSH banding.
    *
    * numHashes = bands * rowsPerBand. Two docs become a candidate pair
    * iff some band of their signatures matches exactly; est_jaccard is
    * the fraction of agreeing signature positions. Returns
    * (id_a, id_b, est_jaccard) with id_a < id_b, distinct.
    *
    * Execution shape: shingles are EXPLODED to (doc_id, base_hash)
    * rows and the k signature entries are k independent
    * `min(xxhash64(i, h))` AGGREGATE columns in one hash aggregate —
    * entirely whole-stage-codegen'd with map-side partial aggregation,
    * no higher-order functions. (A previous formulation folded over an
    * array column inside nested lambdas; Spark's HOFs are interpreted
    * and re-evaluated the tokenization once per hash function — a
    * measured 128× regex blowup. Wide aggregation is both the codegen
    * path and the shape that spreads signature work across cores
    * regardless of input file layout.)
    */
  def minhashCandidates(docs: DataFrame, idCol: Column, textCol: Column,
                        shingleLen: Int = 3, bands: Int = 16,
                        rowsPerBand: Int = 8): DataFrame =
    minhashCandidatesOfTokens(
      graft.Tables.spread(docs)
        .select(idCol.as("doc_id"), TextFns.tokens(textCol).as("__toks")),
      shingleLen, bands, rowsPerBand)

  /** [[minhashCandidates]] over a pre-tokenized frame (doc_id, __toks)
    * — callers that already materialized tokenization (the M7 shared
    * stage) skip the per-operator regex pass.
    */
  def minhashCandidatesOfTokens(toks: DataFrame, shingleLen: Int = 3,
                                bands: Int = 16, rowsPerBand: Int = 8): DataFrame = {
    val numHashes = bands * rowsPerBand
    val banded = bandedSignatures(toks, shingleLen, bands, rowsPerBand)

    val l = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("bucket"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    // A pair colliding in b bands appears b times; its est_jaccard is
    // the same every time (it depends only on the two signatures), so
    // dedupe FIRST and evaluate the interpreted signature-agreement
    // fold once per distinct pair, not once per collision row.
    // The banded self-join is PINNED to a shuffled hash join: both
    // sides are the full signature table, and Catalyst's size estimate
    // for them (derived from the tiny pre-explode input when the
    // source is a cached relation) can come out under the broadcast
    // threshold — broadcasting an entire corpus' signatures through
    // the driver is wrong at every scale.
    //
    // Shuffle-payload note (round-12 A/B, recorded in BASELINE.md):
    // carrying `sig` on both join sides ships 2·bands signature copies
    // per doc through the exchange. The slim alternative — (band,
    // bucket, doc_id) rows, signatures staged via localCheckpoint and
    // re-fetched per distinct pair by id equi-join — measured
    // equal-or-SLOWER at sf0.1 (1.11 → 1.23 s) and a wash at ×10
    // (5.74 → 5.62 s): the eager staging stage costs more than the
    // shuffle bytes save at these corpus sizes. Revisit past the point
    // where the banded exchange dominates (the crossover needs sig
    // traffic ≫ NVMe-speed shuffle, i.e. corpora orders of magnitude
    // beyond the fixtures).
    l.hint("shuffle_hash").join(r, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
  }

  /** Signature-agreement Jaccard estimate — the fold shared by the
    * self-join pair sweep and the on-disk index probe.
    */
  private def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / numHashes

  /** One row per (doc, band): `(doc_id, sig, band, bucket)` with
    * `bucket = xxhash64(band's signature slice)` — the LSH banding
    * shared by the batch pair sweep ([[minhashCandidatesOfTokens]]),
    * the on-disk index build ([[writeMinhashIndex]]), its probe, and
    * the streaming appender, so none of them can diverge on shingle,
    * signature, or banding math.
    *
    * ONE codegen'd projection computes the whole signature map-side
    * (plans/MinHashSig) — the former explode → m-column MIN aggregate
    * shape and its shingle-occurrence exchange are gone; bit-identical
    * (DedupSpec proves expression ≡ aggregate). Null-token docs yield
    * a null sig and are filtered BEFORE banding: a null sig would hash
    * to the constant bucket xxhash64(null) in every band, colliding
    * all such docs pairwise (O(m²) join blowup).
    */
  /** The (doc_id, sig) stage of [[bandedSignatures]] — the expensive
    * shingle→minhash map, split out so [[minhashProbe]] can
    * materialize it ONCE (1 slim row per doc) and derive both the
    * band rows and the probe-side signature fetch from the same
    * materialization instead of running the signature expression
    * twice per probe.
    */
  private[graft] def minhashSigs(toks: DataFrame, shingleLen: Int,
                                 numHashes: Int): DataFrame = {
    toks.select(col("doc_id"),
      ColumnBridge.column(graft.plans.MinHashSig(
        ColumnBridge.expression(col("__toks")), shingleLen, numHashes)).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Banding over a pre-derived (doc_id, sig) frame — cheap xxhash64
    * slices, no re-shingling.
    */
  private[graft] def bandedOfSigs(sigs: DataFrame, bands: Int,
                                  rowsPerBand: Int): DataFrame =
    sigs.select(
      col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  private[graft] def bandedSignatures(toks: DataFrame, shingleLen: Int,
                                      bands: Int, rowsPerBand: Int): DataFrame =
    bandedOfSigs(minhashSigs(toks, shingleLen, bands * rowsPerBand),
      bands, rowsPerBand)

  /** Partition count of the on-disk LSH band index: slim band rows
    * land in `part = pmod(xxhash64(band, bucket), nParts)`
    * directories, signatures in `spart = pmod(xxhash64(doc_id),
    * nParts)` directories. A probe prunes both scans up front — for
    * the incremental-dedup case (a small new batch against a large
    * indexed corpus) that is partition pruning, the dedup twin of the
    * IVF/BM25 layouts. Both collects are bounded by nParts (≤ 64
    * rows) BY CONSTRUCTION, at any batch size.
    */
  val MinhashParts = 64

  /** Corpus-scale probe strategy switch (round 17). The on-disk
    * band indexes assume probes are BATCH-sized: the batch's band
    * rows collect into a `part IN` predicate and the index scan
    * prunes to those partitions. A corpus-scale batch (the ×30
    * composed-firewall rehearsal: 37.5k docs ≈ 25% of the indexed
    * corpus) hashes into EVERY partition, so the prune degenerates to
    * a full index scan — and, worse, the probe's shuffle-hash join
    * then EXCHANGES the whole grown index every wave (the measured
    * 44→73 s wave drift). When that geometry is detected — prune
    * covering ≥ half the partitions AND a batch big enough that the
    * shuffle matters, yet small enough to broadcast — the probe
    * switches to the sweep join: the batch side broadcasts into the
    * (still part-pruned) index scan, so the corpus side is read in
    * place with ZERO exchange, the only per-wave growth left being
    * the unavoidable scan itself. Trickle batches (below the
    * [[ProbeSweep.MinBandRowsKey]] row floor) keep their exact
    * historical plans — spec-pinned in DedupSpec; batches whose
    * estimated broadcast size (rows × projected row width) exceeds
    * [[ProbeSweep.MaxBroadcastBytesKey]] keep the shuffle join,
    * which is the honest cost of probing with a corpus-sized batch
    * (at that point run the batch SWEEP over index ∪ batch instead).
    */
  private[graft] object ProbeSweep {
    /** Band rows below which the batch is a trickle and keeps the
      * historical pruned-shuffle plan. 2^18 rows ≈ 16k docs at 16
      * bands — the ×10 rehearsal waves (200k rows) sit below, the
      * ×30 corpus-scale waves (600k) above. Runtime-settable via
      * [[MinBandRowsKey]] (the round-17 `@volatile var` test seam,
      * promoted to config — a mutable global that changes probe
      * plans was a footgun).
      */
    val DefaultMinBandRows: Long = 1L << 18
    val MinBandRowsKey = "spark.graft.probeSweep.minBandRows"
    /** Broadcast budget in estimated BYTES, not rows (round 18): the
      * round-17 row cap (2^23 ≈ "200 MB") was calibrated for slim
      * 3-column minhash band rows, but the same gate also sizes the
      * Hamming probe's broadcast, which additionally carries
      * alignCols/chunk/piece/signature — with string alignCols the
      * real broadcast could be several times the stated budget at
      * the threshold boundary. The byte bound multiplies the row
      * count by the projected row width ([[rowBytesOf]]), so wider
      * rows get a proportionally lower row cap. 256 MB keeps the
      * slim-minhash switchover where round 17 put it
      * (256 MB / 36 B ≈ 2^22.8 rows vs the old 2^23 cap).
      */
    val DefaultMaxBroadcastBytes: Long = 256L << 20
    val MaxBroadcastBytesKey = "spark.graft.probeSweep.maxBroadcastBytes"
    private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
    /** Estimated broadcast row width of the frame actually shipped to
      * executors: Catalyst per-type default sizes plus a fixed
      * per-row overhead for the hashed-relation entry.
      */
    def rowBytesOf(bcast: DataFrame): Long =
      bcast.schema.map(_.dataType.defaultSize.toLong).sum + 16L
    def sweeps(spark: org.apache.spark.sql.SparkSession, partsCovered: Int,
               nParts: Int, bandRows: Long, rowBytes: Long): Boolean = {
      val minRows = spark.conf
        .get(MinBandRowsKey, DefaultMinBandRows.toString).toLong
      val maxBytes = spark.conf
        .get(MaxBroadcastBytesKey, DefaultMaxBroadcastBytes.toString).toLong
      2 * partsCovered >= nParts &&
        bandRows >= minRows && bandRows * rowBytes <= maxBytes
    }
    private def logDecision(kind: String, path: String, partsCovered: Int,
                            nParts: Int, bandRows: Long): Unit =
      log.info(s"$kind probe at $path: batch covers $partsCovered/$nParts index " +
        s"partitions with $bandRows band rows — partition pruning is degenerate; " +
        "switching to the broadcast-batch sweep join (index side scans in place, " +
        "zero corpus-side exchange)")

    /** Join `probe` (band rows with their index partition `part`) to
      * `store`'s pruned scan, projected by `index`, on `keys`. ONE
      * bounded job (≤ nParts rows) yields both the prune list and the
      * band-row count. A trickle batch keeps the pinned shuffle join
      * (the corpus-sized index side must never broadcast), with
      * `shuffleSide` applied to the probe; a corpus-scale batch
      * broadcasts into the index scan, which then never shuffles.
      */
    def join(kind: String, probe: DataFrame, store: SegmentStore, nParts: Int,
             excludeBatch: Option[Long], keys: Seq[String],
             shuffleSide: DataFrame => DataFrame = identity)(
             index: DataFrame => DataFrame): DataFrame = {
      val partCounts = probe.groupBy("part").count().collect()
      val parts = partCounts.map(_.getInt(0)).toSeq
      val bandRows = partCounts.map(_.getLong(1)).sum
      val idx = index(store.scan(parts, excludeBatch))
      val bcast = probe.drop("part")
      if (sweeps(probe.sparkSession, parts.length, nParts, bandRows, rowBytesOf(bcast))) {
        logDecision(kind, store.dir, parts.length, nParts, bandRows)
        idx.join(broadcast(bcast), keys)
      } else shuffleSide(probe).hint("shuffle_hash").join(idx, keys)
    }
  }

  private def partOf(nParts: Int): Column =
    pmod(xxhash64(col("band"), col("bucket")), lit(nParts)).cast("int")

  private def sigPartOf(id: Column, nParts: Int): Column =
    pmod(xxhash64(id), lit(nParts)).cast("int")

  /** The two index-layout frames behind [[writeMinhashIndex]] —
    * shared with the streaming appender ([[graft.streaming
    * .Incremental.minhashIndexStream]]) and firewall. The signature
    * (m longs — 1 KB at m=128) is stored ONCE per doc in `sigs`;
    * `bands` rows are slim `(doc_id, band, bucket)` triples. The
    * first cut of this layout carried the full signature on every
    * band row — bands× duplication that measured 829 MB for 50 k
    * docs (~16 KB/doc) in the ×10 stream rehearsal, all of it
    * re-read by every probe; the split cuts the on-disk footprint
    * and the probe's scan I/O ~12× at the price of one extra
    * candidate-bounded join in the probe.
    */
  private[graft] def minhashIndexFrames(toks: DataFrame, shingleLen: Int,
                                        bands: Int, rowsPerBand: Int,
                                        nParts: Int): (DataFrame, DataFrame) = {
    val banded = bandedSignatures(toks, shingleLen, bands, rowsPerBand)
    val bandRows = banded
      .select(col("doc_id"), col("band"), col("bucket"), partOf(nParts).as("part"))
    val sigRows = banded.filter(col("band") === 0)
      .select(col("doc_id"), col("sig"),
        sigPartOf(col("doc_id"), nParts).as("spart"))
    (bandRows, sigRows)
  }

  /** Materialize the LSH band index as the seeds of two
    * [[SegmentStore]]s: slim band rows under `bands/part=<p>/`,
    * per-doc signatures under `sigs/spart=<p>/` (a batch-built index
    * can be incrementally maintained in place by the streaming
    * appender). Probing never recomputes corpus-side signatures,
    * which is what makes incremental dedup against a 100 TB indexed
    * corpus batch-sized instead of corpus-sized. The parameters are
    * the stores' geometry ([[minhashIndex]]).
    */
  def writeMinhashIndex(toks: DataFrame, path: String, shingleLen: Int = 3,
                        bands: Int = 16, rowsPerBand: Int = 8,
                        nParts: Int = MinhashParts): Unit = {
    val (bandRows, sigRows) =
      minhashIndexFrames(toks, shingleLen, bands, rowsPerBand, nParts)
    val Seq(bandStore, sigStore) =
      minhashIndex(toks.sparkSession, path, shingleLen, bands, rowsPerBand, nParts)
    bandStore.build(bandRows, col("band"), col("bucket"))
    sigStore.build(sigRows, col("doc_id"))
  }

  /** The two stores of the MinHash index at `path`, with these build
    * parameters as their geometry.
    */
  private[graft] def minhashIndex(spark: SparkSession, path: String, shingleLen: Int,
                                  bands: Int, rowsPerBand: Int,
                                  nParts: Int): Seq[SegmentStore] =
    SegmentStore.minhash(spark, path, Map("kind" -> "minhash",
      "shingleLen" -> shingleLen.toString, "bands" -> bands.toString,
      "rowsPerBand" -> rowsPerBand.toString, "parts" -> nParts.toString))

  /** The probe's candidate stage, un-checkpointed — the (band,
    * bucket)-join of the batch's slim band rows against the pruned
    * index band scan. Split out so DedupSpec can plan-assert the
    * `part IN` PartitionFilters on the bands scan (the checkpoint in
    * [[minhashProbe]] replaces this subtree with its materialized
    * RDD, hiding the scan from the returned plan).
    */
  private[graft] def minhashProbeCands(newToks: DataFrame, path: String,
                                       shingleLen: Int, bands: Int,
                                       rowsPerBand: Int, nParts: Int,
                                       excludeBatch: Option[Long]): DataFrame =
    minhashProbeCandsBanded(bandedSignatures(newToks, shingleLen, bands, rowsPerBand),
      minhashIndex(newToks.sparkSession, path, shingleLen, bands, rowsPerBand, nParts).head,
      nParts, excludeBatch)

  private def minhashProbeCandsBanded(banded: DataFrame, bandStore: SegmentStore,
                                      nParts: Int,
                                      excludeBatch: Option[Long]): DataFrame = {
    val probe = banded
      .select(col("doc_id").as("probe_id"), col("band"), col("bucket"),
        partOf(nParts).as("part"))
    ProbeSweep.join("minhash", probe, bandStore, nParts, excludeBatch,
        Seq("band", "bucket")) {
      _.select(col("band"), col("bucket"), col("doc_id").as("index_id"))
    }.select(col("probe_id"), col("index_id"))
      .dropDuplicates("probe_id", "index_id")
  }

  /** Near-duplicate candidates of a NEW batch against an indexed
    * corpus: the batch's banded signatures (same derivation as the
    * index — [[bandedSignatures]]) equi-join the slim band rows on
    * (band, bucket), both scans restricted up front to the ≤ nParts
    * partitions the batch hashes into; the surviving candidate pairs
    * then fetch the index side's stored signatures (a second
    * candidate-bounded join). Returns `(probe_id, index_id,
    * est_jaccard)` — est_jaccard from the same signature-agreement
    * fold as the batch sweep, bit-identical (DedupSpec asserts probe
    * ≡ sweep). Docs already in the index probe as their own trivial
    * match; `probe_id != index_id` filtering is left to the caller.
    * Corpus-scale batches that degenerate the partition prune switch
    * the candidate join to the broadcast-batch sweep automatically —
    * see [[ProbeSweep]].
    */
  def minhashProbe(newToks: DataFrame, path: String, shingleLen: Int = 3,
                   bands: Int = 16, rowsPerBand: Int = 8,
                   nParts: Int = MinhashParts,
                   excludeBatch: Option[Long] = None): DataFrame = {
    val Seq(bandStore, sigStore) =
      minhashIndex(newToks.sparkSession, path, shingleLen, bands, rowsPerBand, nParts)
    val numHashes = bands * rowsPerBand
    // the batch's signatures materialize ONCE (1 slim row per doc) and
    // feed BOTH the banded candidate join and the probe-side signature
    // fetch — deriving them twice would run the expensive
    // shingle/minhash map twice per probe
    val sigs = minhashSigs(newToks, shingleLen, numHashes).localCheckpoint()
    // localCheckpoint: the candidate set feeds BOTH the sparts
    // collect below and the returned plan — without it the band join
    // (and the corpus-side scan) would execute twice per probe
    val cands = minhashProbeCandsBanded(bandedOfSigs(sigs, bands, rowsPerBand),
      bandStore, nParts, excludeBatch).localCheckpoint()
    val probeSigs = sigs
      .select(col("doc_id").as("probe_id"), col("sig").as("probe_sig"))
    // signature fetch, pruned to the sparts the candidates hash into
    // (again ≤ nParts by construction)
    val sparts = cands
      .select(sigPartOf(col("index_id"), nParts).as("spart")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idxSigs = sigStore.scan(sparts, excludeBatch)
      .select(col("doc_id").as("index_id"), col("sig").as("index_sig"))
    cands.hint("shuffle_hash").join(idxSigs, Seq("index_id"))
      .join(probeSigs.hint("shuffle_hash"), Seq("probe_id"))
      .select(col("probe_id"), col("index_id"),
        estJaccard(col("probe_sig"), col("index_sig"), numHashes)
          .as("est_jaccard"))
  }

  // ---- Exact n-gram Jaccard ---------------------------------------

  /** Exact word-n-gram Jaccard similarity for all pairs sharing ≥1
    * shingle, thresholded. Blocking on the shingle keeps the join
    * linear in total shingle occurrences; `maxShingleFreq` drops
    * degenerate stop-shingles that would otherwise explode the
    * pair-space at scale (a shingle occurring in f docs produces
    * f(f−1)/2 pairs).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: Column, textCol: Column,
                        n: Int = 3, threshold: Double = 0.8,
                        maxShingleFreq: Long = 1000L): DataFrame =
    ngramJaccardPairsOfTokens(
      graft.Tables.spread(docs)
        .select(idCol.as("doc_id"), TextFns.tokens(textCol).as("__toks")),
      n, threshold, maxShingleFreq)

  /** [[ngramJaccardPairs]] over a pre-tokenized frame (doc_id, __toks)
    * — same M7 rationale as [[minhashCandidatesOfTokens]].
    */
  /** @param pairParts width of the pair-stage exchanges (the gram
    *          self-join and the (id_a, id_b) count aggregation — this
    *          operator's largest intermediates BY FAR: the joined
    *          stream is Σ min(f, cap)² rows). 0 = session default,
    *          which also keeps the historical fused join+partial-agg
    *          plan. Large corpora MUST size this ∝ data (the ×30
    *          profile measured 60+ GB of sort-spill at a fixed 32-way
    *          width — >1 GB of per-task aggregation state); with an
    *          explicit width the joined stream repartitions on
    *          (id_a, id_b) BEFORE aggregating, so the count runs as a
    *          fused exchange-local aggregate with per-task state ÷
    *          pairParts, and the join stage carries no aggregation
    *          map at all. [[graft.pipelines.Corpus.prepare]] derives
    *          it from its input tally (one partition per ~1000 docs).
    */
  def ngramJaccardPairsOfTokens(toks: DataFrame,
                                n: Int = 3, threshold: Double = 0.8,
                                maxShingleFreq: Long = 1000L,
                                pairParts: Int = 0): DataFrame = {
    // Shuffle key is the 64-bit shingle hash, not the shingle string —
    // the blocking stage then moves 8-byte longs instead of text. At
    // 2^64 hash space a cross-shingle collision (which would overcount
    // one intersection) is negligible at any corpus size this runs on.
    //
    // Round-15 restructure (the heaviest-shuffle optimization pass,
    // second iteration): a singleton gram (f = 1) can never produce a
    // pair, and on marker-diversified ×R corpora singletons dominate
    // the occurrence stream — yet the previous form carried every one
    // of them through a full-stream freq-filter join AND the pinned
    // pair self-join. A collect_list rewrite (no join at all) was
    // measured FIRST and rejected: ×10 A/B showed the per-gram list
    // aggregate 2-3× SLOWER than the join form (83 s vs 25 s steady)
    // because millions of singleton groups push ObjectHashAggregate
    // into sort-based fallback, and the list subplan executes once per
    // consumer — a recorded negative result (BASELINE r15). The shape
    // that wins keeps the fixed-width machinery and prunes instead:
    //  1. ONE freq aggregate (map-side partial, 8-byte keys), pinned
    //     for exactly two EAGER driver jobs, then released;
    //  2. the tiny stop-gram list (f > cap; ≤ occurrences/cap rows BY
    //     CONSTRUCTION) broadcast-anti-joins the stream map-side —
    //     sizes need no full-stream join anymore;
    //  3. a Bloom over the pair-bearing grams (2 ≤ f ≤ cap — the
    //     Decontam pre-shuffle shape) prunes ~99% of singleton
    //     occurrences BEFORE the pair exchange, in codegen. A false
    //     positive admits a singleton whose self-join survivor set is
    //     empty (it meets only itself and dies on id_a < id_b), so
    //     the Bloom affects bytes moved, never values; stop grams
    //     cannot slip through — they were removed EXACTLY in step 2.
    // DedupSpec pins bloom form ≡ the pre-round-15 join form across
    // caps and widths; the ngram_jaccard hash gate re-pins it against
    // DuckDB every round.
    val spark = toks.sparkSession
    // NOT pinned across the two consumers (round-19 negative A/B):
    // persisting this occurrence stream so the pair-join map reads it
    // instead of re-running the explode was measured NEUTRAL on an
    // ABA subset bench (corpus_prepare −0.20 s / corpus_prepare_semantic
    // +0.09 s, controls swinging ±0.18 s) — the explode+hash map is
    // not the dominant cost (the gram hash-agg and the pair join are),
    // and the cache write/read of the stream costs what the recompute
    // from the already-pinned token arrays costs. Same conclusion
    // class as the round-15 list-aggregate rejection.
    val grams = toks
      .select(col("doc_id"),
        explode(array_distinct(TextFns.wordShinglesOf(col("__toks"), n))).as("__g"))
      .select(col("doc_id"), xxhash64(col("__g")).as("gram"))
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("__f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nPairGrams, stopGrams) =
      try {
        // eager job 1: pair-gram count (Bloom sizing) + the stop list
        val a = freq.agg(
          sum(when(col("__f").between(2L, maxShingleFreq), 1L).otherwise(0L)),
          collect_list(when(col("__f") > maxShingleFreq, col("gram")))).head()
        val n0 = if (a.isNullAt(0)) 0L else a.getLong(0)
        (n0, a.getSeq[Long](1))
      } catch { case e: Throwable => freq.unpersist(blocking = false); throw e }
    // eager job 2: the Bloom itself (empty pair universe → no Bloom,
    // pair stream statically empty — the cap=1 contract)
    val bloom =
      if (nPairGrams == 0L) None
      else Some(Decontam.buildBloom(
        freq.filter(col("__f").between(2L, maxShingleFreq)).select("gram"),
        nPairGrams, fpp = 0.01))
    freq.unpersist(blocking = false) // both consumers were eager
    import spark.implicits._
    val stopDf = stopGrams.toDF("gram")
    // kept universe: exact stop-set anti-join, map-side (the stop
    // list is tiny by construction)
    val kept = grams.join(broadcast(stopDf), Seq("gram"), "left_anti")
    // sizes denominator computed MAP-SIDE from the token array
    // (round-18 measurement): the former explode → anti-join →
    // per-doc count was a full third pass over the gram-occurrence
    // stream plus a doc-keyed shuffle; per doc, |kept grams| =
    // |distinct grams| − |distinct grams whose hash is a stop gram|,
    // both computable in one projection with no explode and no
    // exchange. Value-identical including hash-collision corners:
    // the anti-join dropped every STRING whose hash was hot, and the
    // filter counts exactly those strings. Docs with zero kept grams
    // gain a (doc_id, 0) row the aggregate form lacked — invisible
    // through the inner join below (a paired doc has ≥ 1 kept gram).
    val shingles = array_distinct(TextFns.wordShinglesOf(col("__toks"), n))
    val sizes = toks.select(col("doc_id"),
      (if (stopGrams.isEmpty) size(shingles)
       else size(shingles) -
         size(filter(shingles, g => xxhash64(g).isInCollection(stopGrams))))
        .cast("long").as("sz"))
    // pair stream: Bloom-pruned map-side BEFORE any exchange
    val pairSrc = bloom match {
      case None => kept.limit(0)
      case Some(b) => kept.filter(
        Decontam.mightContain(b, col("gram")))
    }
    // Pinned shuffled self-join — see minhashCandidates: the exploded
    // gram table must never be a broadcast build side, whatever the
    // pre-explode stats say.
    val keptJ = if (pairParts > 0) pairSrc.repartition(pairParts, col("gram")) else pairSrc
    val joined = keptJ.as("a").hint("shuffle_hash").join(keptJ.as("b"), Seq("gram"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    // pairParts > 0: hash the raw pair stream to (id_a, id_b) first —
    // the count then fuses onto that exchange (distribution already
    // satisfied), so the agg map is partition-local at the chosen width
    val pre = if (pairParts > 0) joined.repartition(pairParts, col("id_a"), col("id_b")) else joined
    val inter = pre
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))

    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The pre-round-15 join-based formulation of
    * [[ngramJaccardPairsOfTokens]], kept as the reference its result
    * equality is tested against (DedupSpec; nothing else calls it).
    * Shape: freq-filter join + pinned shuffled gram self-join,
    * occurrence stream shuffled ~3×, singleton grams carried all the
    * way into the pair exchange.
    */
  private[graft] def ngramJaccardPairsOfTokensJoined(
      toks: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxShingleFreq: Long = 1000L, pairParts: Int = 0): DataFrame = {
    val grams = toks
      .select(col("doc_id"),
        explode(array_distinct(TextFns.wordShinglesOf(col("__toks"), n))).as("__g"))
      .select(col("doc_id"), xxhash64(col("__g")).as("gram"))
    val kept =
      if (maxShingleFreq == Long.MaxValue) grams
      else {
        val freq = grams.groupBy("gram").agg(count(lit(1)).as("f"))
          .filter(col("f") <= maxShingleFreq).select("gram")
        grams.join(freq, "gram")
      }
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // pinned shuffled self-join — the exploded gram table must never
    // be a broadcast build side, whatever the pre-explode stats say
    val keptJ = if (pairParts > 0) kept.repartition(pairParts, col("gram")) else kept
    val joined = keptJ.as("a").hint("shuffle_hash").join(keptJ.as("b"), Seq("gram"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val pre = if (pairParts > 0) joined.repartition(pairParts, col("id_a"), col("id_b")) else joined
    val inter = pre
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---- Duplicate passages (exact-substring family) -----------------

  /** Duplicate-passage statistics — the exact-substring dedup family
    * (the "drop verbatim boilerplate spans" filter of training-data
    * pipelines): positioned k-token grams, corpus-wide distinct-doc
    * frequency per hashed gram, per-doc duplicated-gram counts. A
    * gram appearing in ≥2 DISTINCT docs marks a passage that exists
    * verbatim elsewhere; the per-doc duplicated fraction is the
    * curation signal (high fraction = template/boilerplate).
    *
    * Scale shape: no self-join anywhere — two hash aggregates and one
    * 8-byte-key semi-style join, so cost is linear in total gram
    * occurrences regardless of how duplicated the corpus is (the
    * pathological all-docs-identical corpus costs the same as a
    * unique one).
    */
  def duplicatePassageStats(docs: DataFrame, idCol: Column, textCol: Column,
                            k: Int = 8): DataFrame =
    duplicatePassageStatsOfTokens(
      graft.Tables.spread(docs)
        .select(idCol.as("doc_id"), TextFns.tokens(textCol).as("__toks")), k)

  /** [[duplicatePassageStats]] over a pre-tokenized (doc_id, __toks)
    * frame (M7 shared-stage reuse).
    */
  def duplicatePassageStatsOfTokens(toks: DataFrame, k: Int = 8): DataFrame = {
    val grams = toks.select(col("doc_id"),
        explode(TextFns.wordShinglesOf(col("__toks"), k)).as("__g"))
      .select(col("doc_id"), xxhash64(col("__g")).as("gram"))
    val dupGrams = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("gram"), lit(1).as("__dup"))
    grams.join(dupGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_fraction",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
  }

  /** Exact-substring span SCRUBBING — the removal sibling of
    * [[duplicatePassageStats]] (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": their ExactSubstr
    * pass deletes every duplicated span, keeping ONE occurrence, on
    * the evidence that verbatim-repeated text is what models memorize
    * first). Their implementation is a suffix array over the whole
    * corpus; the relational re-expression:
    *
    *  - a positioned k-token gram whose string occurs ≥ 2 times
    *    ANYWHERE in the corpus (cross-doc or within-doc) is
    *    duplicated;
    *  - its FIRST occurrence under (doc_id, pos) order is canonical
    *    and keeps its tokens;
    *  - every other occurrence marks its k token positions for
    *    removal, and a doc's cleaned text is its tokens minus all
    *    marked positions. A duplicated span longer than k is tiled by
    *    its overlapping duplicated k-grams, so the whole span
    *    vanishes from the non-canonical copies while the canonical
    *    copy survives intact.
    *
    * Scale shape: positioned grams explode once; duplicated-gram
    * detection AND the canonical choice are ONE gram-keyed aggregate
    * (`min(struct(doc_id, pos))` rides the count); covered positions
    * are a bounded k-explode off the (pinned shuffled, 8-byte-key)
    * gram join; the per-doc removal set is a `collect_set` bounded by
    * the DOC LENGTH by construction; the splice is a per-row indexed
    * `filter` over the staged tokens. No self-join anywhere — linear
    * in gram occurrences, like the stats pass.
    *
    * Docs shorter than k tokens carry no k-span and pass through
    * untouched (wordShinglesOf's short-doc whole-text fallback is
    * deliberately NOT used here — a 3-token doc is not an 8-token
    * span). Returns (doc_id, n_tokens, n_removed, clean_text) with
    * clean_text in the engine's normalized token-joined form.
    */
  def exactSubstrScrub(docs: DataFrame, idCol: Column, textCol: Column,
                       k: Int = 8): DataFrame =
    exactSubstrScrubOfTokens(
      graft.Tables.spread(docs)
        .select(idCol.as("doc_id"), TextFns.tokens(textCol).as("__toks")), k)

  /** [[exactSubstrScrub]] over a pre-tokenized (doc_id, __toks) frame
    * (M7 shared-stage reuse).
    */
  def exactSubstrScrubOfTokens(toks: DataFrame, k: Int = 8): DataFrame = {
    val grams = positionedGrams(toks, k)
    // one gram-keyed aggregate: occurrence count + canonical (first)
    // occurrence; 2^64 hash space — same collision argument as the
    // stats pass
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("doc_id"), col("pos"))).as("__first"))
      .filter(col("__n") >= 2)
    // non-canonical occurrences → covered token positions. Pinned
    // shuffled join: both sides are gram-exploded corpus tables and
    // must never broadcast.
    val covered = grams.hint("shuffle_hash").join(dup, Seq("gram"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("__first"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("__p"))
    spliceRemoved(toks, covered)
  }

  /** Positioned k-gram rows `(doc_id, pos, gram)` over a pre-tokenized
    * frame — the derivation shared by the batch scrub and the
    * streaming firewall (same shingling, same hashing, so the two
    * paths cannot diverge on what a "span" is). Docs shorter than k
    * emit nothing.
    */
  private[graft] def positionedGrams(toks: DataFrame, k: Int): DataFrame =
    toks.filter(size(col("__toks")) >= k)
      .select(col("doc_id"),
        posexplode(TextFns.wordShinglesOf(col("__toks"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        xxhash64(col("col")).as("gram"))

  /** Splice tail shared by the batch scrub and the streaming firewall:
    * per-doc removal sets from a `(doc_id, __p)` covered-position
    * frame (collect_set ≤ doc length BY CONSTRUCTION), then the
    * indexed-filter token splice.
    */
  private[graft] def spliceRemoved(toks: DataFrame, covered: DataFrame): DataFrame = {
    val rm = covered.groupBy(col("doc_id"))
      .agg(collect_set(col("__p")).as("__rm"))
    toks.join(rm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__rm")), lit(0)).cast("long").as("n_removed"),
        array_join(
          when(col("__rm").isNull, col("__toks")).otherwise(
            filter(col("__toks"),
              (t, i) => !array_contains(col("__rm"), i + 1))),
          " ").as("clean_text"))
  }

  /** Scrub arriving docs against a FROZEN duplicated-gram set — the
    * streaming-firewall form of [[exactSubstrScrubOfTokens]]: the
    * reference corpus (which holds every canonical copy) trains the
    * dup-gram set once; any arriving span matching a frozen gram is
    * removed outright (a stream has no global first-occurrence order,
    * and the reference's copy IS the canonical one — the same
    * frozen-model reduction as the DSIR/perplexity/phrase firewalls).
    * Gram derivation and splice are the SHARED helpers, so batch and
    * stream cannot diverge on span semantics.
    *
    * @param dupGrams frozen duplicated-gram hashes as a 1-column
    *                 frame. NOT force-broadcast: at `minOcc = 1` the
    *                 frozen set is ~every distinct k-gram of the
    *                 reference (see [[frozenDupGrams]]), which grows
    *                 with reference tokens — Catalyst's size stats
    *                 pick broadcast for a small set (a LocalRelation
    *                 from driver rows has exact stats) and fall back
    *                 to a shuffled hash join when the set exceeds the
    *                 broadcast threshold, so a large reference cannot
    *                 OOM the driver through a forced hint
    */
  def scrubByFrozenGrams(toks: DataFrame, dupGrams: DataFrame,
                         k: Int = 8): DataFrame = {
    val covered = positionedGrams(toks, k)
      .join(dupGrams.select(col("gram")), Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("__p"))
    spliceRemoved(toks, covered)
  }

  /** The frozen dup-gram table implied by a reference corpus. The
    * firewall default is `minOcc = 1`: any span the reference already
    * contains counts as duplicated when it arrives again (the
    * reference holds the canonical copy). `minOcc = 2` instead
    * freezes only the reference's INTERNAL duplicate set — the batch
    * scrub's own duplicate test.
    *
    * SIZE contract: at `minOcc = 1` the filter keeps EVERY distinct
    * k-gram, so |result| ~ reference token count — for a large
    * reference this is a corpus-sized table, not driver data. Keep it
    * as a DataFrame (parquet-backed for reuse) and join it
    * ([[scrubByFrozenGrams]] size-decides broadcast vs shuffle);
    * collect it to a driver Seq (the [[graft.streaming.Incremental
    * .substrScrubStream]] convenience signature) ONLY when the
    * reference is small enough that its gram set fits the driver —
    * e.g. a benchmark/eval contamination set, the firewall's primary
    * use. `minOcc = 2` bounds the set by the reference's internal
    * duplication instead, usually a small fraction.
    */
  def frozenDupGrams(referenceToks: DataFrame, k: Int = 8,
                     minOcc: Long = 1L): DataFrame =
    positionedGrams(referenceToks, k)
      .groupBy(col("gram")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOcc)
      .select(col("gram"))

  // ---- Pair clustering ---------------------------------------------

  /** Connected components over a near-duplicate pair list: every doc
    * that appears in `pairs` is labeled with the MINIMUM doc id
    * reachable through the pair graph — the canonical "keep" id of its
    * duplicate cluster. This is the step that turns pairwise
    * similarity output into an actionable dedup decision (keep one doc
    * per component, drop the rest).
    *
    * Execution: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — each round re-points edges at per-neighborhood
    * minima, contracting chains geometrically, so convergence is
    * LOG-diameter (a depth-100 chain closes in ~6 rounds where
    * min-label propagation needs 100). Two shuffles per round
    * (groupBy-min + re-emit join); the driver loop reads only a
    * per-round converged? flag — no data is collected.
    *
    * Small-graph fast path: a near-dup pair graph is usually SPARSE
    * (most docs are unique; duplicate clusters are small), so after
    * the one distinct pass the edge set is often tiny even when the
    * corpus is not. When the distinct long-id edge count is ≤
    * `smallGraphMaxEdges` (2^20 edges ≈ 16 MB — an explicit, constant
    * driver bound, same class as the MG-summary and centroid
    * collects), the component labels come from a driver-side
    * union-find with union-by-minimum — identical min-label output,
    * ~15 Spark jobs fewer. Larger graphs (or non-long ids) take the
    * distributed loop unchanged; correctness never depends on which
    * path ran (DedupSpec pins both paths to the same labels).
    */
  def connectedComponents(pairs: DataFrame,
                          idA: String = "id_a", idB: String = "id_b",
                          maxRounds: Int = 20,
                          smallGraphMaxEdges: Long = 1L << 20): DataFrame = {
    // Every round ends in an EAGER localCheckpoint: an iterative
    // self-referencing plan otherwise doubles in size per round
    // (round N's logical plan embeds round N−1's twice), and Catalyst
    // re-analysis of that tree goes exponential long before the data
    // does — lineage truncation per round is the iterative-algorithm
    // idiom on Spark. Checkpoint the pair input once — node listing
    // and edge orientation would otherwise evaluate the (possibly
    // expensive) pair-generation subplan repeatedly.
    val p = pairs.select(col(idA).as("a"), col(idB).as("b")).localCheckpoint()
    // Output must label EVERY node that appears in `pairs`, including
    // component minima (which end up with no outgoing star edge).
    val allNodes = p.select(col("a").as("node"))
      .union(p.select(col("b").as("node"))).distinct().localCheckpoint()
    // nodes without a loser label are their own component (isolated
    // or component minima)
    allNodes.join(loserLabels(p, maxRounds, smallGraphMaxEdges),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__c"), col("node")).as("component"))
  }

  /** The NON-MINIMUM members of every component — the drop set of a
    * keep-min dedup rule — as (doc-id) rows. Equivalent to
    * `connectedComponents(pairs).filter(node =!= component)
    * .select(node)` (PropertySpec pins the equivalence), but skips
    * the all-nodes enumeration and the final label join entirely:
    * isolated nodes and component minima are never losers, so a
    * pipeline that only prunes duplicates ([[graft.pipelines.Corpus
    * .prepare]]) has no reason to pay two extra jobs labeling them.
    */
  def componentLosers(pairs: DataFrame,
                      idA: String = "id_a", idB: String = "id_b",
                      maxRounds: Int = 20,
                      smallGraphMaxEdges: Long = 1L << 20): DataFrame = {
    // NO pair checkpoint here (round-18 measurement): unlike
    // [[connectedComponents]], whose pair frame feeds TWO consumers
    // (the all-nodes enumeration and the edge orientation), this
    // path's pair frame is consumed exactly once — by the oriented
    // distinct-edge checkpoint inside [[loserLabels]]. Checkpointing
    // it first materialized the full pair stream a second time (one
    // extra eager job + a pair-stream-sized block-storage copy) for
    // no reuse.
    val p = pairs.select(col(idA).as("a"), col(idB).as("b"))
    loserLabels(p, maxRounds, smallGraphMaxEdges).select(col("node"))
  }

  /** Shared core of [[connectedComponents]] / [[componentLosers]]:
    * component labels (node, __c) for exactly the nodes whose label
    * differs from their own id, from a checkpointed (a, b) pair
    * frame. Small-path output is a driver-built local relation with a
    * broadcast hint; distributed output is the fixpoint star-edge
    * aggregate.
    */
  private def loserLabels(p: DataFrame, maxRounds: Int,
                          smallGraphMaxEdges: Long): DataFrame = {
    // Parent-pointer edges, oriented child > parent; self-loops drop.
    var edges = p.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()

    // large-star(x): attach every strictly LARGER neighbor of x to
    // m(x) = min(Γ(x) ∪ {x}). Every undirected edge {x,y}, x<y, is
    // re-emitted through its smaller endpoint, so connectivity is
    // preserved while long chains fold onto local minima. Output may
    // carry duplicate edges — small-star's min-aggregate is oblivious
    // to them and its final distinct collapses them, so spending a
    // shuffle on dedup here would be pure overhead.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val m = sym.groupBy("x").agg(min(col("y")).as("__mn"))
        .select(col("x"), least(col("x"), col("__mn")).as("m"))
      sym.join(m, "x").filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }
    // small-star(u): u's parents (all < u) plus u itself re-attach to
    // their minimum — the contraction step that collapses multi-level
    // trees toward stars.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m")) // m < u by orientation
      val withM = e.join(m, "u")
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var round = 0
    var edgeCount = edges.count()
    // Small-graph fast path (see scaladoc): bounded driver union-find.
    val idsAreLong = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (idsAreLong && edgeCount <= smallGraphMaxEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      edges.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        // union by MINIMUM root: the surviving root of any component
        // is its minimum id — exactly the distributed loop's label
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val spark = p.sparkSession
      import spark.implicits._
      // every map entry is a node whose root differs from itself
      // (union puts max→min, compression re-points non-roots only) —
      // exactly the loser-label contract
      return broadcast(parent.keySet().toArray(Array.empty[java.lang.Long])
        .map(n => (n.longValue(), find(n.longValue()))).toSeq
        .toDF("node", "__c"))
    }
    var converged = edgeCount == 0
    while (!converged && round < maxRounds) {
      // Adaptive step width (round-14): a near-dup pair graph usually
      // converges within the first couple of alternations (duplicate
      // clusters are shallow), so the first two rounds stay
      // single-step — minimal star work, immediate detection. A graph
      // still contracting after that is the deep-chain class, where
      // the per-materialized-step driver machinery — checkpoint, the
      // count job, the fixpoint anti-join, the driver sync between
      // AQE stage jobs — rivals the star aggregates themselves
      // (measured: the same loop on the same ×30 pairs read 25 s in
      // one session's overhead band and 1.4 s in another's); from
      // round 3 on, TWO alternations fuse into each materialized
      // step, halving every per-step cost at those depths while
      // keeping total exchange work the same. Detection stays EXACT
      // in both regimes: the alternation strictly contracts until the
      // star fixpoint (Kiveris et al. 2014 — no cycles), so set
      // equality across a (single or double) step implies the
      // fixpoint, which is stable under both operators.
      val twoStep = round >= 2
      val stepped =
        if (twoStep) smallStar(largeStar(smallStar(largeStar(edges))))
        else smallStar(largeStar(edges))
      val next = stepped.localCheckpoint()
      // Fixpoint test on two materialized distinct sets: equal counts
      // plus an empty one-sided anti-join ⇒ set equality. The previous
      // step's count is carried over, so the check costs one count
      // and one small anti-join per materialized step.
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      edgeCount = nextCount
      round += (if (twoStep) 2 else 1)
    }
    // Silent truncation would return WRONG labels (one real cluster
    // split into several, each keeping a copy) — fail loudly instead.
    // With log-diameter contraction, the default 20 alternation
    // rounds — ~18 of contraction after the double-step detection
    // lag — covers any component a dedup corpus can realistically
    // produce (≫ 2^18 diameter).
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds; " +
        "raise maxRounds")
    // At fixpoint the edge set is a union of stars (node → component
    // min); minima themselves carry no edge and label as their own id.
    // groupBy-min is belt-and-braces against any duplicate star edge.
    edges.groupBy(col("u").as("node")).agg(min(col("v")).as("__c"))
  }

  /** 64-bit SimHash from a MATERIALIZED token-hash array attribute:
    * per bit, sum +1/−1 by the hash's bit value; the sign becomes the
    * fingerprint bit. Takes the hash array (not text) because the
    * 64-way bit fold re-reads its input 64× — an attribute read is
    * free, an inlined tokenization is 64 regex passes (TextFns cost
    * contract).
    */
  def simhashOfHashes(hashes: Column): Column = {
    val counts = transform(sequence(lit(0), lit(63)), k =>
      aggregate(hashes, lit(0),
        (acc, h) => acc +
          when(call_function("shiftright", h, k).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(counts, sequence(lit(0), lit(63)),
        (c, k) => when(c > 0, call_function("shiftleft", lit(1L), k)).otherwise(0L)),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Convenience single-column form (small inputs / tests). */
  def simhash(textCol: Column): Column =
    simhashOfHashes(transform(TextFns.tokens(textCol), t => xxhash64(t)))

  /** Near-duplicate pairs by SimHash Hamming distance ≤ maxDist,
    * found via pigeonhole LSH: split 64 bits into (maxDist+1) chunks;
    * any pair within distance maxDist must agree on ≥1 whole chunk, so
    * candidates come from equi-joins on chunk values — never O(n²).
    *
    * `maxPieceFreq` caps hot buckets: on low-entropy corpora a chunk
    * can be near-constant (measured on the sf0.1 fixture: one 9-bit
    * piece held 2k of 5k docs → 2M candidate pairs from one bucket),
    * and a bucket of f docs contributes f(f−1)/2 pairs. Dropping
    * over-full buckets loses a pair only if EVERY chunk it agrees on
    * is hot — true near-duplicates agree on most chunks, so recall
    * loss concentrates on the noise pairs the cap exists to avoid.
    */
  def simhashPairs(docs: DataFrame, idCol: Column, textCol: Column,
                   maxDist: Int = 3, maxPieceFreq: Long = 1000L): DataFrame =
    simhashPairsOfTokens(
      graft.Tables.spread(docs)
        .select(idCol.as("doc_id"), TextFns.tokens(textCol).as("__toks")),
      maxDist, maxPieceFreq)

  /** 64-bit SimHash signatures (doc_id, sh) from a pre-tokenized
    * frame — the shared signature stage of [[simhashPairsOfTokens]],
    * exposed so the quality gate can brute-force the true Hamming-≤d
    * pair set over the IDENTICAL fingerprints the pigeonhole path
    * prunes.
    *
    * Execution shape: ONE codegen'd projection —
    * [[graft.plans.SimHash64]] folds each doc's token array into its
    * signature map-side (xxhash64 per occurrence, 64 bit counters,
    * sign combine), replacing the former explode → (doc, hash, count)
    * aggregate → 64-column sum aggregate pipeline and its TWO
    * exchanges with zero exchanges (bit-identical: the per-distinct
    * c·(2·bit−1) weighting ≡ the per-occurrence ±1 sum). Docs with
    * zero tokens drop out of pairing here (they are exact duplicates
    * of each other — Dedup.exact's domain).
    */
  def simhashSignaturesOfTokens(toks: DataFrame): DataFrame = {
    toks
      .select(col("doc_id"),
        ColumnBridge.column(graft.plans.SimHash64(
          ColumnBridge.expression(col("__toks")))).as("sh"))
      .filter(col("sh").isNotNull) // empty-token docs drop, as before
  }

  /** [[simhashPairs]] over a pre-tokenized frame (doc_id, __toks) —
    * same M7 rationale as [[minhashCandidatesOfTokens]].
    *
    * Hot buckets RECURSE instead of dropping: the round-6 flat cap
    * silently lost 32% of true ≤6-distance pairs at sf0.1 (measured
    * by the QualityMetrics simhash_recall gate — 10545/15581), because
    * on low-entropy corpora true near-dup pairs CONCENTRATE in the
    * over-full pieces the cap exists to bound. Rows landing in a
    * too-hot (chunk, piece) bucket are re-bucketed by a SECOND
    * pigeonhole over the complement bits: within such a bucket the
    * pair already agrees on its chunk, so its ≤maxDist differing bits
    * all fall in the remaining 64−bitsPer bits — splitting those into
    * (maxDist+1) fresh sub-chunks guarantees ≥1 agreeing sub-chunk.
    * Sub-buckets still over the cap are finally dropped (a genuinely
    * f²-dense near-dup mass — exact-dedup's domain), so the join
    * stays bounded at f·(maxDist+1) extra rows for hot mass f, never
    * quadratic.
    */
  // ---- Winnowing fingerprints (MOSS) ------------------------------

  /** The native [[graft.plans.WinnowFingerprints]] expression over a
    * string column: its selected fingerprints as `hash << 27 | pos`
    * longs, ascending by position.
    */
  def winnow(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(graft.plans.WinnowFingerprints(ColumnBridge.expression(text), k, w))

  /** Winnowing fingerprints per document (Schleimer et al. SIGMOD'03
    * via the native [[graft.plans.WinnowFingerprints]] expression):
    * (doc_id, pos, fp) — the ~2/(w+1)-sampled, position-robust
    * char-k-gram fingerprint set over NORMALIZED text, guaranteeing a
    * shared fingerprint for any cross-document match of length
    * ≥ w + k − 1 normalized characters.
    *
    * Scale shape: fingerprinting is one map-side pass (the expression
    * does hash + window selection per document — no gram explode, no
    * per-gram shuffle); only the selected ~2/(w+1) fraction ever
    * becomes rows.
    */
  def winnowFingerprints(docs: DataFrame, idCol: Column, textCol: Column,
                         k: Int = 5, w: Int = 8): DataFrame = {
    // NO spread before the rolling-hash explode (round-19 negative
    // A/B): the winnow map does run as single-task stages on the
    // single-row-group fixtures (two 0.45 s stages in the
    // winnow_overlap profile), but AQE materializes the freq-agg and
    // join-side subtrees as CONCURRENT jobs (stage-wall 1.41 s vs
    // wall 1.12 s — overlap), so the serial stages are already
    // hidden; a core-width spread shuffles the full text for no wall
    // win (measured: winnow_overlap 0.90 → 1.00 s, winnow_fps 0.35 →
    // 0.39 s). At production scale the scan parallelizes from row
    // groups and the question disappears.
    docs.select(idCol.as("doc_id"),
        explode(winnow(TextFns.normText(textCol), k, w)).as("__key"))
      .select(col("doc_id"),
        col("__key").bitwiseAND(lit(graft.plans.WinnowFingerprints.PosMask))
          .as("pos"),
        call_function("shiftright", col("__key"),
          lit(graft.plans.WinnowFingerprints.PosBits)).as("fp"))
  }

  /** Partial-overlap candidate pairs: documents sharing at least
    * `minShared` distinct winnowing fingerprints, with the shared
    * count (MOSS-style containment signal — catches a copied
    * PARAGRAPH where whole-doc hashing and near-dup thresholds both
    * miss, because the rest of the documents differ).
    *
    * Scale: the equi-join blocks on the fingerprint hash, so the
    * pair-space is linear in fingerprint occurrences; `maxDocFreq`
    * drops boilerplate fingerprints shared by too many documents (a
    * fingerprint in f docs yields f(f−1)/2 pairs) — same stop-gram
    * discipline as [[ngramJaccardPairs]]. The self-join is pinned
    * shuffled-hash for the same anti-driver-broadcast reason as the
    * banded MinHash join above.
    */
  def winnowOverlap(docs: DataFrame, idCol: Column, textCol: Column,
                    k: Int = 5, w: Int = 8, minShared: Int = 2,
                    maxDocFreq: Int = 50): DataFrame = {
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp")).distinct()
    val kept = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select(col("fp"))
    val capped = fps.join(kept, Seq("fp"))
    val l = capped.select(col("fp"), col("doc_id").as("id_a"))
    val r = capped.select(col("fp"), col("doc_id").as("id_b"))
    l.hint("shuffle_hash").join(r, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def simhashPairsOfTokens(toks: DataFrame,
                           maxDist: Int = 3, maxPieceFreq: Long = 1000L): DataFrame = {
    // The signature frame feeds FIVE consumers in the capped branch
    // (freq, cold, hot, and both self-join sides) and Catalyst does
    // not share common subplans across shuffles — without
    // materialization the 64-column signature aggregate (the query's
    // dominant stage) re-runs per consumer (measured 2.2× on the
    // whole query at sf0.1). Signatures are 16 bytes/doc, so the
    // checkpoint is data-scale-cheap at any corpus size — the same
    // iterative-frame idiom as connectedComponents.
    //
    // localCheckpoint (not the persist+release discipline of the
    // Packing/Rankings cuts) is a DELIBERATE trade here: the five
    // consumers evaluate inside ONE query materialization with no
    // release seam afterward (persist would pin the blocks until
    // session end; localCheckpoint blocks free with the frame's GC),
    // and an executor loss mid-query costs one query retry over a
    // 16-byte/doc artifact — at the 100 TB target the signature
    // table belongs on storage anyway (the writeLshIndex layout),
    // where this stage disappears entirely.
    val sh = simhashSignaturesOfTokens(toks).localCheckpoint()
    hammingPairsOfSignatures(sh, maxDist, maxPieceFreq)
  }

  /** Hamming-distance-≤maxDist pairs over ANY 64-bit signature frame
    * `(doc_id, sh)` — the pigeonhole-LSH pair core shared by the
    * SimHash text path ([[simhashPairsOfTokens]]) and the perceptual
    * image path (dHash fingerprints from
    * [[graft.queries.MediaPipeline.mediaPhashPairs]]): split 64 bits
    * into (maxDist+1) chunks; any pair within distance maxDist must
    * agree on ≥1 whole chunk, so candidates come from equi-joins on
    * chunk values — never O(n²). With `maxPieceFreq = Long.MaxValue`
    * the pigeonhole is EXACT (every true pair is a candidate and the
    * final bit_count filter is exact), which is what lets a
    * signature family whose fingerprint math an oracle can restate be
    * hash-gated end to end; the capped default trades the documented
    * hot-bucket recall seam for boundedness on low-entropy corpora
    * (see [[simhashPairs]]).
    */
  /** Entropy guard for the UNCAPPED (exact) pigeonhole sweep (round
    * 18): an entropy-collapsed signature column — the ×10 image-stub
    * rehearsal measured 25 k payloads collapsing to 32 distinct
    * dHashes — makes the exact sweep's output PAIR-BOUND
    * (identical-fingerprint groups alone yield Σ c·(c−1)/2 ≈ 10 M
    * Hamming-0 pairs there), a GC storm no amount of exchange width
    * fixes. One map-side-combinable aggregate over the slim
    * (align…, sh) frame estimates exactly that degenerate floor
    * BEFORE the pair join and fails loud with the cap
    * recommendation instead. Fires only when the corpus is at least
    * [[EntropyGuardMinRowsKey]] rows (default 8192 — the value-exact
    * gate fixtures and unit specs stay un-probed) AND the
    * Hamming-0 floor exceeds [[EntropyGuardPairsPerRowKey]] pairs
    * per input row (default 64; ≤ 0 disables). Healthy-entropy
    * corpora of any size pass silently: their identical-signature
    * groups are duplicate clusters, which sit well under the
    * per-row budget.
    */
  val EntropyGuardMinRowsKey = "spark.graft.hamming.entropyGuardMinRows"
  val EntropyGuardPairsPerRowKey = "spark.graft.hamming.entropyGuardPairsPerRow"

  private def entropyGuard(sh: DataFrame, alignCols: Seq[String]): Unit = {
    val spark = sh.sparkSession
    val perRow = spark.conf.get(EntropyGuardPairsPerRowKey, "64").toLong
    if (perRow <= 0) return
    val minRows = spark.conf.get(EntropyGuardMinRowsKey, "8192").toLong
    val agg = sh.groupBy(alignCols.map(col) :+ col("sh"): _*)
      .agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("__rows"),
        sum(col("__c").cast("double") * (col("__c") - 1).cast("double") / 2)
          .as("__pairs0"),
        count(lit(1)).as("__distinct"))
      .collect()(0)
    val rows = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val pairs0 = if (agg.isNullAt(1)) 0.0 else agg.getDouble(1)
    val distinct = agg.getLong(2)
    if (rows >= minRows && pairs0 > perRow.toDouble * rows)
      throw new IllegalStateException(
        f"hamming entropy guard: $rows%d signatures collapse to $distinct%d " +
          f"distinct values — identical-fingerprint groups alone imply " +
          f"~${pairs0}%.0f Hamming-0 pairs (> $perRow%d per input row), so the " +
          "UNCAPPED exact pigeonhole sweep is output-bound before any blocking " +
          "can help. Deduplicate identical payloads first (exact dedup on the " +
          "fingerprint), or run the capped production config " +
          "(maxPieceFreq = 1000), or raise/disable the guard via " +
          s"$EntropyGuardPairsPerRowKey / $EntropyGuardMinRowsKey")
  }

  def hammingPairsOfSignatures(sh: DataFrame, maxDist: Int = 3,
                               maxPieceFreq: Long = 1000L,
                               alignCols: Seq[String] = Nil,
                               pairParts: Int = 0): DataFrame = {
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    val banded0 = hammingBanded(sh, maxDist, alignCols)

    // `alignCols` extend EVERY blocking key (band join, frequency
    // caps) and the final pair rollup: pairs form only within an
    // alignment group, and the returned frame carries the group — the
    // temporal-video shape (align on frame index: clips compare
    // frame-for-frame, and a piece shared by MISALIGNED frames never
    // becomes a candidate, so the exchange volume stays per-frame at
    // any stride). Nil (the default) is the plain signature sweep.
    // `pairParts > 0` is the scale-adaptive exchange width (the
    // ngramJaccardPairsOfTokens / Corpus.prepare rule): the banded
    // frame repartitions on the band keys BEFORE the self-join and
    // the candidate stream hashes to (align…, id_a, id_b) before the
    // rollup, so the rollup's aggregation fuses onto that exchange.
    // At the default width the ×30 uncapped image sweep's 88M-pair
    // candidate stream spilled 33 GB through 32 sort/agg tasks;
    // width spreads band buckets and pair groups across tasks —
    // never the answer (DedupSpec pins width-invariance), only the
    // task grid. The 0 path keeps small fixtures' exact plans.
    def pairsOf(bandedIn: DataFrame, keys: Seq[String]): DataFrame = {
      val jKeys = alignCols ++ keys
      val banded = if (pairParts > 0)
        bandedIn.repartition(pairParts, jKeys.map(col): _*) else bandedIn
      val aCols = jKeys.map(col) :+ col("doc_id").as("id_a") :+ col("sh").as("sh_a")
      val bCols = jKeys.map(col) ++
        Seq(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val l = banded.select(aCols: _*)
      val r = banded.select(bCols: _*)
      // Pinned shuffled self-join — see minhashCandidates.
      val joined = l.hint("shuffle_hash").join(r, jKeys)
        .filter(col("id_a") < col("id_b"))
        .select(alignCols.map(col) ++ Seq(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming")): _*)
        .filter(col("hamming") <= maxDist)
      if (pairParts > 0)
        joined.repartition(pairParts, (alignCols ++ Seq("id_a", "id_b")).map(col): _*)
      else joined
    }
    def freqKeys(keys: Seq[String]): Seq[Column] = (alignCols ++ keys).map(col)

    val candidates =
      if (maxPieceFreq == Long.MaxValue) {
        entropyGuard(sh, alignCols)
        pairsOf(banded0, Seq("chunk", "piece"))
      }
      else {
        val freq = banded0.groupBy(freqKeys(Seq("chunk", "piece")): _*)
          .agg(count(lit(1)).as("__f"))
        val cold = banded0.join(
          freq.filter(col("__f") <= maxPieceFreq)
            .select(freqKeys(Seq("chunk", "piece")): _*),
          alignCols ++ Seq("chunk", "piece"), "left_semi")
        val hot = banded0.join(
          freq.filter(col("__f") > maxPieceFreq)
            .select(freqKeys(Seq("chunk", "piece")): _*),
          alignCols ++ Seq("chunk", "piece"), "left_semi")
        // Complement of chunk c's bit range: high bits shifted down
        // into place, OR'd with the untouched low bits — a
        // (64−bitsPer)-bit value whose sub-chunks partition every bit
        // the pair may still differ in.
        val subBits = (64 - bitsPer + chunks - 1) / chunks
        val lowMask = call_function("shiftleft", lit(1L), col("chunk") * bitsPer) - 1
        val rest = call_function("shiftleft",
          call_function("shiftrightunsigned", col("sh"), (col("chunk") + 1) * bitsPer),
          col("chunk") * bitsPer)
          .bitwiseOR(col("sh").bitwiseAND(lowMask))
        val subBanded0 = hot.withColumn("__rest", rest)
          .select(alignCols.map(col) ++ Seq(col("doc_id"), col("sh"),
            col("chunk"), col("piece"),
            posexplode(transform(sequence(lit(0), lit(chunks - 1)), sc =>
              call_function("shiftrightunsigned", col("__rest"), sc * subBits)
                .bitwiseAND(lit((1L << subBits) - 1))))): _*)
          .withColumnRenamed("pos", "subchunk").withColumnRenamed("col", "subpiece")
        val subKept = subBanded0.join(
          subBanded0.groupBy(freqKeys(Seq("chunk", "piece", "subchunk", "subpiece")): _*)
            .agg(count(lit(1)).as("__f")).filter(col("__f") <= maxPieceFreq)
            .select(freqKeys(Seq("chunk", "piece", "subchunk", "subpiece")): _*),
          alignCols ++ Seq("chunk", "piece", "subchunk", "subpiece"), "left_semi")
        pairsOf(cold, Seq("chunk", "piece"))
          .unionByName(pairsOf(subKept, Seq("chunk", "piece", "subchunk", "subpiece")))
      }
    candidates.groupBy((alignCols :+ "id_a").map(col) :+ col("id_b"): _*)
      .agg(min("hamming").as("hamming"))
  }

  /** Pigeonhole chunk/piece rows of a 64-bit signature frame
    * `(doc_id, sh)` — the (maxDist+1)-way bit split shared by the
    * in-memory pair sweep ([[hammingPairsOfSignatures]]) and the
    * on-disk Hamming index ([[writeHammingIndex]] /
    * [[hammingProbe]]). Keeping one derivation is what makes the
    * probe's candidate set provably identical to the sweep's: both
    * sides of any (index, probe) comparison band through this exact
    * expression.
    */
  private def hammingBanded(sh: DataFrame, maxDist: Int,
                            alignCols: Seq[String] = Nil): DataFrame = {
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    sh.select(alignCols.map(col) ++ Seq(col("doc_id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)), c =>
        call_function("shiftright", col("sh"), c * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1))))): _*)
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "piece")
  }

  /** Partition count of the on-disk Hamming (perceptual-fingerprint)
    * index — the [[MinhashParts]] convention: banded rows land in
    * `part = pmod(xxhash64(chunk, piece), nParts)` directories, so a
    * probe prunes its scan to the ≤ nParts partitions the batch's
    * pieces hash into. Unlike the MinHash layout there is no separate
    * signature table: the fingerprint IS 8 bytes, so carrying it on
    * every banded row costs less than the extra candidate-bounded
    * join the split would buy back.
    */
  val HammingParts = 64

  private def hpartOf(nParts: Int): Column =
    pmod(xxhash64(col("chunk"), col("piece")), lit(nParts)).cast("int")

  /** The index-layout frame behind [[writeHammingIndex]] — shared
    * with the streaming appender
    * ([[graft.streaming.Incremental.phashDedupStream]]) so batch
    * build and incremental append can never diverge on the banding.
    */
  private[graft] def hammingIndexRows(sigs: DataFrame, maxDist: Int,
                                      nParts: Int,
                                      alignCols: Seq[String] = Nil): DataFrame =
    hammingBanded(sigs, maxDist, alignCols)
      .select(alignCols.map(col) ++ Seq(col("doc_id"), col("sh"),
        col("chunk"), col("piece"), hpartOf(nParts).as("part")): _*)

  /** Materialize a 64-bit signature corpus (dHash/SimHash — any
    * [[hammingPairsOfSignatures]]-compatible frame) as an ON-DISK
    * Hamming index, the seed of the [[SegmentStore]] under
    * `bands/part=<p>/` (a batch-built index can be incrementally
    * maintained in place by the streaming firewall). Probing never
    * rescans the corpus: incremental image near-dup against a 100 TB
    * indexed corpus is batch-sized. The parameters are the store's
    * geometry ([[hammingIndex]]).
    */
  def writeHammingIndex(sigs: DataFrame, path: String, maxDist: Int = 3,
                        nParts: Int = HammingParts,
                        alignCols: Seq[String] = Nil): Unit =
    hammingIndex(sigs.sparkSession, path, maxDist, nParts, alignCols).build(
      hammingIndexRows(sigs, maxDist, nParts, alignCols), col("chunk"), col("piece"))

  /** The store of the Hamming index at `path`, with these build
    * parameters as its geometry.
    */
  private[graft] def hammingIndex(spark: SparkSession, path: String, maxDist: Int,
                                  nParts: Int, alignCols: Seq[String]): SegmentStore =
    SegmentStore.hamming(spark, path, Map("kind" -> "hamming",
      "maxDist" -> maxDist.toString, "parts" -> nParts.toString,
      "align" -> alignCols.mkString(",")))

  /** Hamming-≤maxDist matches of a NEW batch of signatures against an
    * indexed corpus: the batch's chunk/piece rows (same derivation as
    * the index — [[hammingBanded]]) equi-join the indexed rows on
    * (chunk, piece), the scan restricted up front to the ≤ nParts
    * partitions the batch hashes into (`part IN` pruning — never a
    * corpus scan), then the exact bit_count filter on the carried
    * fingerprints. Returns `(probe_id, index_id, hamming)` with
    * hamming ≤ maxDist — EXACT by the pigeonhole theorem (the probe
    * side is uncapped; boundedness comes from the batch being
    * batch-sized). Docs already in the index match themselves;
    * `probe_id != index_id` filtering is left to the caller.
    *
    * `excludeBatch`: replay safety for the streaming firewall — a
    * replayed micro-batch must not see its own appended rows
    * ([[SegmentStore.scan]]).
    *
    * `alignCols` extend the band join (the
    * [[hammingPairsOfSignatures]] rule): probe and index rows match
    * only within an alignment group, and the returned frame carries
    * the group — the temporal-video shape (frame-aligned probes
    * against a frame-carrying index, so a piece shared by misaligned
    * frames never becomes a candidate). The index must have been
    * written with the SAME alignCols; Nil (the default) is the plain
    * signature probe, byte-identical to the image path.
    *
    * `probeParts > 0` is the scale-adaptive exchange width — the
    * [[hammingPairsOfSignatures]] `pairParts` rule applied to the
    * probe: the probe side repartitions on the band keys before the
    * join and the match stream hashes to (align…, probe_id, index_id)
    * before the min-rollup, so the rollup's aggregation fuses onto
    * that exchange instead of funnelling the candidate stream through
    * the session's fixed task grid (the ×30 indexed-image probe
    * measured 15 GB peak execution memory through 32 tasks at the
    * default width). Plan-only — DedupSpec pins width-invariance of
    * the results; 0 keeps small batches' exact plans.
    *
    * Corpus-scale batches that degenerate the partition prune switch
    * the band join to the broadcast-batch sweep automatically — see
    * [[ProbeSweep]].
    */
  def hammingProbe(sigs: DataFrame, path: String, maxDist: Int = 3,
                   nParts: Int = HammingParts,
                   excludeBatch: Option[Long] = None,
                   alignCols: Seq[String] = Nil,
                   probeParts: Int = 0): DataFrame = {
    val jKeys = alignCols ++ Seq("chunk", "piece")
    val probe0 = hammingBanded(sigs, maxDist, alignCols)
      .select(alignCols.map(col) ++ Seq(col("doc_id").as("probe_id"),
        col("sh").as("__shp"), col("chunk"), col("piece"),
        hpartOf(nParts).as("part")): _*)
    val joined = ProbeSweep.join("hamming", probe0,
        hammingIndex(sigs.sparkSession, path, maxDist, nParts, alignCols), nParts,
        excludeBatch, jKeys, shuffleSide = p =>
          if (probeParts > 0) p.repartition(probeParts, jKeys.map(col): _*) else p) {
      _.select(alignCols.map(col) ++ Seq(col("chunk"), col("piece"),
        col("doc_id").as("index_id"), col("sh").as("__shi")): _*)
    }
    val matches = joined
      .select(alignCols.map(col) ++ Seq(col("probe_id"), col("index_id"),
        bit_count(col("__shp").bitwiseXOR(col("__shi"))).as("hamming")): _*)
      .filter(col("hamming") <= maxDist)
    val spread = if (probeParts > 0)
      matches.repartition(probeParts,
        (alignCols ++ Seq("probe_id", "index_id")).map(col): _*)
    else matches
    spread
      .groupBy((alignCols ++ Seq("probe_id", "index_id")).map(col): _*)
      .agg(min("hamming").as("hamming"))
  }
}
