package graft.queries

import graft.Tables
import graft.operators.Media
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-gated multimodal queries: deterministic IMG0/VID0 payloads
  * are derived from `events` ids (the holdersFixture pattern), pushed
  * through the REAL pipeline stages — decode (mapPartitions codec),
  * nearest-neighbor resize, codegen'd byte features, video
  * frame-sampling — and gated by DuckDB oracles that restate the
  * feature math from first principles: the stub pixel function
  * `(id·31 + i·7) mod 256` and the resize index mapping are pure
  * integer arithmetic, so brightness and the 8-bin histogram are
  * exactly computable in SQL without touching a byte. That makes the
  * whole Spark-side media plumbing (container parse, codec lifecycle,
  * frame walk, byte unpack) hash-checked end to end.
  */
object MediaPipeline {

  /** IMG0 payloads for every 40th event id — distributed, deterministic. */
  def imageFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select(col("event_id"))
      .filter(col("event_id") % 40 === 0)
      .as[Long].map(id => (id, Media.stubImage(id)))
      .toDF("id", "payload")
  }

  /** decode → resize(8×8→4×4) → features, gated on every output cell:
    * dims, exact brightness, exact 8-bin histogram (as 8 scalar
    * columns — portable across engines, unlike array cells).
    */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val decoded = Media.decodeImages(imageFixture(s, dir))
    val resized = Media.resizeImages(decoded, 4, 4)
    val feats = Media.imageFeatures(resized)
    val histCols = (0 until 8).map(b =>
      element_at(col("histogram8"), b + 1).cast(LongType).as(s"h$b"))
    feats.select(Seq(col("id"),
      col("width").cast(LongType).as("width"),
      col("height").cast(LongType).as("height"),
      col("channels").cast(LongType).as("channels"),
      col("brightness")) ++ histCols: _*)
      .orderBy(col("id"))
  }

  /** VID0 payloads (6 frames of 4×4×1) for every 100th event id →
    * sampleFrames(stride 2) → decode → brightness per kept frame.
    * Frame f of video v carries stubImage(v·1000+f) pixels, so the
    * oracle reconstructs each sampled frame's bytes arithmetically.
    */
  def mediaFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vids = Tables.events(s, dir).select(col("event_id"))
      .filter(col("event_id") % 100 === 0)
      .as[Long].map(id => (id, Media.stubVideo(id, frames = 6)))
      .toDF("id", "payload")
    val frames = Media.sampleFrames(vids, stride = 2)
      // composite key survives the single-id decode stage; frames < 10
      .select((col("id") * 10 + col("frame_index")).as("key"), col("payload"))
    val feats = Media.imageFeatures(Media.decodeImages(frames, idCol = "key"))
    feats.select(
      (col("id") / 10).cast(LongType).as("id"),
      (col("id") % 10).cast(LongType).as("frame_index"),
      col("width").cast(LongType).as("width"),
      col("height").cast(LongType).as("height"),
      col("channels").cast(LongType).as("channels"),
      col("brightness"))
      .orderBy(col("id"), col("frame_index"))
  }

  /** AUD0 clips (64 samples) for every 50th event id → decode →
    * RMS / peak / zero-crossing features. Sample i of clip id is
    * ((id·37 + i·11) mod 2048) − 1024 — pure integer arithmetic, so
    * the oracle restates energy and crossing counts exactly; rms is
    * the one double (÷ then sqrt), rounded at the boundary.
    */
  def mediaAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clips = Tables.events(s, dir).select(col("event_id"))
      .filter(col("event_id") % 50 === 0)
      .as[Long].map(id => (id, Media.stubAudio(id)))
      .toDF("id", "payload")
    Media.audioFeatures(Media.decodeAudio(clips))
      .select(col("id"),
        col("sample_rate").cast(LongType).as("sample_rate"),
        col("n_samples").cast(LongType).as("n_samples"),
        col("rms"),
        col("peak").cast(LongType).as("peak"),
        col("zero_crossings").cast(LongType).as("zero_crossings"))
      .orderBy(col("id"))
  }

  /** The image feature-vector frame feeding the media ANN family —
    * decode → resize → 8-bin histogram taken as an EXACT integer
    * count vector (cosine is scale-invariant, so the raw counts need
    * no normalization and stay portable integers), memoized per
    * (session, dir): the decode pipeline runs ONCE and the pinned
    * frame is feature-sized (9 numbers per image), serving both the
    * brute-force gate and the IVF path. At 100 TB this frame is any
    * learned image embedding; everything downstream is
    * representation-agnostic.
    */
  private val vecsCache = graft.SessionCache.frames[String]
  private[graft] def mediaVecs(s: SparkSession, dir: String): DataFrame =
    vecsCache.getOrElseUpdate(s, dir) {
      Media.imageFeatures(
        Media.resizeImages(Media.decodeImages(imageFixture(s, dir)), 4, 4))
        .select(col("id"),
          // float is exact for counts <= 48; the native graft_dot path
          // (array<float>) then accumulates in double like the oracle
          transform(col("histogram8"), h => h.cast("float")).as("embedding"))
        // persist, NOT localCheckpoint (round-14): this is a MEMOIZED
        // corpus-sized frame with a real release seam (SessionCache
        // eviction unpersists it), so lineage can be kept — an
        // executor loss re-runs the short decode chain for the lost
        // blocks instead of failing every downstream media query for
        // the rest of the session
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Image similarity search — the multimodal column flowing into the
    * ANN family: [[mediaVecs]] → brute-force cosine top-5 per probe
    * image. This is the EXACT gate (hash-checked end to end against a
    * from-first-principles SQL oracle: pixels → feature vector →
    * ranked neighbors); [[mediaKnnIvf]] is the scale path floored
    * against it.
    */
  def mediaKnn(s: SparkSession, dir: String): DataFrame = {
    val vecs = mediaVecs(s, dir)
    val probes = vecs.filter(col("id") % 400 === 0)
      .withColumnRenamed("id", "query_id")
    val corpus = vecs.withColumnRenamed("id", "neighbor_id")
    graft.operators.Similarity.bruteForceTopK(probes, corpus, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The k-means coarse quantizer for the media vectors, trained ONCE
    * per (session, dir) — same production contract as the text IVF
    * path (a quantizer belongs to its corpus, not a query batch).
    */
  private val centsCache = graft.SessionCache.frames[String]
  private def mediaCentroids(s: SparkSession, dir: String): DataFrame =
    centsCache.getOrElseUpdate(s, dir)(
      graft.operators.Similarity.kmeansCentroids(
        mediaVecs(s, dir), k = 16).localCheckpoint())

  /** Scale-safe image similarity: the SAME probe/corpus/k as
    * [[mediaKnn]] but through the IVF family — k-means-trained coarse
    * quantizer, nAssign = 2 multi-assignment, nProbe of 16 lists —
    * so each probe scores ~nProbe/nCentroids of the corpus instead of
    * all of it, via a centroid-id equi-join with zero corpus-wide
    * exchanges ([[graft.operators.Similarity.ivfTopKWithCentroids]]).
    * Rows-only (recall depends on the quantizer); recall@5 vs the
    * hash-gated brute-force twin is floor-gated in QualityMetrics,
    * mirroring knn_ivf / knn_bruteforce.
    */
  def mediaKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val vecs = mediaVecs(s, dir)
    val probes = vecs.filter(col("id") % 400 === 0)
      .withColumnRenamed("id", "query_id")
    val corpus = vecs.withColumnRenamed("id", "neighbor_id")
    graft.operators.Similarity.ivfTopKWithCentroids(
      probes, corpus, mediaCentroids(s, dir), k = 5, nProbe = 4, nAssign = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val autoCentsCache = graft.SessionCache.frames[String]

  /** [[mediaKnnIvf]] with the quantizer at the production
    * [[graft.operators.Similarity.autoCentroidCount]] size — constant
    * expected list population, so each probe's candidate work
    * (nProbe · listSize) stays CONSTANT as the corpus grows instead
    * of growing with it (the fixed-16 quantizer's ×30 super-linearity
    * artifact). Gated ROWS-ONLY (a trained quantizer has no portable
    * oracle); its VALUES gate is the per-round
    * `media_knn_ivf_auto_recall@5` QUALITY floor against the
    * hash-gated brute-force twin — so a sizing-rule or trainer
    * regression in the PRODUCTION path trips the round artifact, not
    * just the ×R rehearsal. The fixed-quantizer gate stays for
    * cross-round comparability.
    */
  def mediaKnnIvfAuto(s: SparkSession, dir: String): DataFrame = {
    val vecs = mediaVecs(s, dir)
    val probes = vecs.filter(col("id") % 400 === 0)
      .withColumnRenamed("id", "query_id")
    val corpus = vecs.withColumnRenamed("id", "neighbor_id")
    // trained once per (session, dir) — the same production contract
    // as [[mediaCentroids]]; an auto quantizer is still a corpus
    // artifact, not a query artifact
    val cents = autoCentsCache.getOrElseUpdate(s, dir)(
      graft.operators.Similarity.kmeansCentroidsAuto(
        vecs.select(col("embedding"))).localCheckpoint())
    graft.operators.Similarity.ivfTopKWithCentroids(
      probes, corpus, cents, k = 5, nProbe = 4, nAssign = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Perceptual image near-dup pairs — the LAION-style image-dedup
    * step the feature-vector ANN family doesn't cover: decode →
    * canonical 9×8 resize → 64-bit dHash (native
    * [[graft.plans.DHash64]]: grayscale gradient signs, one codegen'd
    * map pass) → Hamming-≤3 pairs via the SAME pigeonhole blocking
    * the SimHash text path uses
    * ([[graft.operators.Dedup.hammingPairsOfSignatures]]) — never
    * O(n²). The pair frame feeds
    * [[graft.operators.Dedup.connectedComponents]] exactly like the
    * text near-dup pairs (spec-pinned in MediaSpec).
    *
    * HASH-GATED end to end, not rows-only: the stub pixel function,
    * the nearest-neighbor resize index map, the integer-mean
    * grayscale, the gradient-sign bits, and the Hamming count all
    * restate in portable SQL (the oracle compares per-bit sums, never
    * constructing the int64 — bit 63 would overflow a signed BIGINT
    * shift), and the pigeonhole runs UNCAPPED here
    * (maxPieceFreq = MaxValue), which makes it EXACT by the
    * pigeonhole theorem — so blocking can be value-checked against
    * brute force. Production corpora use the capped default instead
    * (the simhash recall-seam trade, same knob).
    */
  def mediaPhashPairs(s: SparkSession, dir: String): DataFrame = {
    // 8 bytes/doc; feeds both self-join sides of the pair core. The
    // memoized pin (see [[phashSigs]]) is the materialization — the
    // former per-call localCheckpoint re-ran decode/resize/dHash on
    // every invocation (round-18 measurement).
    val sig = phashSigs(s, dir)
    graft.operators.Dedup.hammingPairsOfSignatures(
        sig, maxDist = 3, maxPieceFreq = Long.MaxValue,
        pairParts = hammingWidth(s, sig, Some(s"$dir#img")))
      .select(col("id_a"), col("id_b"),
        col("hamming").cast(LongType).as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Scale-adaptive exchange width for the uncapped Hamming sweeps —
    * the ngramPairs05 / Corpus.prepare rule (~1 partition per 250
    * signatures ≈ 1 per 1000 banded rows, session width as floor,
    * 4096 cap): at the session default the ×30 image sweep's 88M-pair
    * candidate stream spilled 33 GB through 32 sort/agg tasks; width
    * is plan-only (DedupSpec pins width-invariance of the results).
    * The count reads the localCheckpointed signature frame — one
    * cheap bounded job, MEMOIZED per (session, fixture, family) when
    * the caller supplies a key, so bench loops and repeated
    * explain/plan-only calls pay it once per session, not per call
    * (the checkpoint itself is the remaining construction-time job,
    * documented at each call site).
    */
  private val widthCache = graft.SessionCache.values[String, Int]

  private def hammingWidth(s: SparkSession, sig: DataFrame,
                           memoKey: Option[String] = None): Int = {
    def derive: Int = {
      val derived = math.min(4096L, sig.count() / 250L).toInt
      if (derived > s.sessionState.conf.numShufflePartitions) derived else 0
    }
    memoKey match {
      case Some(k) => widthCache.getOrElseUpdate(s, k)(derive)
      case None => derive
    }
  }

  /** The shared decode → 9×8 resize → native dHash fingerprint frame
    * `(doc_id, sh)` behind the perceptual family — one derivation, so
    * the pair sweep, the on-disk index build, and the probe can never
    * diverge on the fingerprint math. Memoized per (session, dir)
    * since round 18 — the [[mediaVecs]] rationale: the decode/resize
    * codec chain is the family's expensive map and the fingerprint
    * frame is 8 bytes per image, yet the pair sweep re-derived it on
    * every invocation (its per-call localCheckpoint materialized the
    * chain each time). persist, not localCheckpoint: memoized
    * corpus-sized-class frame with a real release seam (SessionCache
    * eviction), lineage kept for executor-loss recovery.
    */
  private val phashSigsCache = graft.SessionCache.frames[String]
  private def phashSigs(s: SparkSession, dir: String): DataFrame =
    phashSigsCache.getOrElseUpdate(s, dir) {
      Media.resizeImages(Media.decodeImages(imageFixture(s, dir)), 9, 8)
        .select(col("id").as("doc_id"),
          Media.dhash64.as("sh"))
        .filter(col("sh").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  // On-disk Hamming index for media_phash_indexed, built once per
  // (session, dir) over "the already-ingested corpus" (ids with
  // id % 120 != 0 — a family-splitting cut: the stub pixel function
  // repeats every 32 image ids, and 32 | the %-40 id stride × any
  // power of two, so a parity cut would put every exact-dup family
  // entirely on one side and the probe would be vacuous; mod 3 on
  // id/40 interleaves family members across both sides). The
  // minhashIndexFor temp-dir idiom.
  private val phashIdxDirs = graft.SessionCache.dirs[String]

  private def phashIndexFor(s: SparkSession, dir: String): String =
    phashIdxDirs.getOrElseUpdate(s, dir)(graft.SessionCache.tempDir("graft_ph_idx") { path =>
      graft.operators.Dedup.writeHammingIndex(
        phashSigs(s, dir).filter(col("doc_id") % 120 =!= 0), path)
    })

  /** Incremental perceptual near-dup through the ON-DISK Hamming band
    * index ([[graft.operators.Dedup.writeHammingIndex]]): the
    * id % 120 == 0 images play the "new batch" probing an index built
    * over the other two thirds — the corpus side's fingerprints are
    * never recomputed and the index scan prunes to the ≤64 partitions
    * the batch's pieces hash into (DedupSpec plan-asserts the
    * PartitionFilters), which is what makes image dedup of a daily
    * batch against a 100 TB indexed corpus batch-sized instead of
    * corpus-sized. HASH-GATED end to end (the minhash_indexed twin is
    * rows-only only because MinHash signatures are xxhash64-based;
    * dHash restates in portable SQL): probe ≡ exact uncapped sweep is
    * additionally spec-proven in DedupSpec.
    */
  // the "new batch" probe fingerprints, materialized once per
  // (session, dir): hammingProbe consumes its probe side twice (the
  // bounded parts-collect + the band join), which un-checkpointed
  // re-ran the whole decode chain per consumer — and the frame is
  // (session, dir)-deterministic, the mediaVecs memo rationale
  private val probeSigCache = graft.SessionCache.frames[String]
  def mediaPhashIndexed(s: SparkSession, dir: String): DataFrame = {
    val probeSig = probeSigCache.getOrElseUpdate(s, dir)(
      phashSigs(s, dir).filter(col("doc_id") % 120 === 0).localCheckpoint())
    // probe-side width follows the sweep's scale-adaptive rule
    // (round-16, VERDICT-15 watch #3): the ×30 probe's fixture-
    // quadratic hit stream read 15 GB peak exec / 2 GB task peak /
    // 0.9 GB spill through the session's 32 tasks; width spreads it
    // (4.6 GB / 192 MB / zero spill measured) and is plan-only
    // (DedupSpec width-invariance)
    graft.operators.Dedup.hammingProbe(
        probeSig, phashIndexFor(s, dir),
        probeParts = hammingWidth(s, probeSig, Some(s"$dir#img-probe")))
      .select(col("probe_id"), col("index_id"),
        col("hamming").cast(LongType).as("hamming"))
      .orderBy(col("probe_id"), col("index_id"))
  }

  /** Acoustic near-dup pairs — the audio sibling of
    * [[mediaPhashPairs]]: decode → native
    * [[graft.plans.AudioHash64]] fingerprint (energy-envelope delta
    * signs over 65 windows, the one-band Haitsma–Kalker robust-hash
    * shape) → Hamming-≤3 pairs through the SAME uncapped pigeonhole
    * core. Clips are 130-sample stubs so each of the 65 windows is
    * exactly 2 samples — the windowing rule w = ⌊i·65/n⌋ restates in
    * SQL as i // 2, which is what lets the whole path (decode math,
    * integer |v| energies, delta-sign bits, Hamming count) hash-gate
    * end to end like the image twin.
    */
  def mediaAudioPhash(s: SparkSession, dir: String): DataFrame =
    audioPhashPairsOf(s, dir, maxPieceFreq = Long.MaxValue)

  /** [[mediaAudioPhash]] with the piece-frequency cap exposed. The
    * GATED query runs UNCAPPED (exact by the pigeonhole theorem — the
    * hash gate's requirement) and is safe at every gate scale; but
    * energy-envelope hashes are the family's LOW-ENTROPY member, and
    * on a corpus whose envelopes cluster the uncapped sweep is
    * output-bound BY CONSTRUCTION, not by plan: the ×30 rehearsal
    * fixture collapses to 128 distinct fingerprints over 60k clips
    * (the sawtooth stub's envelope), making the true pair output
    * 1.1×10⁸ rows from 1.7×10⁹ candidates. Production corpora with
    * clustered fingerprints run the capped default (the
    * [[graft.operators.Dedup.simhashPairs]] recall-seam trade, same
    * knob) — the ×R rehearsal measures this form.
    */
  private[graft] def audioPhashPairsOf(s: SparkSession, dir: String,
                                       maxPieceFreq: Long): DataFrame = {
    import s.implicits._
    val clips = Tables.events(s, dir).select(col("event_id"))
      .filter(col("event_id") % 50 === 0)
      .as[Long].map(id => (id, Media.stubAudio(id, n = 130)))
      .toDF("id", "payload")
    val sig = Media.decodeAudio(clips)
      .select(col("id").as("doc_id"),
        Media.audioHash64.as("sh"))
      .filter(col("sh").isNotNull)
      .localCheckpoint()
    graft.operators.Dedup.hammingPairsOfSignatures(
        sig, maxDist = 3, maxPieceFreq = maxPieceFreq,
        pairParts = hammingWidth(s, sig, Some(s"$dir#aud")))
      .select(col("id_a"), col("id_b"),
        col("hamming").cast(LongType).as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Capped acoustic sweep over the REALISTIC fingerprint-entropy
    * class (round 16): clips are [[graft.operators.Media.mixAudio]]
    * mix-derived — distinct seeds give independent fingerprints, so
    * no band piece goes hot and the frequency cap should cost ZERO
    * recall. One clip per 50th event id, seed = id/200 (4-clip exact
    * families), every 5th seed perturbed one sample (≤2-bit planted
    * near-dups) — the rehearsal fixture's family structure, shared
    * by generator. Feeds the `audio_phash_capped_recall_mix` QUALITY
    * floor: the [[audioPhashPairsOf]] stub metric quantifies the cap
    * on ADVERSARIAL (collapsed-fingerprint) entropy; this one proves
    * it free on the entropy class production corpora actually have.
    */
  private[graft] def audioMixPhashPairsOf(s: SparkSession, dir: String,
                                          maxPieceFreq: Long): DataFrame = {
    import s.implicits._
    val clips = Tables.events(s, dir).select(col("event_id"))
      .filter(col("event_id") % 50 === 0)
      .as[Long].map { id =>
        val seed = id / 200
        val p = seed % 5 == 4
        (id, graft.operators.Media.mixAudio(if (p) seed - 1 else seed,
          n = 130, perturbAt = if (p) 64 else -1,
          perturbBy = if (p) 900 else 0))
      }.toDF("id", "payload")
    val sig = graft.operators.Media.decodeAudio(clips)
      .select(col("id").as("doc_id"),
        Media.audioHash64.as("sh"))
      .filter(col("sh").isNotNull)
      .localCheckpoint()
    graft.operators.Dedup.hammingPairsOfSignatures(
        sig, maxDist = 3, maxPieceFreq = maxPieceFreq,
        pairParts = hammingWidth(s, sig, Some(s"$dir#audmix")))
      .select(col("id_a"), col("id_b"),
        col("hamming").cast(LongType).as("hamming"))
  }

  /** Temporal perceptual video near-dup — the clip-level rollup that
    * completes the image ([[mediaPhashPairs]]) / audio
    * ([[mediaAudioPhash]]) / video fingerprint triple: frame-sample
    * every 2nd frame ([[graft.operators.Media.sampleFrames]]) →
    * decode → canonical 9×8 resize → per-frame native dHash
    * ([[graft.plans.DHash64]]) → ALIGNED-frame Hamming-≤3 matches
    * through the SAME uncapped pigeonhole core → clips pair when ≥2
    * of their 3 sampled frames match (the majority-of-sampled-frames
    * rule of frame-fingerprint video dedup). Candidate generation
    * stays the banded equi-join (never O(n²)), with the frame index
    * an ALIGNMENT KEY of the band join itself
    * ([[graft.operators.Dedup.hammingPairsOfSignatures]]'s
    * `alignCols`): pieces shared by misaligned frames never become
    * candidates, so exchange volume stays per-frame at any stride
    * count — not stride× inflated by cross-frame collisions.
    *
    * HASH-GATED end to end like its siblings: VID0 frame f of clip id
    * carries stubImage(id·1000+f, 8×8×3) pixels — the image fixture's
    * stub shape — so container walk, decode bytes, the resize index
    * map, integer-mean grayscale, gradient-sign bits, per-frame
    * Hamming counts, and the ≥2-frame rollup all restate in portable
    * SQL (the per-frame CTE is [[mediaPhashPairs]]'s with
    * id → id·1000+f).
    */
  def mediaVideoPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 8×8×3 frames — the image fixture's stub shape, whose dHash is
    // proven discriminative ([[mediaPhashPairs]]); the 4×4×1 default
    // is too small for gradient-sign separation (adjacent resized
    // pixels mostly sample the SAME source pixel, so nearly all bits
    // tie at 0 and unrelated clips land within any Hamming budget)
    val vids = Tables.events(s, dir).select(col("event_id"))
      .filter(col("event_id") % 120 === 0)
      .as[Long].map(id => (id, Media.stubVideo(id, frames = 6, w = 8, h = 8, c = 3)))
      .toDF("id", "payload")
    videoPhashPairsOf(vids, widthKey = Some(s"$dir#vid"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The clip-pairing core behind [[mediaVideoPhash]] over any
    * `(id, payload)` video frame: sampled frames must stay < 1000 for
    * the composite key — ENFORCED in-plan (an `assert_true` fused
    * into the key expression fails the job with a message instead of
    * silently corrupting (clip, frame) pairs), so a future caller
    * with long clips hits an error, never wrong pairs. Spec-exercised
    * directly on planted identical / partially-overlapping / disjoint
    * clips.
    */
  private[graft] def videoPhashPairsOf(vids: DataFrame, stride: Int = 2,
                                       maxDist: Int = 3,
                                       minFrames: Int = 2,
                                       widthKey: Option[String] = None)
      : DataFrame = {
    // composite key = clip·1000 + frame survives the single-id
    // decode/resize stages, then splits back into (doc_id = clip,
    // frame); 8 bytes + frame per row, feeds both self-join sides of
    // the pair core — the simhashPairsOfTokens materialization
    // rationale. The assert rides the key projection (coalesce of a
    // passing assert's NULL with 0), so column pruning can never drop
    // the invariant check while the key survives.
    val keyGuard = coalesce(
      assert_true(col("frame_index") < 1000,
        lit("videoPhashPairsOf: frame_index >= 1000 would corrupt the " +
          "clip*1000 + frame composite key — re-widen the multiplier " +
          "before sampling clips this long")).cast(LongType),
      lit(0L))
    val frames = Media.sampleFrames(vids, stride)
      .select((col("id") * 1000 + col("frame_index") + keyGuard).as("key"),
        col("payload"))
    val sig = Media.resizeImages(Media.decodeImages(frames, idCol = "key"), 9, 8)
      .select((col("id") / 1000).cast(LongType).as("doc_id"),
        (col("id") % 1000).as("frame"),
        Media.dhash64.as("sh"))
      .filter(col("sh").isNotNull)
      .localCheckpoint()
    // frame is an ALIGNMENT key of the banded join itself (pieces
    // shared by misaligned frames never become candidates — the
    // per-frame exchange volume the scaladoc promises at stride
    // counts beyond a fixture's); same frame ⇒ distinct clips
    graft.operators.Dedup.hammingPairsOfSignatures(
        sig, maxDist, maxPieceFreq = Long.MaxValue, alignCols = Seq("frame"),
        pairParts = hammingWidth(vids.sparkSession, sig, widthKey))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("frames_matched"))
      .filter(col("frames_matched") >= minFrames)
  }

  /** End-to-end multimodal preparation
    * ([[graft.pipelines.MediaCorpus.prepare]]) surfaced as per-stage
    * accounting over the image fixture: input size, decoded rows,
    * survivors after perceptual near-dup pruning and the brightness
    * floor, and the packed-manifest totals. HASH-GATED as one CTE
    * chain (the `corpus_prepare` convention): the dHash pair core
    * restates per-bit (the `media_phash_pairs` oracle), components
    * close transitively, brightness is the exact integer-arithmetic
    * stub sum, and the manifest cumsum is the `seq_pack` shape — so
    * stage-wiring bugs hash-fail even when each stage is
    * individually green. The 127.0 floor splits the fixture's 8
    * distinct brightness values (123.17…132.5) non-trivially.
    */
  def mediaPrepare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (manifest, stats, release) = graft.pipelines.MediaCorpus.prepare(
      imageFixture(s, dir), minBrightness = 127.0,
      pixelBudget = 1024, nShards = 4)
    val packed = manifest.select("shard", "chunk_id", "n_pixels")
      .localCheckpoint()
    release()
    val stages = Seq(
      ("1_input", stats.input),
      ("2_decoded", stats.decoded),
      ("3_neardup_survivors", stats.afterNearDup),
      ("4_feature_survivors", stats.afterFeature)).toDF("stage", "n")
    val chunks = packed
      .agg(countDistinct(col("shard"), col("chunk_id")).as("n"))
      .select(lit("5_manifest_chunks").as("stage"), col("n"))
    val pixels = packed.agg(sum(col("n_pixels")).as("n"))
      .select(lit("6_manifest_pixels").as("stage"), col("n"))
    stages.unionByName(chunks).unionByName(pixels).orderBy(col("stage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_prepare" -> (mediaPrepare _),
    "media_features" -> (mediaFeatures _),
    "media_frames" -> (mediaFrames _),
    "media_audio" -> (mediaAudio _),
    "media_knn" -> (mediaKnn _),
    "media_knn_ivf" -> (mediaKnnIvf _),
    "media_knn_ivf_auto" -> (mediaKnnIvfAuto _),
    "media_phash_pairs" -> (mediaPhashPairs _),
    "media_phash_indexed" -> (mediaPhashIndexed _),
    "media_audio_phash" -> (mediaAudioPhash _),
    "media_video_phash" -> (mediaVideoPhash _))

  /** The resized 4×4×3 pixel at flat index i (ch = i%3, x = (i/3)%4,
    * y = i/12) samples source pixel (2x, 2y) of the 8×8×3 stub image:
    * v = (id·31 + ((2y·8 + 2x)·3 + ch)·7) mod 256.
    */
  val oracles: Map[String, String] = Map(
    // dHash from first principles: resized 9×8 pixel (x, y, ch) samples
    // source index (y·8 + (x·8)//9)·3 + ch of the stub image; gray is
    // the integer channel mean; bit k = y·8+x compares right-neighbor
    // grays; Hamming is the per-bit disagreement SUM (never the int64 —
    // bit 63 would overflow a signed BIGINT shift)
    // the media_phash_pairs per-bit dHash CTE + transitive-closure
    // losers (the corpus_prepare convention) + the exact stub
    // brightness sum + the seq_pack cumsum, chained as one statement
    "media_prepare" ->
      """WITH RECURSIVE
        |ids AS (SELECT event_id AS id FROM events WHERE event_id % 40 = 0),
        |g AS (SELECT id, x, y,
        |        ( ((id*31 + ((y*8 + (x*8)//9)*3 + 0)*7) % 256)
        |        + ((id*31 + ((y*8 + (x*8)//9)*3 + 1)*7) % 256)
        |        + ((id*31 + ((y*8 + (x*8)//9)*3 + 2)*7) % 256) ) // 3 AS gray
        |      FROM ids, range(0, 9) tx(x), range(0, 8) ty(y)),
        |bits AS (SELECT a.id, a.y*8 + a.x AS k,
        |                CASE WHEN b2.gray > a.gray THEN 1 ELSE 0 END AS bit
        |         FROM g a JOIN g b2 ON a.id = b2.id AND b2.y = a.y AND b2.x = a.x + 1
        |         WHERE a.x < 8),
        |p AS (SELECT a.id AS id_a, b.id AS id_b
        |      FROM bits a JOIN bits b ON a.k = b.k AND a.id < b.id
        |      GROUP BY a.id, b.id
        |      HAVING SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |losers AS (SELECT src AS id FROM reach
        |           GROUP BY src HAVING LEAST(src, MIN(dst)) <> src),
        |nd AS (SELECT id FROM ids
        |       WHERE id NOT IN (SELECT id FROM losers)),
        |br AS (SELECT id, CAST(SUM((id*31 + i*7) % 256) AS DOUBLE) / 192
        |         AS brightness
        |       FROM ids, range(0, 192) t(i) GROUP BY id),
        |fs AS (SELECT nd.id FROM nd JOIN br USING (id)
        |       WHERE br.brightness BETWEEN 127.0 AND 255.0),
        |pk AS (SELECT id, CAST(192 AS BIGINT) AS n_pixels, id % 4 AS shard,
        |  SUM(192) OVER (PARTITION BY id % 4 ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM fs)
        |SELECT stage, n FROM (
        |  SELECT '1_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM ids
        |  UNION ALL
        |  SELECT '2_decoded', CAST(COUNT(*) AS BIGINT) FROM ids
        |  UNION ALL
        |  SELECT '3_neardup_survivors', CAST(COUNT(*) AS BIGINT) FROM nd
        |  UNION ALL
        |  SELECT '4_feature_survivors', CAST(COUNT(*) AS BIGINT) FROM fs
        |  UNION ALL
        |  SELECT '5_manifest_chunks', CAST(COUNT(*) AS BIGINT) FROM (
        |    SELECT DISTINCT shard, FLOOR((cum - n_pixels) / 1024) FROM pk)
        |  UNION ALL
        |  SELECT '6_manifest_pixels', CAST(SUM(n_pixels) AS BIGINT) FROM pk
        |) ORDER BY stage""".stripMargin,
    "media_phash_pairs" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 40 = 0),
        |g AS (SELECT id, x, y,
        |        ( ((id*31 + ((y*8 + (x*8)//9)*3 + 0)*7) % 256)
        |        + ((id*31 + ((y*8 + (x*8)//9)*3 + 1)*7) % 256)
        |        + ((id*31 + ((y*8 + (x*8)//9)*3 + 2)*7) % 256) ) // 3 AS gray
        |      FROM ids, range(0, 9) tx(x), range(0, 8) ty(y)),
        |bits AS (SELECT a.id, a.y*8 + a.x AS k,
        |                CASE WHEN b2.gray > a.gray THEN 1 ELSE 0 END AS bit
        |         FROM g a JOIN g b2 ON a.id = b2.id AND b2.y = a.y AND b2.x = a.x + 1
        |         WHERE a.x < 8),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |             SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
        |      FROM bits a JOIN bits b ON a.k = b.k AND a.id < b.id
        |      GROUP BY a.id, b.id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM p WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    // the indexed probe: identical dHash restatement, pairs restricted
    // to (new batch = id%120==0) × (indexed corpus = id%120<>0)
    "media_phash_indexed" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 40 = 0),
        |g AS (SELECT id, x, y,
        |        ( ((id*31 + ((y*8 + (x*8)//9)*3 + 0)*7) % 256)
        |        + ((id*31 + ((y*8 + (x*8)//9)*3 + 1)*7) % 256)
        |        + ((id*31 + ((y*8 + (x*8)//9)*3 + 2)*7) % 256) ) // 3 AS gray
        |      FROM ids, range(0, 9) tx(x), range(0, 8) ty(y)),
        |bits AS (SELECT a.id, a.y*8 + a.x AS k,
        |                CASE WHEN b2.gray > a.gray THEN 1 ELSE 0 END AS bit
        |         FROM g a JOIN g b2 ON a.id = b2.id AND b2.y = a.y AND b2.x = a.x + 1
        |         WHERE a.x < 8),
        |p AS (SELECT a.id AS probe_id, b.id AS index_id,
        |             SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
        |      FROM bits a JOIN bits b ON a.k = b.k
        |      WHERE a.id % 120 = 0 AND b.id % 120 <> 0
        |      GROUP BY a.id, b.id)
        |SELECT probe_id, index_id, CAST(hamming AS BIGINT) AS hamming
        |FROM p WHERE hamming <= 3 ORDER BY probe_id, index_id""".stripMargin,
    // audio fingerprint from first principles: stub sample i of clip id
    // is ((id·37 + i·11) mod 2048) − 1024 (16-bit BE roundtrip is
    // exact); 130 samples → window w = i // 2 (the ⌊i·65/n⌋ rule at
    // n = 130); energy = Σ|v|; bit k compares consecutive window
    // energies; Hamming is the per-bit disagreement sum
    "media_audio_phash" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 50 = 0),
        |v AS (SELECT id, i, ((id*37 + i*11) % 2048) - 1024 AS v
        |      FROM ids, range(0, 130) t(i)),
        |e AS (SELECT id, i // 2 AS w, SUM(ABS(v)) AS e
        |      FROM v GROUP BY id, w),
        |bits AS (SELECT a.id, a.w AS k,
        |                CASE WHEN b2.e > a.e THEN 1 ELSE 0 END AS bit
        |         FROM e a JOIN e b2 ON a.id = b2.id AND b2.w = a.w + 1
        |         WHERE a.w < 64),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |             SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
        |      FROM bits a JOIN bits b ON a.k = b.k AND a.id < b.id
        |      GROUP BY a.id, b.id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM p WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    // video near-dup from first principles: sampled frame f ∈ {0,2,4}
    // of clip id carries stubImage(id·1000+f, 8×8×3) pixels, so the
    // per-frame dHash restates exactly like the image twin with
    // id → id·1000+f, then clips roll up on ≥2 matched aligned frames
    "media_video_phash" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 120 = 0),
        |fr AS (SELECT id, f FROM ids, (VALUES (0), (2), (4)) tf(f)),
        |g AS (SELECT id, f, x, y,
        |        ( (((id*1000 + f)*31 + ((y*8 + (x*8)//9)*3 + 0)*7) % 256)
        |        + (((id*1000 + f)*31 + ((y*8 + (x*8)//9)*3 + 1)*7) % 256)
        |        + (((id*1000 + f)*31 + ((y*8 + (x*8)//9)*3 + 2)*7) % 256) ) // 3 AS gray
        |      FROM fr, range(0, 9) tx(x), range(0, 8) ty(y)),
        |bits AS (SELECT a.id, a.f, a.y*8 + a.x AS k,
        |                CASE WHEN b2.gray > a.gray THEN 1 ELSE 0 END AS bit
        |         FROM g a JOIN g b2 ON a.id = b2.id AND a.f = b2.f
        |                           AND b2.y = a.y AND b2.x = a.x + 1
        |         WHERE a.x < 8),
        |fp AS (SELECT a.id AS id_a, b.id AS id_b,
        |              SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
        |       FROM bits a JOIN bits b ON a.k = b.k AND a.f = b.f AND a.id < b.id
        |       GROUP BY a.id, b.id, a.f)
        |SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS frames_matched
        |FROM fp WHERE hamming <= 3
        |GROUP BY id_a, id_b HAVING COUNT(*) >= 2 ORDER BY id_a, id_b""".stripMargin,
    "media_knn" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 40 = 0),
        |px AS (
        |  SELECT id,
        |         (id*31 + (((2*(i//12))*8 + 2*((i//3)%4))*3 + (i%3))*7) % 256 AS v
        |  FROM ids, range(0, 48) t(i)),
        |h AS (SELECT id, [CAST(COUNT(*) FILTER (v // 32 = 0) AS DOUBLE),
        |  CAST(COUNT(*) FILTER (v // 32 = 1) AS DOUBLE),
        |  CAST(COUNT(*) FILTER (v // 32 = 2) AS DOUBLE),
        |  CAST(COUNT(*) FILTER (v // 32 = 3) AS DOUBLE),
        |  CAST(COUNT(*) FILTER (v // 32 = 4) AS DOUBLE),
        |  CAST(COUNT(*) FILTER (v // 32 = 5) AS DOUBLE),
        |  CAST(COUNT(*) FILTER (v // 32 = 6) AS DOUBLE),
        |  CAST(COUNT(*) FILTER (v // 32 = 7) AS DOUBLE)] AS emb
        |      FROM px GROUP BY id),
        |e AS (SELECT id, emb, sqrt(list_reduce(list_transform(range(1, len(emb) + 1), i -> CAST(emb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE)), (x, y) -> x + y)) AS nrm FROM h),
        |q AS (SELECT id AS query_id, emb AS qv, nrm AS qn FROM e WHERE id % 400 = 0),
        |c AS (SELECT id AS neighbor_id, emb AS cv, nrm AS cn FROM e),
        |s AS (SELECT query_id, neighbor_id,
        |        round(CASE WHEN qn * cn = 0 THEN 0.0
        |                   ELSE list_reduce(list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)), (x, y) -> x + y) / (qn * cn) END, 6) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |                                   ORDER BY cos DESC, neighbor_id ASC) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "media_features" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 40 = 0),
        |px AS (
        |  SELECT id,
        |         (id*31 + (((2*(i//12))*8 + 2*((i//3)%4))*3 + (i%3))*7) % 256 AS v
        |  FROM ids, range(0, 48) t(i))
        |SELECT id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       CAST(3 AS BIGINT) AS channels,
        |       CAST(SUM(v) AS DOUBLE) / 48 AS brightness,
        |       CAST(COUNT(*) FILTER (v // 32 = 0) AS BIGINT) AS h0,
        |       CAST(COUNT(*) FILTER (v // 32 = 1) AS BIGINT) AS h1,
        |       CAST(COUNT(*) FILTER (v // 32 = 2) AS BIGINT) AS h2,
        |       CAST(COUNT(*) FILTER (v // 32 = 3) AS BIGINT) AS h3,
        |       CAST(COUNT(*) FILTER (v // 32 = 4) AS BIGINT) AS h4,
        |       CAST(COUNT(*) FILTER (v // 32 = 5) AS BIGINT) AS h5,
        |       CAST(COUNT(*) FILTER (v // 32 = 6) AS BIGINT) AS h6,
        |       CAST(COUNT(*) FILTER (v // 32 = 7) AS BIGINT) AS h7
        |FROM px GROUP BY id ORDER BY id""".stripMargin,
    "media_frames" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 100 = 0),
        |fr AS (SELECT id, f FROM ids, (VALUES (0), (2), (4)) t(f)),
        |px AS (SELECT id, f, ((id*1000 + f)*31 + i*7) % 256 AS v
        |       FROM fr, range(0, 16) r(i))
        |SELECT id, CAST(f AS BIGINT) AS frame_index,
        |       CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       CAST(1 AS BIGINT) AS channels,
        |       CAST(SUM(v) AS DOUBLE) / 16 AS brightness
        |FROM px GROUP BY id, f ORDER BY id, frame_index""".stripMargin,
    "media_audio" ->
      """WITH ids AS (SELECT event_id AS id FROM events WHERE event_id % 50 = 0),
        |s AS (SELECT id, i, ((id*37 + i*11) % 2048) - 1024 AS v
        |      FROM ids, range(0, 64) t(i)),
        |zc AS (SELECT a.id, COUNT(*) FILTER (a.v * b.v < 0) AS n
        |       FROM s a JOIN s b ON a.id = b.id AND b.i = a.i + 1 GROUP BY a.id)
        |SELECT s.id, CAST(16000 AS BIGINT) AS sample_rate,
        |       CAST(64 AS BIGINT) AS n_samples,
        |       round(sqrt(CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE) / 64), 6) AS rms,
        |       CAST(MAX(abs(v)) AS BIGINT) AS peak,
        |       CAST(ANY_VALUE(zc.n) AS BIGINT) AS zero_crossings
        |FROM s JOIN zc ON s.id = zc.id
        |GROUP BY s.id ORDER BY s.id""".stripMargin)
}
