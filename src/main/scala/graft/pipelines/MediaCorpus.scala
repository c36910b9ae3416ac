package graft.pipelines

import graft.operators.{Dedup, Media, Packing}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end MULTIMODAL corpus preparation — [[Corpus.prepare]]'s
  * sibling for an image corpus: decode → perceptual (dHash) near-dup
  * pruning → feature floor → pixel-budget manifest packing, with the
  * same per-stage row accounting and release-handle lifecycle. Every
  * stage is an operator the oracle gates individually
  * (`media_features` for decode+features, `media_phash_pairs` for the
  * fingerprint pair core); the composition adds no new semantics —
  * only the wiring a production multimodal curation run needs as ONE
  * accounted pipeline (brief-level scope: the reference engine is
  * text/numeric only — `merlin_etl.py` has no media path — so this
  * composition extends the training-data-pipeline family, not the
  * reference surface).
  *
  * Scale shape: ONE decode pass staged up front (the expensive
  * mapPartitions codec seam) and reused by the fingerprint, the
  * feature floor, and the manifest; near-dup candidates come from the
  * pigeonhole-banded Hamming core (never all-pairs); packing is the
  * per-shard windowed cumsum. At 100 TB the manifest (ids + placement,
  * no pixels) is the only output that leaves the cluster.
  */
object MediaCorpus {

  final case class MediaPrepareStats(input: Long, decoded: Long,
                                     afterNearDup: Long,
                                     afterFeature: Long)

  /** @param images      (id: long, payload: binary) image corpus
    * @param maxDist     Hamming radius for perceptual near-dup pairs
    * @param minBrightness feature floor: images darker than this are
    *                    dropped (the degenerate-content rule — a real
    *                    run swaps in any decoded-feature predicate)
    * @param maxBrightness feature ceiling (same rule, bright side)
    * @param pixelBudget pixels per packed manifest chunk
    * @param nShards     parallel manifest streams
    * @param withStats   per-stage accounting costs one extra action
    *                    per stage (the [[Corpus.prepare]] contract);
    *                    false runs ZERO accounting actions —
    *                    construction stays one lazy plan apart from
    *                    the near-dup component closure (the exact
    *                    action delta is plan-contracted in
    *                    MediaCorpusSpec)
    * @param maxPieceFreq piece-frequency cap for the Hamming band
    *                    join — MaxValue (default) is EXACT by the
    *                    pigeonhole theorem; production corpora with
    *                    adversarial fingerprint entropy cap it (the
    *                    [[graft.operators.Dedup.simhashPairs]] trade)
    * @return (manifest frame `(id, brightness, n_pixels, shard,
    *         chunk_id)`, per-stage accounting, release handle for the
    *         staged decode pin)
    */
  def prepare(images: DataFrame, maxDist: Int = 3,
              minBrightness: Double = 0.0, maxBrightness: Double = 255.0,
              pixelBudget: Int = 4096, nShards: Int = 8,
              withStats: Boolean = true,
              maxPieceFreq: Long = Long.MaxValue)
      : (DataFrame, MediaPrepareStats, () => Unit) = {
    def tally(df: DataFrame): Long = if (withStats) df.count() else -1L
    val input = tally(images)

    // 1. decode ONCE and stage the pixel frame — the mapPartitions
    //    codec pass is this pipeline's expensive stage and three
    //    consumers read it (fingerprint, feature floor, manifest).
    //    persist with lineage, not localCheckpoint: corpus-sized
    //    (the Corpus.prepare recoverability argument). Rows that fail
    //    to decode drop HERE, which is what the 2_decoded stage
    //    accounts for.
    val decoded = Media.decodeImages(images)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // nDecoded rides the fused stage aggregate below (round-18): the
    // feature projection is row-preserving over `decoded`, so its
    // count(*) IS the decoded count — the separate pin-filling count
    // job was redundant (the signature checkpoint fills the pin in
    // the accounted path anyway).

    // 2. perceptual near-dup pruning: canonical 9×8 resize → native
    //    codegen'd dHash → pigeonhole-banded Hamming pairs →
    //    component losers (keep-min rule). The 8-byte signature frame
    //    localCheckpoints because BOTH self-join sides of the pair
    //    core read it (the mediaPhashPairs idiom); the exchange width
    //    follows the ~1-partition-per-250-signatures rule with the
    //    session width as floor.
    // eager only when accounting already materializes the stages —
    // the LAZY path defers the checkpoint to the caller's first
    // action (the zero-accounting-actions contract, plan-contracted
    // in MediaCorpusSpec; both pair-core sides still read the
    // materialized frame once it lands)
    val sigs = Media.resizeImages(decoded, 9, 8)
      .select(col("id").as("doc_id"),
        Media.dhash64.as("sh"))
      .filter(col("sh").isNotNull)
      .localCheckpoint(eager = withStats)
    // pair-stage width: the lazy path estimates the corpus size from
    // the optimizer instead of counting (~4 KB/payload; the
    // [session, 4096] clamp bounds both directions — the
    // Corpus.prepare rule)
    // unknown-stats sentinel → session width (the Corpus.prepare rule)
    val nSigs =
      if (input >= 0) input
      else {
        val size = images.queryExecution.optimizedPlan.stats.sizeInBytes
        val sentinel = images.sparkSession.sessionState.conf.defaultSizeInBytes
        if (size >= BigInt(sentinel)) 0L
        else (size / 4096).min(BigInt(Long.MaxValue)).toLong
      }
    val pairParts = {
      val derived = math.min(4096L, nSigs / 250L).toInt
      val session =
        images.sparkSession.sessionState.conf.numShufflePartitions
      if (derived > session) derived else 0
    }
    val pairs = Dedup.hammingPairsOfSignatures(sigs, maxDist,
      maxPieceFreq = maxPieceFreq, pairParts = pairParts)
    val losers = Dedup.componentLosers(pairs).select(col("node").as("id"))
    val deduped = decoded.join(losers, Seq("id"), "left_anti")

    // 3. feature floor over the staged pixels: native codegen'd
    //    brightness (graft_byte_sum / n) against the [lo, hi] band.
    val feats = Media.imageFeatures(deduped)
    val kept = feats.filter(
      col("brightness").between(minBrightness, maxBrightness))

    // Stage tallies 2-3 fused into ONE action over the staged pin
    // (the Corpus.prepare accounting shape: conditional aggregate
    // once the loser set is known).
    val (nDecoded, nNearDup, nFeature) =
      if (!withStats) (-1L, -1L, -1L)
      else {
        val r = Media.imageFeatures(decoded)
          .join(losers.withColumn("__lost", lit(true)), Seq("id"), "left")
          .select(coalesce(col("__lost"), lit(false)).as("__lost"),
            col("brightness").between(minBrightness, maxBrightness).as("__b"))
          .agg(count(lit(1)).as("n"),
            count(when(!col("__lost"), 1)).as("a"),
            count(when(!col("__lost") && col("__b"), 1)).as("b"))
          .head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }

    // 4. manifest packing: shard by id, per-shard cumulative pixel
    //    budget — the [[Packing.packByTokenBudget]] core with pixels
    //    as the size unit. The manifest carries placement + features,
    //    never pixels.
    val manifest = Packing.packByTokenBudget(
        kept.withColumn("n_pixels",
          (col("width") * col("height") * col("channels")).cast("long")),
        col("id"), col("n_pixels"), pixelBudget, nShards)
      .select(col("id"), col("brightness"), col("n_pixels"),
        col("shard"), col("chunk_id"))

    (manifest, MediaPrepareStats(input, nDecoded, nNearDup, nFeature),
      () => { decoded.unpersist(false); () })
  }
}
