package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale rehearsal (round-9 task, landed round 11): derive a ~10×
  * documents/embeddings fixture from sf0.1 and run the heaviest
  * text/embedding pipelines end-to-end at BOTH scales, so the
  * "scales linearly" claims rest on a measured 10× point, not only on
  * plan-shape audits. Dev tool — not part of the driver contract.
  *
  * Fixture derivation (deterministic, seed-free):
  *  - documents ×R: replica r offsets doc_id by r·10⁷ and, for r>0,
  *    splices a (replica, doc)-UNIQUE marker token after every 4th
  *    token. The marker lands in ~every trigram shingle, so
  *    CROSS-replica Jaccard collapses below any dedup threshold
  *    (replicating verbatim would instead multiply every duplicate
  *    group by R and grow the pair graph ~R² — a different,
  *    unrealistic workload). The marker must be unique PER DOC, not
  *    just per replica: a shared per-replica marker at ~25% token
  *    density dominates every SimHash signature and welds each
  *    replica into one Hamming-close blob (measured: 18.8M "true"
  *    ≤6-distance pairs at ×10, recall 0.28 as the hot-bucket cap
  *    dropped the degenerate buckets — the cap doing its documented
  *    job on a corpus no real pipeline resembles). Doc-unique
  *    markers push exactly those artificial pairs apart while
  *    leaving replica 0 (the genuine sf0.1 near-dup structure)
  *    untouched.
  *  - embeddings ×R: vec_id offset the same way; each component of a
  *    replica vector gets a bounded deterministic perturbation
  *    (±0.05, sin-derived from ids) so replicas land NEAR the
  *    original cluster structure without being pairwise-identical —
  *    semantic dedup and IVF assignment stay non-degenerate.
  *
  * Usage: `runMain graft.tools.ScaleRehearsal [outDir]` (default
  * `target/sf1`); SPARK_GRAFT_SCALE_REPLICAS overrides R (default 10).
  * Prints one JSON line per (scale, query) and a final scaling
  * summary; results are recorded in BASELINE.md.
  */
object ScaleRehearsal {

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Replicate a keyed table ×R: every column in `offsetCols` (Long
    * entity keys) shifts by r·10⁷ per replica so foreign-key
    * relationships hold WITHIN a replica and never collide across
    * replicas; all other columns pass through. Dimension tables
    * (nation, region) are copied, not replicated — a 10× fact load
    * joins the same dims, exactly like production growth.
    */
  private def replicateKeyed(spark: SparkSession, base: String, out: String,
                             name: String, r: Int,
                             offsetCols: Seq[String]): Unit = {
    // events carries vintage-dependent timestamp physical types (INT64
    // TIMESTAMP(NANOS) on older driver fixtures — illegal for a raw
    // parquet read) — go through Tables.table, whose encoding dispatch
    // loads every vintage identically; the replica it writes then
    // carries plain TimestampType micros, which the same dispatch
    // passes through when the rehearsal queries read it back.
    val df = if (name == "events") Tables.table(spark, base, name)
             else spark.read.parquet(s"$base/$name.parquet")
    val reps = spark.range(r.toLong).select(col("id").as("__r"))
    val idOff = col("__r") * lit(10000000L)
    val cols = df.columns.map { c =>
      if (offsetCols.contains(c)) (col(c) + idOff).as(c) else col(c) }
    df.crossJoin(reps).select(cols.toIndexedSeq: _*)
      .repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
  }

  /** Build the COMPLETE ×R fixture at `out` — every test table, so
    * the full 76-query suite (not just the text/embedding pipelines)
    * can run at scale.
    */
  def generate(spark: SparkSession, base: String, out: String, r: Int): Unit = {
    val reps = spark.range(r.toLong).select(col("id").as("__r"))
    val idOff = col("__r") * lit(10000000L)

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val marked = docs.crossJoin(reps).select(
      (col("doc_id") + idOff).as("doc_id"),
      when(col("__r") === 0, col("text")).otherwise(
        regexp_replace(col("text"), lit("(\\S+ \\S+ \\S+ \\S+) "),
          concat(lit("$1 zq"), col("__r"), lit("x"), col("doc_id"),
            lit(" ")))).as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    marked.repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val pemb = emb.crossJoin(reps).select(
      (col("vec_id") + idOff).as("vec_id"),
      when(col("__r") === 0, col("embedding")).otherwise(
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (v, i) => v + (sin((col("vec_id") + idOff) * 31 + i * 7) * 0.05)
            .cast("float"))).as("embedding"),
      col("label"))
    pemb.repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // relational fact tables: keys offset per replica (FKs hold
    // within a replica); events keep their timestamps — ×R rows in
    // the same window is exactly a ×R event-rate deployment
    replicateKeyed(spark, base, out, "lineitem", r,
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicateKeyed(spark, base, out, "orders", r, Seq("o_orderkey", "o_custkey"))
    replicateKeyed(spark, base, out, "customer", r, Seq("c_custkey"))
    replicateKeyed(spark, base, out, "supplier", r, Seq("s_suppkey"))
    replicateKeyed(spark, base, out, "part", r, Seq("p_partkey"))
    replicateKeyed(spark, base, out, "events", r, Seq("event_id", "user_id"))
    // dimensions: copied, never replicated
    replicateKeyed(spark, base, out, "nation", 1, Nil)
    replicateKeyed(spark, base, out, "region", 1, Nil)
  }

  /** Per-query memory-headroom probe: stage-level executor metric
    * peaks (polled by the driver's heartbeat) plus task-level spill
    * totals, reset per query. This is the "how close to the 128 GiB
    * ceiling did it run" evidence the 100 TB claims need alongside
    * wall ratios — a query whose wall scales linearly but whose peak
    * execution memory scales linearly TOO dies at the next 10×.
    */
  private class MemListener extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val peakExec = new AtomicLong(0)   // on+off-heap execution memory, stage peak
    val peakHeap = new AtomicLong(0)   // JVM heap peak
    val peakTask = new AtomicLong(0)   // single-task peak execution memory
    val spill = new AtomicLong(0)      // memoryBytesSpilled (deserialized size)
    val spillDisk = new AtomicLong(0)  // diskBytesSpilled (on-disk size)
    def reset(): Unit = Seq(peakExec, peakHeap, peakTask, spill, spillDisk).foreach(_.set(0))
    private def bump(a: AtomicLong, v: Long): Unit =
      a.updateAndGet(p => math.max(p, v))
    private def bumpFrom(m: org.apache.spark.executor.ExecutorMetrics): Unit = {
      bump(peakExec, m.getMetricValue("OnHeapExecutionMemory")
        + m.getMetricValue("OffHeapExecutionMemory"))
      bump(peakHeap, m.getMetricValue("JVMHeapMemory"))
    }
    // live sessions surface executor metric peaks via the heartbeat-
    // driven ExecutorMetricsUpdate events; StageExecutorMetrics is the
    // event-log replay form — handle both so the probe works either way
    override def onStageExecutorMetrics(
        e: org.apache.spark.scheduler.SparkListenerStageExecutorMetrics): Unit =
      bumpFrom(e.executorMetrics)
    override def onExecutorMetricsUpdate(
        e: org.apache.spark.scheduler.SparkListenerExecutorMetricsUpdate): Unit =
      e.executorUpdates.values.foreach(bumpFrom)
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        bump(peakTask, m.peakExecutionMemory)
        spill.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("target/sf1")
    val r = sys.env.get("SPARK_GRAFT_SCALE_REPLICAS").map(_.toInt).getOrElse(10)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    if (!exists(spark, s"$out/embeddings.parquet")) {
      val t0 = System.nanoTime()
      generate(spark, base, out, r)
      println(f"""{"metric":"fixture_gen","sec":${(System.nanoTime() - t0) / 1e9}%.1f,"replicas":$r}""")
    }

    // the 5 heaviest pipelines (VERDICT r10 plan audit), CC forced
    // onto the distributed star-contraction loop — plus the media ANN
    // pair (round-12): the brute-force exact gate vs its IVF sibling,
    // so the "IVF makes image similarity sub-linear" claim is a
    // measured ratio, not a plan-shape argument.
    // SPARK_GRAFT_SCALE_QUERIES overrides (comma-separated).
    val qs = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("corpus_prepare", "semantic_dedup", "minhash_pairs",
        "winnow_overlap", "dedup_components_dist", "media_knn", "media_knn_ivf",
        "substr_scrub")) // round-14: the ExactSubstr gram aggregate's ×R point
    // rehearsal-only queries (not driver-gated): the auto-sized
    // quantizer production path for the cluster-blocked family. Since
    // round 14 both auto paths are ALSO gated rows-only queries with
    // per-round QUALITY floors (SparkEntry.queries resolves them);
    // the rehearsal keeps an UNMEMOIZED semantic_dedup_auto so the ×R
    // wall measures the build, not a session-cache hit.
    val extraQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "semantic_dedup_auto" -> ((s, dir) =>
        graft.operators.Similarity.semanticDedupAuto(
          Tables.embeddings(s, dir), eps = 0.4)),
      // the production config for low-entropy fingerprint corpora
      // (round-15): the ×30 audio fixture collapses to 128 distinct
      // fingerprints over 60k clips, so the UNCAPPED gate sweep's
      // true output is 1.1e8 pairs — output-bound by construction;
      // this capped form is what a clustered corpus runs
      "media_audio_phash_capped" -> ((s, dir) =>
        graft.queries.MediaPipeline.audioPhashPairsOf(s, dir,
          maxPieceFreq = 1000L)),
      // round-17 (VERDICT r16 gap #4): the two batch COMPOSITIONS at
      // ×R, withStats both ways. The gated entries
      // (corpus_prepare_semantic, media_prepare) run the accounted
      // form; these run the SAME pipelines with withStats=false, so
      // each ×R pair measures the per-stage accounting overhead at
      // scale — the production story rests on the lazy variant
      // (plan-contracted in CorpusSpec/MediaCorpusSpec).
      "corpus_prepare_semantic_lazy" -> ((s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val emb = Tables.embeddings(s, dir)
        val (prepared, _, release) = graft.pipelines.Corpus.prepare(docs,
          withStats = false,
          embeddings = emb, semanticEps = 0.4,
          semanticCentroids = emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("centroid_id"),
              col("embedding").as("centroid")),
          decontamHoldout = emb.filter(col("vec_id") % 97 === 0),
          decontamEps = 0.8)
        val out = prepared.select("split", "shard", "n_tokens", "chunk_id")
          .localCheckpoint()
        release()
        out
      }),
      "media_prepare_lazy" -> ((s, dir) => {
        val (manifest, _, release) = graft.pipelines.MediaCorpus.prepare(
          graft.queries.MediaPipeline.imageFixture(s, dir),
          minBrightness = 127.0, pixelBudget = 1024, nShards = 4,
          withStats = false)
        val out = manifest.select("shard", "chunk_id", "n_pixels")
          .localCheckpoint()
        release()
        out
      }),
      // the CAPPED media composition (round-17): the ×10 image fixture
      // collapses 25k stub payloads to 32 distinct dHash values (top
      // family 785 members), so the UNCAPPED exact gate's pair stage
      // is output-bound quadratic by construction — the audio-×30
      // entropy-collapse class. This capped form is what a clustered
      // corpus runs (boundedness over completeness; realistic-entropy
      // recall is floor-gated per round).
      "media_prepare_capped" -> ((s, dir) => {
        val (manifest, _, release) = graft.pipelines.MediaCorpus.prepare(
          graft.queries.MediaPipeline.imageFixture(s, dir),
          minBrightness = 127.0, pixelBudget = 1024, nShards = 4,
          maxPieceFreq = 250L)
        val out = manifest.select("shard", "chunk_id", "n_pixels")
          .localCheckpoint()
        release()
        out
      }),
      // the PRODUCTION-shaped text composition: auto-sized quantizer
      // (semanticCentroids = null trains kmeansCentroidsAuto on the
      // survivors) instead of the gate's fixed first-8 quantizer,
      // whose 8 giant clusters make the within-cluster pair stage
      // quadratic at ×R (the documented fixed-quantizer artifact —
      // r13 note; measured ~90× with spill at ×30)
      "corpus_prepare_semantic_auto_lazy" -> ((s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val emb = Tables.embeddings(s, dir)
        val (prepared, _, release) = graft.pipelines.Corpus.prepare(docs,
          withStats = false,
          embeddings = emb, semanticEps = 0.4,
          decontamHoldout = emb.filter(col("vec_id") % 97 === 0),
          decontamEps = 0.8)
        val out = prepared.select("split", "shard", "n_tokens", "chunk_id")
          .localCheckpoint()
        release()
        out
      }),
      "media_prepare_capped_lazy" -> ((s, dir) => {
        val (manifest, _, release) = graft.pipelines.MediaCorpus.prepare(
          graft.queries.MediaPipeline.imageFixture(s, dir),
          minBrightness = 127.0, pixelBudget = 1024, nShards = 4,
          withStats = false, maxPieceFreq = 250L)
        val out = manifest.select("shard", "chunk_id", "n_pixels")
          .localCheckpoint()
        release()
        out
      }))
    // Session-throughput probe (round-15, self-normalizing protocol):
    // the ~10 ms/job scheduler overhead barely moves between sessions,
    // but heavy-compute throughput swings 1.5-6× (the round-14 same-day
    // A/B: identical code, CC loop 25.0 → 1.37 s purely by session).
    // Stamping overhead BEFORE and AFTER the run brackets the session;
    // the per-query ANCHOR (the sf0.1 run in this same session) is
    // what makes the ratios comparable across rounds without session
    // forensics — BASELINE.md tables record ratios, not walls.
    val overheadPreMs = graft.Bench.probeJobOverheadMs(spark)

    val mem = new MemListener
    spark.sparkContext.addSparkListener(mem)
    val results = scala.collection.mutable.Map[(String, String), Double]()
    val steady = scala.collection.mutable.Map[(String, String), Double]()
    // the ×R dir runs FIRST: first-run walls absorb JVM-wide one-time
    // costs (Janino in the shared source-keyed codegen cache, JIT), so
    // whichever scale runs first is inflated. Charging that to the ×R
    // side biases the reported ratio HIGH — the "scales ≈ linearly"
    // conclusion is then conservative, never flattered by warm-up.
    for (dir <- Seq(out, base); name <- qs) {
      val fn = extraQueries.getOrElse(name, graft.SparkEntry.queries(name))
      // per-query isolation (round 18): a query that REFUSES at scale
      // — the hamming entropy guard failing loud on a collapsed
      // fingerprint fixture is the designed case — becomes a reported
      // row, not a crashed rehearsal; the remaining queries still
      // produce their ×R evidence.
      try {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val first = (System.nanoTime() - t0) / 1e9
        mem.reset() // attribute memory to the steady (second) run only
        val t1 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val second = (System.nanoTime() - t1) / 1e9
        // listener events drain asynchronously; let the heartbeat-polled
        // stage metrics land before reading the peaks
        org.apache.spark.sql.graftbridge.ListenerBus.drainListeners(spark.sparkContext)
        results((dir, name)) = first
        steady((dir, name)) = second
        val mb = 1024.0 * 1024.0
        println(f"""{"metric":"scale_rehearsal","dir":"$dir","query":"$name","first_sec":$first%.2f,"second_sec":$second%.2f,"peak_exec_mb":${mem.peakExec.get / mb}%.0f,"peak_heap_mb":${mem.peakHeap.get / mb}%.0f,"peak_task_mb":${mem.peakTask.get / mb}%.0f,"spill_mem_mb":${mem.spill.get / mb}%.0f,"spill_disk_mb":${mem.spillDisk.get / mb}%.0f}""")
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        println(s"""{"metric":"scale_rehearsal","dir":"$dir","query":"$name","error":${graft.Json.str(msg)}}""")
      }
    }
    val overheadPostMs = graft.Bench.probeJobOverheadMs(spark)
    // the self-contained summary: every ×R wall ships WITH its
    // same-session sf0.1 anchor and both ratios (first-run: includes
    // per-scale one-time costs; steady: pure compute). Cross-round
    // tables diff `ratio_steady` — anchors absorb the session band.
    val summary = qs.filter(n =>
      results.contains((out, n)) && results.contains((base, n))).map { name =>
      val ratioFirst = results((out, name)) / results((base, name))
      val ratioSteady = steady((out, name)) / steady((base, name))
      f""""$name":{"anchor_sf01_sec":${results((base, name))}%.2f,"anchor_sf01_steady_sec":${steady((base, name))}%.2f,"x${r}_sec":${results((out, name))}%.2f,"x${r}_steady_sec":${steady((out, name))}%.2f,"ratio":$ratioFirst%.2f,"ratio_steady":$ratioSteady%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_summary","replicas":$r,"overhead_pre_ms":$overheadPreMs,"overhead_post_ms":$overheadPostMs,"queries":$summary}""")

    // Auto-quantizer quality evidence (round-13): the wall ratios
    // above show the auto path's cost; this block shows what it does
    // to RESULT quality at ×R, against ground truth the fixture
    // construction provides. SPARK_GRAFT_SCALE_AUTOQ=1 opt-in (it
    // re-runs the exact twins once more each).
    if (sys.env.get("SPARK_GRAFT_SCALE_AUTOQ").contains("1")) {
      // media: recall@5 of the auto-IVF against the brute-force exact
      // twin on the ×R fixture — the same floor style the fixed gate
      // uses (floor 0.75 in QualityMetrics). Driver-side set compare:
      // both results are probes×5 rows (small by construction), and a
      // DataFrame intersect would fuse two full ANN plans into one —
      // measured pathological at ×30 (a coalesced 4-partition sort).
      def pairsOf(df: DataFrame): Set[(Long, Long)] =
        df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairsOf(graft.queries.MediaPipeline.queries("media_knn")(spark, out))
      val approx = pairsOf(graft.queries.MediaPipeline.mediaKnnIvfAuto(spark, out))
      val mRecall = (exact intersect approx).size.toDouble / exact.size
      println(f"""{"metric":"autoq_quality","name":"media_knn_ivf_auto_recall@5","value":$mRecall%.4f,"floor":0.75}""")

      // semantic dedup: replica-family cohesion — the ×R fixture's
      // ground truth is that each base vector's R perturbed replicas
      // are a true near-dup family; cohesion = the fraction of rows
      // sharing their family's majority component (1.0 = every family
      // dedups as one group). Measured for BOTH quantizers on the
      // SAME fixture, so the auto path's quality cost is a direct A/B.
      def famCohesion(df: DataFrame): Double = {
        val top = df.select(pmod(col("vec_id"), lit(10000000L)).as("base"),
            col("component"))
          .groupBy("base", "component").count()
          .groupBy("base").agg(max("count").as("top"), sum("count").as("n"))
        top.agg(sum(col("top")).cast("double") / sum(col("n")))
          .head().getDouble(0)
      }
      val fixedC = famCohesion(graft.SparkEntry.queries("semantic_dedup")(spark, out))
      val autoC = famCohesion(extraQueries("semantic_dedup_auto")(spark, out))
      println(f"""{"metric":"autoq_quality","name":"semdedup_family_cohesion_fixed","value":$fixedC%.4f}""")
      println(f"""{"metric":"autoq_quality","name":"semdedup_family_cohesion_auto","value":$autoC%.4f}""")
    }

    // Quality floors at scale (round-12, VERDICT item 6): re-verify
    // the recall/accuracy floors against the ×R fixture whenever the
    // rehearsal runs, so floor evidence at scale stops being a
    // one-off. Opt-out via SPARK_GRAFT_SCALE_QUALITY=0 — the simhash
    // truth side is O(n²) in documents (a gate computation), which at
    // R≳30 (≥150k docs) is rehearsal-dominating.
    if (!sys.env.get("SPARK_GRAFT_SCALE_QUALITY").contains("0")) {
      val qout = s"QUALITY_scale_x$r.json"
      val (allPass, _) = graft.Quality.writeArtifact(spark, out, qout)
      println(s"""{"metric":"scale_quality","artifact":"$qout","all_pass":$allPass}""")
    }

    spark.stop()
  }
}
