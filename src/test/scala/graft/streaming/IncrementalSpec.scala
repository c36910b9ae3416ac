package graft.streaming

import graft.{CrashFs, SparkSpec, Tables}
import graft.store.SegmentStore
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Incremental micro-batch semantics: the checkpoint is the cursor —
  * re-runs are no-ops, new files are consumed exactly once.
  */
class IncrementalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** A 9×8 single-channel IMG0 whose dHash is EXACTLY fp: each row
    * walks ±8 from 120, so gray(x+1) > gray(x) iff bit y·8+x is set —
    * fingerprints are directly programmable, near-dups are bit flips.
    */
  private def imgOf(fp: Long): Array[Byte] = {
    val px = new Array[Byte](72)
    for (y <- 0 until 8) {
      var v = 120
      px(y * 9) = v.toByte
      for (x <- 0 until 8) {
        v = if (((fp >>> (y * 8 + x)) & 1L) == 1L) v + 8 else v - 8
        px(y * 9 + x + 1) = v.toByte
      }
    }
    graft.operators.Media.ImageMagic ++ Array[Byte](0, 9, 0, 8, 1) ++ px
  }

  test("ingestIncrement consumes each file exactly once across runs") {
    val src = Files.createTempDirectory("inc_src").toString
    val dest = Files.createTempDirectory("inc_dest").toString + "/t"
    val ckpt = Files.createTempDirectory("inc_ckpt").toString

    val ev = Tables.events(spark, sf).cache()
    val total = ev.count()
    val half = ev.filter(col("event_id") % 2 === 0)
    val rest = ev.filter(col("event_id") % 2 === 1)

    // the file source scans a directory of parquet files
    val flat = src + "/flat"
    half.write.mode("overwrite").parquet(flat)
    Incremental.ingestIncrement(spark, flat, dest, ckpt)
    val n1 = spark.read.parquet(dest).count()
    assert(n1 == half.count())

    // run again with nothing new: checkpoint makes it a no-op
    Incremental.ingestIncrement(spark, flat, dest, ckpt)
    assert(spark.read.parquet(dest).count() == n1)

    // add the second half as new files → only the delta appends
    rest.write.mode("append").parquet(flat)
    Incremental.ingestIncrement(spark, flat, dest, ckpt)
    assert(spark.read.parquet(dest).count() == total)

    // a crash between the sink write and the checkpoint commit: the
    // last batch's commit record is gone, so the rerun replays it onto
    // the rows it already wrote — which must not double them
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(new org.apache.hadoop.fs.Path(ckpt + "/commits"))
      .map(_.getPath).filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(fs.delete(last, false))
    Incremental.ingestIncrement(spark, flat, dest, ckpt)
    assert(spark.read.parquet(dest).count() == total,
      "the replayed batch duplicated its events")

    // bucket partitioning materialized for pruning
    val buckets = spark.read.parquet(dest).select("bucket_unix").distinct().count()
    assert(buckets >= 1)

    // rollup over the incremental table equals the batch rollup
    val inc = Incremental.bucketRollup(spark, dest)
      .orderBy("bucket_unix", "event_type").collect().toSeq
    val batch = ev.withColumn("bucket_unix", graft.functions.TimeFns.bucket6h(col("ts")))
      .groupBy(col("bucket_unix"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("bucket_unix", "event_type").collect().toSeq
    assert(inc == batch)
    // suite hygiene: a cached events relation left behind would swap
    // InMemoryTableScan in for the parquet scan in OTHER suites' plan
    // audits (ExplainSpec asserts the canonical cold plans)
    ev.unpersist()
  }

  test("slidingActivity matches the batch sliding-window aggregation") {
    val src = Files.createTempDirectory("slide_src").toString + "/t"
    val ev = Tables.events(spark, sf)
    ev.write.parquet(src)

    val q = Incremental.slidingActivity(spark, src).writeStream
      .format("memory").queryName("sliding_activity")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // append mode emits only windows finalized by the watermark — every
    // emitted row must match the batch computation for its window
    val got = spark.sql(
      """SELECT window_start, event_type, n, total_value
        |FROM sliding_activity""".stripMargin)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.nonEmpty, "watermark should finalize at least the oldest windows")
    val batch = ev.groupBy(window(col("ts"), "60 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    got.foreach { case (k, v) => assert(batch(k) == v, s"window $k") }
  }

  test("dedupStream suppresses duplicate keys within the watermark") {
    val src = Files.createTempDirectory("dedup_src").toString + "/t"
    val ev = Tables.events(spark, sf)
    // duplicate every event id by unioning the table with itself
    ev.union(ev).write.parquet(src)

    val q = Incremental.dedupStream(spark, src, Seq("event_id")).writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val n = spark.sql("SELECT COUNT(*) FROM dedup_stream").collect().head.getLong(0)
    val distinct = spark.sql("SELECT COUNT(DISTINCT event_id) FROM dedup_stream")
      .collect().head.getLong(0)
    assert(n == distinct, "every key must appear once")
    assert(n == ev.count(), "all original events survive, duplicates dropped")
  }

  test("heavyHittersStream: MG bounds hold across checkpointed runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("hh_stream").toString
    val src = base + "/src"; val ck = base + "/ck"
    val schema = org.apache.spark.sql.Encoders.product[(String, String)].schema

    // memory sink cannot resume a checkpoint; foreachBatch can — each
    // run buffers its own emissions (last batch wins per run)
    def run(): Seq[(String, Long, Int)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int)]
      val in = spark.readStream.schema(schema).parquet(src).as[(String, String)]
      val q = Incremental.heavyHittersStream(in, k = 5, capacity = 8)
        .toDF("g", "item", "w", "rnk")
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // last non-empty batch wins: each batch's emission is the
          // group's CURRENT top-k, so earlier batches are superseded
          val rows = b.filter(col("g") === "A").select("item", "w", "rnk")
            .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
          buf.synchronized { if (rows.nonEmpty) { buf.clear(); buf ++= rows } }
          ()
        }
        .start()
      q.awaitTermination()
      buf.toSeq
    }

    // batch 1: "hot" appears 40× among 40 singletons in group A
    (Seq.fill(40)(("A", "hot")) ++ (1 to 40).map(i => ("A", s"noise$i")))
      .toDF("_1", "_2").write.parquet(src)
    val r1 = run().map(r => r._1 -> r._2).toMap
    assert(r1.contains("hot"), s"freq > N/m item must survive batch 1: $r1")
    assert(r1("hot") <= 40, "weight is a lower bound, never above truth")

    // batch 2: 30 more "hot" + fresh noise; state carries across runs
    (Seq.fill(30)(("A", "hot")) ++ (1 to 30).map(i => ("A", s"late$i")))
      .toDF("_1", "_2").write.mode("append").parquet(src)
    val r2 = run()
    val hot = r2.find(_._1 == "hot").getOrElse(fail(s"hot lost after merge: ${r2.toSeq}"))
    // total freq 70 over N=140 at m=8: bound guarantees survival AND
    // weight within N/m of truth
    assert(hot._2 <= 70 && hot._2 >= 70 - 140 / 8, s"weight bound violated: $hot")
    assert(hot._3 == 1, "hot must rank first")
    assert(r2.length <= 5, "emits at most k rows per group")
  }

  test("certifiedTopKStream: streaming certified top-K equals batch exactTopKPerGroup across checkpointed runs") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("cert_topk").toString
    val src = base + "/src"; val ck = base + "/ck"
    val state = base + "/state"; val out = base + "/out"

    def readOut() = ss.read.parquet(out)
      .select("grp", "item", "n", "rnk")
      .as[(String, String, Long, Long)].collect().toSet
    def batchTwin() = {
      val lake = ss.read.parquet(s"$state/lake")
      graft.operators.HeavyHitters.exactTopKPerGroup(
        lake, col("grp"), col("item"), k = 3, capacity = 16)
        .as[(String, String, Long, Long)].collect().toSet
    }

    // batch 1: group A has >capacity distinct items but a skewed head
    // (certifies via the k-th-count bound); group B fits entirely in
    // the summary (certifies via full coverage)
    val b1 = (Seq.fill(30)(("A", "a")) ++ Seq.fill(20)(("A", "b")) ++
      Seq.fill(10)(("A", "c")) ++ (1 to 20).map(i => ("A", s"noise$i")) ++
      Seq.fill(5)(("B", "x")) ++ Seq.fill(3)(("B", "y")) ++ Seq(("B", "z")))
    b1.toDF("grp", "item").write.parquet(src)
    Incremental.certifiedTopKStream(ss, src, state, out, ck, k = 3, capacity = 16)
    val r1 = readOut()
    assert(r1 == batchTwin(), "run 1: streaming result must equal the batch composition")
    assert(r1.exists(r => r._1 == "A" && r._2 == "a" && r._3 == 30L && r._4 == 1L))

    // batch 2 (restart from checkpoint): rank flip in A ("c" overtakes
    // "b"), B untouched — its stored result must survive verbatim
    val b2 = Seq.fill(25)(("A", "c")) ++ Seq.fill(4)(("A", "a"))
    b2.toDF("grp", "item").write.mode("append").parquet(src)
    Incremental.certifiedTopKStream(ss, src, state, out, ck, k = 3, capacity = 16)
    val r2 = readOut()
    assert(r2 == batchTwin(), "run 2: streaming result must equal batch over the FULL history")
    assert(r2.exists(r => r._1 == "A" && r._2 == "c" && r._3 == 35L && r._4 == 1L),
      "merged history must rank c (10+25) above a (34)")
    assert(r2.filter(_._1 == "B") == r1.filter(_._1 == "B"),
      "untouched group's certified result must persist across the restart")

    // a third no-new-files run is a no-op (checkpoint is the cursor)
    Incremental.certifiedTopKStream(ss, src, state, out, ck, k = 3, capacity = 16)
    assert(readOut() == r2)
  }

  test("certifiedTopKStream REFUSES when the distribution is too flat to certify") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("cert_topk_flat").toString
    // 40 distinct singletons at capacity 16: candidates cover < N and
    // the k-th count (1) cannot clear N/m — must throw, not emit ranks
    (1 to 40).map(i => ("FLAT", s"u$i")).toDF("grp", "item")
      .write.parquet(base + "/src")
    val e = intercept[Exception] {
      Incremental.certifiedTopKStream(ss, base + "/src", base + "/state",
        base + "/out", base + "/ck", k = 3, capacity = 16)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[IllegalStateException]),
      s"expected the certification refusal, got: $e")
  }

  test("certifiedTopKStream REFUSES when a batch collapses the merged summary to zero candidates") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("cert_topk_collapse").toString
    val src = base + "/src"
    // run 1: exactly `capacity` distinct singletons — certifies via
    // full coverage (sum of confirmed counts = lake count)
    (1 to 16).map(i => ("C", f"u$i%02d")).toDF("grp", "item").write.parquet(src)
    Incremental.certifiedTopKStream(ss, src, base + "/state", base + "/out",
      base + "/ck", k = 3, capacity = 16)
    assert(ss.read.parquet(base + "/out").count() == 3)
    // run 2: `capacity` NEW singletons. The MG COMBINE subtracts the
    // (capacity+1)-th weight (1) from every entry, so the merged
    // summary for the touched group collapses to ZERO entries. A
    // cert derived from the candidates would have no row for the
    // group at all — the stale run-1 ranks would silently stand as
    // "certified-exact" over a 32-item history where nothing is
    // certifiable. Derived from TOUCHED, it must refuse loudly.
    (1 to 16).map(i => ("C", f"v$i%02d")).toDF("grp", "item")
      .write.mode("append").parquet(src)
    val e = intercept[Exception] {
      Incremental.certifiedTopKStream(ss, src, base + "/state", base + "/out",
        base + "/ck", k = 3, capacity = 16)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[IllegalStateException]),
      s"expected the certification refusal, got: $e")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** The equality case's two certified runs (batches 0 and 1) under
    * `base`; returns (src, state, out, ck) and the snapshot function
    * of out, the lake rows with their segment ids and the newest
    * summary version.
    */
  private def certifiedTwoRuns(base: String)
      : ((String, String, String, String), () => (Seq[String], Seq[String], Seq[String])) = {
    val ss = spark; import ss.implicits._
    val (src, state, out, ck) = (base + "/src", base + "/state", base + "/out", base + "/ck")
    (Seq.fill(30)(("A", "a")) ++ Seq.fill(20)(("A", "b")) ++ Seq.fill(10)(("A", "c")) ++
      (1 to 20).map(i => ("A", s"noise$i")) ++ Seq.fill(5)(("B", "x")) ++
      Seq.fill(3)(("B", "y")) ++ Seq(("B", "z"))).toDF("grp", "item").write.parquet(src)
    Incremental.certifiedTopKStream(ss, src, state, out, ck, k = 3, capacity = 16)
    (Seq.fill(25)(("A", "c")) ++ Seq.fill(4)(("A", "a"))).toDF("grp", "item")
      .write.mode("append").parquet(src)
    Incremental.certifiedTopKStream(ss, src, state, out, ck, k = 3, capacity = 16)
    def snapshot() = {
      val summaries = new java.io.File(s"$state/summaries")
      val newest = summaries.listFiles().filter(_.isDirectory).map(_.getName)
        .maxBy(_.split('=').last.toLong)
      (sortedRows(ss.read.parquet(out).select("grp", "item", "n", "rnk")),
        sortedRows(ss.read.parquet(s"$state/lake").select("grp", "item", "__batch")),
        sortedRows(ss.read.parquet(s"$summaries/$newest").select("grp", "item", "w")))
    }
    ((src, state, out, ck), () => snapshot())
  }

  test("certifiedTopKStream: a replayed last batch leaves out, the lake and the newest summary identical") {
    val base = Files.createTempDirectory("cert_topk_replay").toString
    val ((src, state, out, ck), snapshot) = certifiedTwoRuns(base)
    val committed = snapshot()
    // a crash between the batch's writes and its checkpoint commit:
    // batch 1 is delivered again over the state it already wrote
    val commit = new org.apache.hadoop.fs.Path(s"$ck/commits/1")
    assert(commit.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(commit, false))
    Incremental.certifiedTopKStream(spark, src, state, out, ck, k = 3, capacity = 16)
    assert(snapshot() == committed)
  }

  test("certifiedTopKStream: a checkpoint reset with surviving state fails out of sync before any write") {
    val base = Files.createTempDirectory("cert_topk_desync").toString
    val ((src, state, out, ck), snapshot) = certifiedTwoRuns(base)
    val committed = snapshot()
    // batch ids restart at 0 and batch 0 now carries every source file:
    // rewriting lake segment 0 beside the surviving segment 1 would
    // count batch 1's rows twice
    new scala.reflect.io.Directory(new java.io.File(ck)).deleteRecursively()
    val e = intercept[Exception] {
      Incremental.certifiedTopKStream(spark, src, state, out, ck, k = 3, capacity = 16)
    }
    assert(messages(e).exists(_.contains("out of sync")), s"expected out of sync, got: $e")
    assert(snapshot() == committed, "the refused batch must write nothing")
  }

  test("certifiedTopKStream refuses summaries in the unmarked v=<n> layout") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("cert_topk_layout").toString
    Seq(("A", "a"), ("A", "b")).toDF("grp", "item").write.parquet(base + "/src")
    Seq(("A", "a", 3L)).toDF("grp", "item", "w").write.parquet(base + "/state/summaries/v=0")
    val e = intercept[Exception] {
      Incremental.certifiedTopKStream(ss, base + "/src", base + "/state", base + "/out",
        base + "/ck", k = 3, capacity = 16)
    }
    assert(messages(e).exists(_.contains("not a version directory")),
      s"expected the layout refusal, got: $e")
    assert(!new java.io.File(base + "/state/lake").exists() &&
      !new java.io.File(base + "/out").exists(), "the refused batch must write nothing")
  }

  test("qualityFilterStream equals the batch Pareto filter across incremental runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.QualityClassifier
    val base = Files.createTempDirectory("quality_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val w = Array.tabulate(32)(i => math.cos(i) * 1.5)
    val b = -0.75
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, (1 to 8).map(j => s"tok${(i * 7 + j) % 50}").mkString(" "))
    }.toDF("doc_id", "text")
    def batchKeep(docs: org.apache.spark.sql.DataFrame): Set[Long] = docs
      .withColumn("__s", QualityClassifier.score(
        graft.functions.TextFns.tokens(col("text")), w, b))
      .filter(QualityClassifier.paretoKeep(col("text"), col("__s"), 9.0))
      .select("doc_id").as[Long].collect().toSet

    mkDocs(1 to 60).write.parquet(src)
    Incremental.qualityFilterStream(ss, src, w, b, dest, ck)
    val got1 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    val want1 = batchKeep(mkDocs(1 to 60))
    assert(got1 == want1, s"run1 keep set diverged: ${got1.diff(want1)} / ${want1.diff(got1)}")
    assert(got1.nonEmpty && got1.size < 60,
      s"fixture must exercise both keep and drop (kept ${got1.size}/60)")

    // run 2: only the new files flow; union must equal the batch
    // filter over everything (the decision is per-row deterministic)
    mkDocs(61 to 90).write.mode("append").parquet(src)
    Incremental.qualityFilterStream(ss, src, w, b, dest, ck)
    val got2 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got2 == batchKeep(mkDocs(1 to 90)), "run2 keep set diverged")
  }

  test("semanticDecontamStream keeps what the frozen-holdout batch scorer keeps, across runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("semdecon_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    // holdout: two fixed directions; corpus vectors rotate around them
    // so both keeps and drops occur in every wave
    val holdout = Seq((9001L, Array(1f, 0f)), (9002L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    def mkVecs(ids: Range) = ids.map { i =>
      val a = i * 0.35
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
    def batchKeep(vecs: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.operators.Similarity.semanticDecontam(vecs, holdout, eps = 0.8)
        .filter(col("kept")).select("vec_id").as[Long].collect().toSet

    mkVecs(1 to 40).write.parquet(src)
    Incremental.semanticDecontamStream(ss, src, holdout, eps = 0.8, dest, ck)
    val got1 = ss.read.parquet(dest).select("vec_id").as[Long].collect().toSet
    val want1 = batchKeep(mkVecs(1 to 40))
    assert(got1 == want1, s"run1 keep set diverged: ${got1.diff(want1)} / ${want1.diff(got1)}")
    assert(got1.nonEmpty && got1.size < 40,
      s"fixture must exercise both keep and drop (kept ${got1.size}/40)")

    // run 2: only the new files flow; union must equal the batch
    // decision over everything (per-row deterministic, frozen
    // holdout), and a null-embedding arrival PASSES THROUGH rather
    // than silently vanishing (the substrScrubStream null-text rule)
    mkVecs(41 to 70)
      .unionByName(Seq((999L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
      .write.mode("append").parquet(src)
    Incremental.semanticDecontamStream(ss, src, holdout, eps = 0.8, dest, ck)
    val got2 = ss.read.parquet(dest).select("vec_id").as[Long].collect().toSet
    assert(got2 == batchKeep(mkVecs(1 to 70)) + 999L,
      "run2 keep set diverged (the unembeddable doc must be admitted)")
  }

  test("perplexityFilterStream drops what the batch frozen-model ceiling drops, across runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.LanguageModel
    val base = Files.createTempDirectory("ppl_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    // frozen model from a trusted reference corpus
    val ref = (1 to 30).map(i => (i.toLong, fluent)).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val model = LanguageModel.trainBigramModel(ref, v = 64)

    def mkDocs(ids: Range, scrambleIds: Set[Long]) = ids.map { i =>
      (i.toLong, if (scrambleIds(i.toLong))
        "rug the on sat dog mat cat the on sat the and" else s"$fluent again$i")
    }.toDF("doc_id", "text")
    def batchDrop(docs: org.apache.spark.sql.DataFrame, cut: Double): Set[Long] =
      LanguageModel.perplexityOf(docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks")), model)
        .filter(col("ppl") > cut).select("doc_id").as[Long].collect().toSet

    // pick a ceiling between the fluent and scrambled scores
    val probe = mkDocs(1 to 2, Set(2L))
    val probePpl = LanguageModel.perplexityOf(probe.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("__toks")), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val cut = (probePpl(1L) + probePpl(2L)) / 2.0
    assert(probePpl(1L) < cut && cut < probePpl(2L),
      s"fixture must separate: $probePpl")

    mkDocs(1 to 20, Set(5L, 9L)).write.parquet(src)
    Incremental.perplexityFilterStream(ss, src, model, cut, dest, ck)
    val got1 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got1 == (1L to 20L).toSet -- batchDrop(mkDocs(1 to 20, Set(5L, 9L)), cut))
    assert(got1 == (1L to 20L).toSet - 5L - 9L, s"scrambled docs must drop: $got1")

    mkDocs(21 to 30, Set(27L)).write.mode("append").parquet(src)
    Incremental.perplexityFilterStream(ss, src, model, cut, dest, ck)
    val got2 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got2 == (1L to 30L).toSet - 5L - 9L - 27L, s"run2 diverged: $got2")
  }

  test("dsirFilterStream keeps what the frozen-lambda batch scorer keeps, across runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.Retrieval
    val base = Files.createTempDirectory("dsir_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"

    // λ trained ONCE on a reference target/raw split: target speaks
    // "good clean data", raw speaks "bad junk rows".
    val ref = ((1 to 20).map(i => (i.toLong, "en", "good clean data good clean data")) ++
      (21 to 40).map(i => (i.toLong, "xx", "bad junk rows bad junk rows")))
      .toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val lambdaRows = Retrieval.dsirLambda(ref, col("lang") === "en", v = 64)
      .as[(String, Long)].collect().toSeq
    assert(lambdaRows.nonEmpty)

    def mkDocs(ids: Range, junkIds: Set[Long]) = ids.map { i =>
      (i.toLong, if (junkIds(i.toLong)) "bad junk rows bad junk rows"
      else s"good clean data number$i")
    }.toDF("doc_id", "text")
    def batchKeep(docs: org.apache.spark.sql.DataFrame): Set[Long] =
      Retrieval.dsirScores(
        docs.select(col("doc_id"), col("text"),
          graft.functions.TextFns.tokens(col("text")).as("__toks")),
        lambdaRows.toDF("f", "lambda_micro"), Seq("doc_id", "text"))
        .filter(col("logw_micro") >= 0L)
        .select("doc_id").as[Long].collect().toSet

    mkDocs(1 to 20, Set(4L, 11L)).write.parquet(src)
    Incremental.dsirFilterStream(ss, src, lambdaRows, minLogwMicro = 0L, dest, ck)
    val got1 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got1 == batchKeep(mkDocs(1 to 20, Set(4L, 11L))), s"run1 diverged: $got1")
    assert(got1 == (1L to 20L).toSet - 4L - 11L, s"junk docs must drop: $got1")

    // run 2: only new files flow; union equals the batch keep over all
    mkDocs(21 to 30, Set(25L)).write.mode("append").parquet(src)
    Incremental.dsirFilterStream(ss, src, lambdaRows, minLogwMicro = 0L, dest, ck)
    val got2 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got2 == (1L to 30L).toSet - 4L - 11L - 25L, s"run2 diverged: $got2")
  }

  test("weightedReservoirStream equals the batch weighted sample over all docs seen, across runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("wres_stream").toString
    val src = base + "/src"; val res = base + "/res"; val ck = base + "/ck"

    // varied lengths so weights differ meaningfully
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, Seq.fill(1 + (i * 7) % 40)(s"tok$i").mkString(" "))
    }.toDF("doc_id", "text")
    def batchTop(docs: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.operators.Packing.weightedSample(
        docs.select(col("doc_id"),
          size(graft.functions.TextFns.tokens(col("text")))
            .cast("long").as("n_tokens")),
        col("doc_id"),
        least(col("n_tokens") + 1,
          lit(graft.operators.Packing.MaxSampleWeight.toLong)), k = 10)
        .select("doc_id").as[Long].collect().toSet

    mkDocs(1 to 60).write.parquet(src)
    Incremental.weightedReservoirStream(ss, src, res, ck, k = 10)
    val got1 = Incremental.readReservoir(ss, res)
      .select("doc_id").as[Long].collect().toSet
    assert(got1 == batchTop(mkDocs(1 to 60)), s"run1 diverged: $got1")

    // run 2: only the new files flow; the merged reservoir must equal
    // the batch sample over the UNION — the E-S pure-key guarantee
    mkDocs(61 to 120).write.mode("append").parquet(src)
    Incremental.weightedReservoirStream(ss, src, res, ck, k = 10)
    val got2 = Incremental.readReservoir(ss, res)
      .select("doc_id").as[Long].collect().toSet
    assert(got2 == batchTop(mkDocs(1 to 120)), s"run2 diverged: $got2")
    assert(Incremental.readReservoir(ss, res).count() == 10)

    // crash-safety shape: a torn snapshot (no _SUCCESS) must be
    // invisible to reads — the previous committed snapshot survives
    val fs = new org.apache.hadoop.fs.Path(res)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(res, "__v=999")
    fs.mkdirs(torn)
    val after = Incremental.readReservoir(ss, res)
      .select("doc_id").as[Long].collect().toSet
    assert(after == got2, "an uncommitted snapshot dir must never be read")
    fs.delete(torn, true)
  }

  test("weightedReservoirStream: a replayed batch whose snapshot already committed re-derives it from the kept predecessor") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("wres_replay").toString
    val src = base + "/src"; val res = base + "/res"; val ck = base + "/ck"
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, Seq.fill(1 + (i * 7) % 40)(s"tok$i").mkString(" "))
    }.toDF("doc_id", "text")

    mkDocs(1 to 60).write.parquet(src)
    Incremental.weightedReservoirStream(ss, src, res, ck, k = 10)
    val committed = Incremental.readReservoir(ss, res)
      .select("doc_id").as[Long].collect().toSet
    assert(committed.size == 10)

    // a crash lands BETWEEN the snapshot's commit-marker write and
    // the streaming checkpoint commit, so on restart the replayed
    // batch sees its own snapshot as the latest committed version.
    // Simulated by dropping the checkpoint: batch 0 replays over a
    // reservoir that already committed batch 0. The replay rebuilds
    // its version from the kept predecessor (none for batch 0), and
    // the pure E-S key makes the rebuilt snapshot the committed one.
    val fs = new org.apache.hadoop.fs.Path(ck)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ck), true)
    Incremental.weightedReservoirStream(ss, src, res, ck, k = 10)
    val after = Incremental.readReservoir(ss, res)
      .select("doc_id").as[Long].collect().toSet
    assert(after == committed, "replayed committed batch must be a no-op")
  }

  test("weightedReservoirStream: a reservoir AHEAD of the delivered batch fails loudly, never skips new data") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("wres_desync").toString
    val src = base + "/src"; val res = base + "/res"; val ck = base + "/ck"
    (1 to 20).map(i => (i.toLong, s"tok$i tok$i")).toDF("doc_id", "text")
      .write.parquet(src)
    Incremental.weightedReservoirStream(ss, src, res, ck, k = 5)

    // checkpoint lost/reset while the reservoir survives: batch ids
    // restart at 0, but a committed __v=5 claims batches 1..5 already
    // merged. Pre-fix the guard silently skipped every new batch up
    // to 5 (data committed as processed and DROPPED); now it must
    // refuse with a clear out-of-sync error.
    val fs = new org.apache.hadoop.fs.Path(res)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    val v0 = new org.apache.hadoop.fs.Path(res, "__v=0")
    val v5 = new org.apache.hadoop.fs.Path(res, "__v=5")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, v0, fs, v5, false,
      ss.sparkContext.hadoopConfiguration))
    fs.delete(new org.apache.hadoop.fs.Path(ck), true)
    (21 to 40).map(i => (i.toLong, s"tok$i")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Incremental.weightedReservoirStream(ss, src, res, ck, k = 5)
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg != null && msg.contains("out of sync"),
      s"expected a checkpoint/reservoir out-of-sync error, got: $msg")
  }

  test("weightedReservoirStream: a >=1e6-token document is clamped, not a poison pill") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("wres_huge").toString
    val src = base + "/src"; val res = base + "/res"; val ck = base + "/ck"
    // one doc past MaxSampleWeight tokens: pre-fix the raw n_tokens+1
    // weight tripped weightedSample's raise_error INSIDE the batch —
    // the batch never committed, so every restart replayed and
    // re-raised (permanent wedge). The clamp ties it at max weight.
    val huge = ("x " * 1000001).trim
    ((1 to 9).map(i => (i.toLong, s"tok$i tok$i")) :+ (99L, huge))
      .toDF("doc_id", "text").write.parquet(src)
    Incremental.weightedReservoirStream(ss, src, res, ck, k = 3)
    val got = Incremental.readReservoir(ss, res)
      .select("doc_id").as[Long].collect().toSet
    assert(got.size == 3, s"stream must complete and keep k docs, got $got")
    assert(got.contains(99L),
      "the max-weight doc should dominate the weighted draw")
  }

  test("substrScrubStreamFromDir: parquet-backed gram set scrubs identically to the driver-Seq form") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.functions.TextFns
    val base = Files.createTempDirectory("sscrub_dir").toString
    val src = base + "/src"; val ck1 = base + "/ck1"; val ck2 = base + "/ck2"
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val ref = Seq((101L, s"ref $span tail")).toDF("doc_id", "text")
    val gramsDf = Dedup.frozenDupGrams(
      ref.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks")), k = 8)
    gramsDf.write.parquet(base + "/grams")
    val gramRows = gramsDf.as[Long].collect().toSeq
    Seq((1L, s"u1 $span v1"), (2L, "u2 clean v2"))
      .toDF("doc_id", "text").write.parquet(src)
    Incremental.substrScrubStream(ss, src, gramRows, base + "/d1", ck1)
    Incremental.substrScrubStreamFromDir(ss, src, base + "/grams", base + "/d2", ck2)
    def rows(d: String) = ss.read.parquet(d)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(rows(base + "/d1") == rows(base + "/d2"),
      "the large-reference (parquet gram) form must scrub identically")
    assert(rows(base + "/d1").exists(r => r._1 == 1L && r._4 == "u1 v1"))
  }

  test("substrScrubStream: null-text docs pass through as empty docs, not null rows") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.functions.TextFns
    val base = Files.createTempDirectory("sscrub_null").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val ref = Seq((101L, s"ref $span tail")).toDF("doc_id", "text")
    val dupGrams = Dedup.frozenDupGrams(
      ref.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks")), k = 8)
      .as[Long].collect().toSeq
    Seq((1L, null: String), (2L, s"u2 $span v2"), (3L, "u3 clean v3"))
      .toDF("doc_id", "text").write.parquet(src)
    Incremental.substrScrubStream(ss, src, dupGrams, dest, ck)
    val got = ss.read.parquet(dest)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // a null text holds no span: the doc survives as an EMPTY doc
    // (the phraseFilterStream null-pass-through contract) — before
    // the coalesce it surfaced as null n_tokens/clean_text
    assert(got(1L) == ((1L, 0L, 0L, "")), s"null-text row diverged: ${got(1L)}")
    assert(got(2L) == ((2L, 10L, 8L, "u2 v2")), s"scrubbed row diverged: ${got(2L)}")
    assert(got(3L)._4 == "u3 clean v3")
  }

  test("dsirFilterStream with the batch-derived dsirThreshold reproduces the batch cut keep-set") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.Retrieval
    val base = Files.createTempDirectory("dsir_thr_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"

    // tie-free pool: i repetitions of the target phrase → logw
    // strictly graded, so the threshold form can reproduce the cut
    // exactly (the documented boundary-tie seam is not exercised —
    // on ties the stream errs INCLUSIVE by contract)
    val refRows = (1L to 4L).map(i => (i, "en", "good clean data")) ++
      (1L to 8L).map(i => (i + 9L, "fr",
        Seq.fill(i.toInt)("good clean data").mkString(" ")))
    val toks = refRows.toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val kept = Retrieval.dsir(toks, col("lang") === "en", v = 64, keepFrac = 0.3)
    val batchSet = kept.select("doc_id").as[Long].collect().toSet
    val thr = Retrieval.dsirThreshold(kept)
    val lambdaRows = Retrieval.dsirLambda(toks, col("lang") === "en", 64)
      .as[(String, Long)].collect().toSeq

    // the streaming firewall, frozen on (λ, threshold) derived from
    // the batch cut — the production hand-off this spec gates
    refRows.filter(_._2 != "en").map(r => (r._1, r._3)).toDF("doc_id", "text")
      .write.parquet(src)
    Incremental.dsirFilterStream(ss, src, lambdaRows, minLogwMicro = thr, dest, ck)
    val streamSet = ss.read.parquet(dest)
      .select("doc_id").as[Long].collect().toSet
    assert(streamSet == batchSet,
      s"stream admitted $streamSet, batch kept $batchSet")
  }

  test("substrScrubStream scrubs frozen reference spans exactly like the batch op over the union") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.functions.TextFns
    val base = Files.createTempDirectory("sscrub_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"

    // reference corpus holds the canonical span; frozen set trained once
    val span = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val ref = (1 to 3).map(i => (100L + i, s"ref$i filler $span tail$i"))
      .toDF("doc_id", "text")
    val dupGrams = Dedup.frozenDupGrams(
      ref.select(col("doc_id"), TextFns.tokens(col("text")).as("__toks")), k = 8)
      .as[Long].collect().toSeq
    assert(dupGrams.nonEmpty)

    // arrival ids ABOVE the reference ids: the batch twin's canonical
    // rule is min (doc_id, pos), and the frozen reduction assumes the
    // reference copy is the canonical one
    def mkDocs(ids: Range, dirty: Set[Long]) = ids.map { i =>
      (1000L + i, if (dirty(i.toLong)) s"u$i $span v$i" else s"u$i clean text v$i")
    }.toDF("doc_id", "text")

    mkDocs(1 to 8, Set(2L, 5L)).write.parquet(src)
    Incremental.substrScrubStream(ss, src, dupGrams, dest, ck)
    val got1 = ss.read.parquet(dest).select("doc_id", "clean_text")
      .as[(Long, String)].collect().toMap
    assert(got1(1002L) == "u2 v2" && got1(1005L) == "u5 v5",
      s"already-seen spans must vanish: $got1")
    assert(got1(1001L) == "u1 clean text v1", "clean docs pass untouched")

    // ≡ the BATCH scrub over reference ∪ arrivals (reference holds
    // every canonical copy and arrivals share no span among
    // themselves, so the frozen reduction is exact here)
    val batchClean = Dedup.exactSubstrScrub(
      ref.unionByName(mkDocs(1 to 8, Set(2L, 5L))),
      col("doc_id"), col("text"), k = 8)
      .filter(col("doc_id") >= 1000L).select("doc_id", "clean_text")
      .as[(Long, String)].collect().toMap
    assert(got1 == batchClean, "stream must equal the batch op over the union")

    // run 2: only the new files flow
    mkDocs(9 to 12, Set(11L)).write.mode("append").parquet(src)
    Incremental.substrScrubStream(ss, src, dupGrams, dest, ck)
    val got2 = ss.read.parquet(dest).select("doc_id", "clean_text")
      .as[(Long, String)].collect().toMap
    assert(got2.size == 12 && got2(1011L) == "u11 v11" &&
      got2(1009L) == "u9 clean text v9", s"run2 diverged: $got2")
  }

  test("phraseFilterStream: ingest firewall equals the batch phrase sweep across incremental runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.Retrieval
    val base = Files.createTempDirectory("phrase_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val phrases = Seq(1 -> Seq("bad", "bad"), 2 -> Seq("leak", "this", "now"))

    def mkDocs(ids: Range) = ids.map { i =>
      val body = i % 5 match {
        case 0 => "ok bad ok bad bad end"        // "bad bad" fires
        case 1 => "please leak this now thanks"  // 3-gram fires
        case 2 => "bad ok bad ok"                // lone bads — clean
        case 3 => "leak this later now"          // broken phrase — clean
        case _ => "totally fine text"
      }
      (i.toLong, body)
    }.toDF("doc_id", "text")

    def batchKept(docs: org.apache.spark.sql.DataFrame): Set[Long] = {
      val toks = docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))
      val hit = Retrieval.phrases(toks, phrases)
        .select("doc_id").distinct().as[Long].collect().toSet
      docs.select("doc_id").as[Long].collect().toSet -- hit
    }

    mkDocs(1 to 20).write.parquet(src)
    Incremental.phraseFilterStream(ss, src, phrases, dest, ck)
    val got1 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got1 == batchKept(mkDocs(1 to 20)), s"run1 diverged: $got1")

    mkDocs(21 to 35).write.mode("append").parquet(src)
    Incremental.phraseFilterStream(ss, src, phrases, dest, ck)
    val got2 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got2 == batchKept(mkDocs(1 to 35)), s"run2 diverged: $got2")
    assert(got2.size > got1.size, "run 2 must add newly kept docs")

    // a null-text doc matches nothing and must PASS THROUGH — the
    // un-coalesced predicate silently dropped it as if contaminated
    Seq((999L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    Incremental.phraseFilterStream(ss, src, phrases, dest, ck)
    val got3 = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(got3.contains(999L), "null-text doc must pass the firewall")
  }

  test("minhashIndexStream: incremental dedup — probe of appended index equals the batch cross sweep") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val base = Files.createTempDirectory("mh_stream").toString
    val src = base + "/src"; val idx = base + "/idx"; val ck = base + "/ck"

    // four long-bodied text families differing only in one tail token:
    // within-family Jaccard ≈ 0.9, so a 16×8 banding collides with
    // near-certainty (j≈0.5 families flaked at ~6% per band)
    val body = (1 to 24).map(k => s"word$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      val fam = i % 4  // four text families → cross-batch near-dups
      (i.toLong, s"family $fam $body tail $i")
    }.toDF("doc_id", "text")
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))
    def crossSweep(indexed: Range, probeIds: Range): Set[(Long, Long)] =
      Dedup.minhashCandidatesOfTokens(
        toToks(mkDocs(indexed.min to probeIds.max)))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) =>
          probeIds.contains(b.toInt) != probeIds.contains(a.toInt) }
        .map { case (a, b) =>
          if (probeIds.contains(a.toInt)) (a, b) else (b, a) }.toSet

    // seed index with 1..20, stream-append 21..30, probe 31..40
    Dedup.writeMinhashIndex(toToks(mkDocs(1 to 20)), idx)
    mkDocs(21 to 30).write.parquet(src)
    Incremental.minhashIndexStream(ss, src, idx, ck)
    val probe1 = Dedup.minhashProbe(toToks(mkDocs(31 to 40)), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe1 == crossSweep(1 to 30, 31 to 40),
      s"probe after append run 1 diverged: $probe1")
    assert(probe1.nonEmpty, "families must collide across batches")

    // second incremental append (31..40 joins the index), probe 41..45
    mkDocs(31 to 40).write.mode("append").parquet(src)
    Incremental.minhashIndexStream(ss, src, idx, ck)
    val probe2 = Dedup.minhashProbe(toToks(mkDocs(41 to 45)), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe2 == crossSweep(1 to 40, 41 to 45),
      s"probe after append run 2 diverged: $probe2")
    assert(probe2.exists(_._2 > 30L), "run-2 probes must hit run-2-appended docs")

    // ---- segment compaction (round 17) ----------------------------
    // merge the committed segments into the seed, keep the replay
    // tail: probes must be bit-identical, and the per-partition
    // directory count must collapse to seed + tail
    def files(sub: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$idx/$sub")
      val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
      def walk(q: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(q).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
      walk(p).filter(_.getName.endsWith(".parquet"))
    }
    def batchDirs(sub: String): Set[String] =
      files(sub).map(_.getParent.getName).toSet
    val filesBefore = files("bands").size
    assert(batchDirs("bands") == Set("__batch=-1", "__batch=0", "__batch=1"),
      s"fixture sanity: ${batchDirs("bands")}")
    val merged = SegmentStore.compactMinhashIndex(ss, idx)
    assert(merged == 2, s"seed + batch 0 must merge (batch 1 is the tail): $merged")
    assert(batchDirs("bands") == Set("__batch=-1", "__batch=1"),
      s"compaction must keep the replay tail: ${batchDirs("bands")}")
    assert(batchDirs("sigs") == Set("__batch=-1", "__batch=1"))
    assert(files("bands").size < filesBefore)
    val probe2c = Dedup.minhashProbe(toToks(mkDocs(41 to 45)), idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe2c == probe2, "compaction must not change probe results")
    // idempotent: only {seed, tail} left → nothing to merge
    assert(SegmentStore.compactMinhashIndex(ss, idx) == 0)
    // geometry sidecar survives compaction (mismatch still loud)
    val e = intercept[IllegalArgumentException](
      Dedup.minhashProbe(toToks(mkDocs(41 to 45)), idx, bands = 8))
    assert(e.getMessage.contains("bands"))
  }

  test("auto-compaction: the firewall segment-merges at the configured threshold, probes unchanged (round 18)") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val base = Files.createTempDirectory("auto_compact").toString
    val src = base + "/src"; val idx = base + "/idx"; val ck = base + "/ck"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    def batchDirs(table: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(table)
      def walk(q: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(q).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
      walk(p).filter(_.getName.endsWith(".parquet"))
        .map(_.getParent.getName).toSet
    }
    val body = (1 to 24).map(k => s"word$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, s"family ${i % 4} $body tail $i")
    }.toDF("doc_id", "text")
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))

    ss.conf.set(SegmentStore.AutoCompactSegmentsKey, "3")
    try {
      Dedup.writeMinhashIndex(toToks(mkDocs(1 to 20)), idx)
      // invocation 1: segments {-1, 0} = 2 < 3 → untouched
      mkDocs(21 to 25).write.parquet(src)
      Incremental.minhashIndexStream(ss, src, idx, ck)
      assert(batchDirs(s"$idx/bands") == Set("__batch=-1", "__batch=0"),
        s"below threshold must not compact: ${batchDirs(s"$idx/bands")}")
      // invocation 2: {-1, 0, 1} = 3 ≥ 3 → merge below the replay tail
      mkDocs(26 to 30).write.mode("append").parquet(src)
      Incremental.minhashIndexStream(ss, src, idx, ck)
      assert(batchDirs(s"$idx/bands") == Set("__batch=-1", "__batch=1"),
        s"at threshold the firewall must auto-compact: ${batchDirs(s"$idx/bands")}")
      assert(batchDirs(s"$idx/sigs") == Set("__batch=-1", "__batch=1"))
      // invocation 3: saw-tooth repeats, and the probe over the
      // auto-compacted index equals the full batch cross sweep
      mkDocs(31 to 35).write.mode("append").parquet(src)
      Incremental.minhashIndexStream(ss, src, idx, ck)
      assert(batchDirs(s"$idx/bands") == Set("__batch=-1", "__batch=2"))
      val probe = Dedup.minhashProbe(toToks(mkDocs(36 to 40)), idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sweep = Dedup.minhashCandidatesOfTokens(toToks(mkDocs(1 to 40)))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => (b >= 36L) != (a >= 36L) }
        .map { case (a, b) => if (a >= 36L) (a, b) else (b, a) }.toSet
      assert(probe == sweep,
        s"probe over the auto-compacted index diverged: $probe vs $sweep")
    } finally ss.conf.unset(SegmentStore.AutoCompactSegmentsKey)
  }

  test("compaction crash-recovery: a rerun after a crash in the swap window restores the merged rows (minhash two-table + BM25 single-table)") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    import graft.queries.Retrieval
    val base = Files.createTempDirectory("compact_crash").toString
    val croot = CrashFs.root(ss, base)
    val fs = new org.apache.hadoop.fs.Path(croot)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    def batchDirs(table: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(table)
      def walk(q: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(q).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
      walk(p).filter(_.getName.endsWith(".parquet"))
        .map(_.getParent.getName).toSet
    }

    // crash the compaction of `dir` at the first filesystem mutation
    // after the swap-state file `marker` is written
    def crashCompaction(dir: String, partCol: String, marker: String): Unit = {
      CrashFs.armAfter(marker)
      try intercept[java.io.IOException](SegmentStore(ss, dir, partCol).compact())
      finally CrashFs.disarm()
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__compacting/$marker")),
        s"the crash must land after $marker")
    }

    // ---- minhash two-table layout --------------------------------
    val src = base + "/src"; val idx = croot + "/idx"; val ck = base + "/ck"
    val body = (1 to 24).map(k => s"word$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, s"family ${i % 4} $body tail $i")
    }.toDF("doc_id", "text")
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))
    def probe(ids: Range): Set[(Long, Long)] =
      Dedup.minhashProbe(toToks(mkDocs(ids)), idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    Dedup.writeMinhashIndex(toToks(mkDocs(1 to 20)), idx)
    mkDocs(21 to 30).write.parquet(src)
    Incremental.minhashIndexStream(ss, src, idx, ck)
    mkDocs(31 to 40).write.mode("append").parquet(src)
    Incremental.minhashIndexStream(ss, src, idx, ck)
    val before = probe(41 to 45)
    assert(before.nonEmpty, "fixture must produce cross-batch collisions")

    // crash in the data-loss window: the superseded segments are
    // already deleted from the live tree and the merged seed has NOT
    // been renamed in — the temp tree holds the only copy
    crashCompaction(s"$idx/bands", "part", "_DELETES_DONE")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/bands__compacting")),
      "crashed swap must leave the temp tree in place")
    assert(!batchDirs(s"$idx/bands").exists(
      d => d == "__batch=-1" || d == "__batch=0"),
      s"crash must land AFTER the segment deletes: ${batchDirs(s"$idx/bands")}")
    // the natural operator response — rerun the maintenance op — must
    // COMPLETE the pending swap (the round-17 cut deleted the temp
    // tree on entry here, permanently destroying the merged rows)
    SegmentStore.compactMinhashIndex(ss, idx)
    assert(batchDirs(s"$idx/bands") == Set("__batch=-1", "__batch=1"),
      s"recovered bands layout: ${batchDirs(s"$idx/bands")}")
    assert(batchDirs(s"$idx/sigs") == Set("__batch=-1", "__batch=1"))
    assert(probe(41 to 45) == before,
      "probe after crash+rerun must equal the pre-compaction probe")

    // crash BEFORE any live mutation (markers down, live segments
    // intact): the rerun completes that swap too, same end state
    mkDocs(41 to 45).write.mode("append").parquet(src)
    Incremental.minhashIndexStream(ss, src, idx, ck)
    val before2 = probe(46 to 50)
    crashCompaction(s"$idx/bands", "part", "_SWAP_READY")
    assert(batchDirs(s"$idx/bands") == Set("__batch=-1", "__batch=1", "__batch=2"),
      s"crash must land BEFORE any live mutation: ${batchDirs(s"$idx/bands")}")
    SegmentStore.compactMinhashIndex(ss, idx)
    assert(batchDirs(s"$idx/bands") == Set("__batch=-1", "__batch=2"))
    assert(probe(46 to 50) == before2)

    // ---- BM25 single-table layout (postings, partCol=bucket) -----
    val bsrc = base + "/bsrc"; val bidx = croot + "/bidx"; val bck = base + "/bck"
    def mkB(ids: Range) = ids.map { i =>
      (i.toLong, s"alpha beta ${if (i % 3 == 0) "gamma gamma" else "delta"} w$i")
    }.toDF("doc_id", "text")
    val queries = Seq(1 -> Seq("gamma"), 2 -> Seq("alpha", "delta"))
    def brows(): Set[(Long, Long, Long, Long)] =
      Retrieval.bm25TopKIndexed(ss, bidx, queries, k = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    Retrieval.writeBm25Index(toToks(mkB(1 to 20)), bidx)
    mkB(21 to 30).write.parquet(bsrc)
    Incremental.bm25IndexStream(ss, bsrc, bidx, bck)
    mkB(31 to 40).write.mode("append").parquet(bsrc)
    Incremental.bm25IndexStream(ss, bsrc, bidx, bck)
    Retrieval.writeBm25Stats(ss, bidx)
    val bBefore = brows()
    assert(bBefore.nonEmpty)
    crashCompaction(s"$bidx/postings", "bucket", "_DELETES_DONE")
    assert(batchDirs(s"$bidx/postings") == Set("__batch=1"),
      s"crash must land AFTER the segment deletes: ${batchDirs(s"$bidx/postings")}")
    assert(SegmentStore(ss, s"$bidx/postings", "bucket").compact() == 0,
      "rerun recovers the crashed swap; the recovered tree is already compact")
    assert(brows() == bBefore,
      "BM25 probe after crash+rerun must equal the pre-compaction probe")

    // ---- pre-invocation recovery in the firewalls (round 18) ------
    // crash mid-swap, then invoke the STREAM (not compaction): the
    // entry-point recovery must restore the merged rows BEFORE any
    // probe runs — a replayed/new batch probing the mutilated tree
    // would silently miss every merged indexed row
    mkDocs(46 to 50).write.mode("append").parquet(src)
    Incremental.minhashIndexStream(ss, src, idx, ck) // batch 3
    crashCompaction(s"$idx/bands", "part", "_DELETES_DONE")
    assert(!batchDirs(s"$idx/bands").exists(d => d == "__batch=-1" || d == "__batch=2"),
      s"crash must land AFTER the segment deletes: ${batchDirs(s"$idx/bands")}")
    mkDocs(51 to 55).write.mode("append").parquet(src)
    Incremental.minhashIndexStream(ss, src, idx, ck) // batch 4, recovers first
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/bands__compacting")),
      "stream entry must have completed the pending swap")
    val probeAfter = probe(56 to 60)
    val sweepAfter = Dedup.minhashCandidatesOfTokens(toToks(mkDocs(1 to 60)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (b >= 56L) != (a >= 56L) }
      .map { case (a, b) => if (a >= 56L) (a, b) else (b, a) }.toSet
    assert(probeAfter == sweepAfter,
      "post-recovery probe must equal the batch cross sweep over ALL indexed docs")
  }

  test("minhashDedupStream: streaming firewall equals the sequential batch-by-batch rule, unseeded start") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val base = Files.createTempDirectory("mh_fw").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"
    val theta = 0.5

    // five long-bodied families differing in one tail token (J≈0.9 —
    // within and across batches near-dups abound) plus unique docs
    val body = (1 to 24).map(k => s"term$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      if (i % 3 == 0) (i.toLong, s"unique standalone document $i " +
        (1 to 10).map(k => s"only$i$k").mkString(" "))
      else (i.toLong, s"family ${i % 5} $body tail $i")
    }.toDF("doc_id", "text")
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))

    // the sequential twin: per batch, the IDENTICAL rule via the
    // batch APIs (within-batch components min-id keep, then drop on
    // any est≥θ candidate against the kept-so-far set — cross hits
    // from the batch sweep, legitimate because probe ≡ sweep is
    // proven exactly above)
    def expectedKept(batches: Seq[Range]): Set[Long] = {
      var kept = Set.empty[Long]
      for (b <- batches) {
        val ids = b.map(_.toLong).toSet
        val batchPairs = Dedup.minhashCandidatesOfTokens(toToks(mkDocs(b)))
          .filter(col("est_jaccard") >= theta).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val losers = Dedup.componentLosers(
          batchPairs.toSeq.toDF("id_a", "id_b")).collect().map(_.getLong(0)).toSet
        val batchKept = ids -- losers
        val crossHit =
          if (kept.isEmpty) Set.empty[Long]
          else Dedup.minhashCandidatesOfTokens(toToks(
            mkDocs(b).unionByName(
              mkDocs(1 to 50).filter(col("doc_id").isin(kept.toSeq: _*)))))
            .filter(col("est_jaccard") >= theta).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .flatMap { case (a, bId) =>
              if (batchKept.contains(a) && kept.contains(bId)) Some(a)
              else if (batchKept.contains(bId) && kept.contains(a)) Some(bId)
              else None
            }.toSet
        kept ++= (batchKept -- crossHit)
      }
      kept
    }

    def keptOnDisk(): Set[Long] =
      ss.read.parquet(dest).select("doc_id").collect().map(_.getLong(0)).toSet

    // run 1: unseeded index, batch 1..30
    mkDocs(1 to 30).write.parquet(src)
    Incremental.minhashDedupStream(ss, src, idx, dest, ck, threshold = theta)
    val exp1 = expectedKept(Seq(1 to 30))
    assert(keptOnDisk() == exp1, s"run 1 kept set diverged: ${keptOnDisk()} vs $exp1")
    assert(exp1.size < 30, "families must produce drops within run 1")

    // run 2: incremental batch 31..50 — drops must reference run-1
    // keepers through the appended index, not a recompute
    mkDocs(31 to 50).write.mode("append").parquet(src)
    Incremental.minhashDedupStream(ss, src, idx, dest, ck, threshold = theta)
    val exp2 = expectedKept(Seq(1 to 30, 31 to 50))
    assert(keptOnDisk() == exp2, s"run 2 kept set diverged: ${keptOnDisk()} vs $exp2")
    assert((31 to 50).map(_.toLong).toSet.intersect(exp2).nonEmpty,
      "run 2 must admit some new docs")
    assert((31 to 50).exists(i => !exp2.contains(i.toLong)),
      "run 2 must drop at least one cross-batch near-dup")

    // survivor separation invariant: no est≥θ candidate pair inside
    // the kept set (the firewall's analogue of SemDeDup's
    // eps-separated keepers)
    val keptPairs = Dedup.minhashCandidatesOfTokens(toToks(
      mkDocs(1 to 50).filter(col("doc_id").isin(exp2.toSeq: _*))))
      .filter(col("est_jaccard") >= theta).count()
    assert(keptPairs == 0L, s"kept set must be candidate-free at θ, found $keptPairs pairs")
  }

  test("phashDedupStream: streaming image firewall equals the sequential batch rule, unseeded start") {
    val ss = spark; import ss.implicits._
    import graft.operators.{Dedup, Media}
    val base = Files.createTempDirectory("ph_fw").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"
    val maxDist = 3

    val f1 = 0x0123456789abcdefL
    val farA = 0x5555aaaa3333cccdL
    val farB = 0x9966cc33aa55ff00L
    val farC = 0x00ff00ff12345678L
    val farD = 0x7e7e181881818ff0L
    val fps: Map[Long, Long] = Map(
      // run 1: a 3-member family (within-batch dups), two far images
      // with a planted twin, one standalone
      1L -> f1, 2L -> (f1 ^ 0x1L), 3L -> (f1 ^ 0x18L),
      4L -> farA, 5L -> (farA ^ 0x2L), 6L -> farB,
      // run 2: twins of run-1 keepers (must drop through the INDEX),
      // a new family (within-batch dup), a novel standalone
      11L -> (f1 ^ 0x2L), 12L -> (farB ^ 0x101L),
      13L -> farC, 14L -> (farC ^ 0x1L), 15L -> farD)
    def mkImgs(ids: Seq[Long]) = ids.map { i =>
      // id 7 is a corrupt payload: decode-or-drop must silently skip it
      if (i == 7L) (i, "not an image at all".getBytes("UTF-8"))
      else (i, imgOf(fps(i)))
    }.toDF("id", "payload")

    // the sequential twin over the fingerprints themselves (decode is
    // exact by construction): within-batch capped sweep + min-id
    // keeps, then drop on any EXACT Hamming-≤maxDist hit against the
    // kept-so-far set — the identical rule the stream applies
    def expectedKept(batches: Seq[Seq[Long]]): Set[Long] = {
      var kept = Set.empty[Long]
      for (b <- batches) {
        val ids = b.filterNot(_ == 7L)
        val batchPairs = Dedup.hammingPairsOfSignatures(
          ids.map(i => (i, fps(i))).toDF("doc_id", "sh"), maxDist)
        val losers = Dedup.componentLosers(batchPairs)
          .collect().map(_.getLong(0)).toSet
        val batchKept = ids.toSet -- losers
        val crossHit =
          if (kept.isEmpty) Set.empty[Long]
          else Dedup.hammingPairsOfSignatures(
            (batchKept ++ kept).toSeq.map(i => (i, fps(i))).toDF("doc_id", "sh"),
            maxDist, maxPieceFreq = Long.MaxValue)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
            .flatMap { case (a, bId) =>
              if (batchKept.contains(a) && kept.contains(bId)) Some(a)
              else if (batchKept.contains(bId) && kept.contains(a)) Some(bId)
              else None
            }.toSet
        kept ++= (batchKept -- crossHit)
      }
      kept
    }
    def keptOnDisk(): Set[Long] =
      ss.read.parquet(dest).select("doc_id").collect().map(_.getLong(0)).toSet

    // run 1: unseeded index (ids 1..7 incl. the corrupt payload)
    val run1 = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)
    mkImgs(run1).write.parquet(src)
    Incremental.phashDedupStream(ss, src, idx, dest, ck, maxDist)
    val exp1 = expectedKept(Seq(run1))
    assert(keptOnDisk() == exp1, s"run 1 kept set diverged: ${keptOnDisk()} vs $exp1")
    assert(exp1 == Set(1L, 4L, 6L), "families collapse to min ids; corrupt row dropped")

    // run 2: incremental — drops must reference run-1 keepers through
    // the appended index, not a recompute
    val run2 = Seq(11L, 12L, 13L, 14L, 15L)
    mkImgs(run2).write.mode("append").parquet(src)
    Incremental.phashDedupStream(ss, src, idx, dest, ck, maxDist)
    val exp2 = expectedKept(Seq(run1, run2))
    assert(keptOnDisk() == exp2, s"run 2 kept set diverged: ${keptOnDisk()} vs $exp2")
    assert(exp2 == Set(1L, 4L, 6L, 13L, 15L),
      "index twins drop, new family collapses, novel admits")

    // survivor separation invariant: no Hamming-≤maxDist pair inside
    // the kept set (the firewall's analogue of the MinHash θ rule)
    val keptPairs = Dedup.hammingPairsOfSignatures(
      exp2.toSeq.map(i => (i, fps(i))).toDF("doc_id", "sh"),
      maxDist, maxPieceFreq = Long.MaxValue).count()
    assert(keptPairs == 0L, s"kept set must be Hamming-separated, found $keptPairs pairs")

    // the stream's stored fingerprints are the dHash of the decoded
    // images — the index is probeable by ANY later batch API consumer
    val storedSh = ss.read.parquet(dest)
      .select(col("doc_id"), col("sh")).as[(Long, Long)].collect().toMap
    assert(storedSh == exp2.map(i => i -> fps(i)).toMap,
      "stored fingerprints must equal the programmed dHash values")
  }

  test("audioPhashDedupStream: streaming acoustic firewall equals the sequential batch rule") {
    val ss = spark; import ss.implicits._
    import graft.operators.{Dedup, Media}
    val base = Files.createTempDirectory("aud_fw").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"
    val maxDist = 3

    // a 130-sample AUD0 clip whose AudioHash64 is EXACTLY fp: 65
    // 2-sample windows walk their energy ±16 from 2000, so
    // e(k+1) > e(k) iff bit k is set — fingerprints are directly
    // programmable, near-dups are bit flips (the imgOf idiom)
    def audOf(fp: Long): Array[Byte] = {
      val energies = new Array[Int](65)
      energies(0) = 2000
      for (k <- 0 until 64)
        energies(k + 1) = energies(k) +
          (if (((fp >>> k) & 1L) == 1L) 16 else -16)
      val hdr = Media.AudioMagic ++ Array[Byte](
        ((16000 >> 8) & 0xff).toByte, (16000 & 0xff).toByte, 1.toByte,
        ((130 >> 8) & 0xff).toByte, (130 & 0xff).toByte)
      hdr ++ (0 until 130).flatMap { i =>
        val v = energies(i / 2) / 2
        Seq(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      }.toArray
    }
    val f1 = 0x0123456789abcdefL
    val farA = 0x5555aaaa3333cccdL
    val farB = 0x9966cc33aa55ff00L
    val farC = 0x00ff00ff12345678L
    val fps: Map[Long, Long] = Map(
      1L -> f1, 2L -> (f1 ^ 0x1L), 3L -> farA, 4L -> farB,
      11L -> (f1 ^ 0x2L), 12L -> farC, 13L -> (farC ^ 0x11L))
    def mkClips(ids: Seq[Long]) = ids.map { i =>
      if (i == 7L) (i, "not an audio clip".getBytes("UTF-8"))
      else (i, audOf(fps(i)))
    }.toDF("id", "payload")
    def keptOnDisk(): Set[Long] =
      ss.read.parquet(dest).select("doc_id").collect().map(_.getLong(0)).toSet

    // run 1: within-batch twin (2 collapses into 1), corrupt row drops
    mkClips(Seq(1L, 2L, 3L, 4L, 7L)).write.parquet(src)
    Incremental.audioPhashDedupStream(ss, src, idx, dest, ck, maxDist)
    assert(keptOnDisk() == Set(1L, 3L, 4L),
      s"run 1: family keeps min id, corrupt drops: ${keptOnDisk()}")

    // run 2: index twin drops THROUGH the index; within-batch family
    // collapses; 13 is 2 bits from 12 (same batch) -> family of 12
    mkClips(Seq(11L, 12L, 13L)).write.mode("append").parquet(src)
    Incremental.audioPhashDedupStream(ss, src, idx, dest, ck, maxDist)
    assert(keptOnDisk() == Set(1L, 3L, 4L, 12L),
      s"run 2: 11 drops via index, 13 collapses into 12: ${keptOnDisk()}")

    // kept set is Hamming-separated (the firewall invariant)
    val keptPairs = Dedup.hammingPairsOfSignatures(
      keptOnDisk().toSeq.map(i => (i, fps(i))).toDF("doc_id", "sh"),
      maxDist, maxPieceFreq = Long.MaxValue).count()
    assert(keptPairs == 0L)
    // stored fingerprints are the programmed AudioHash64 values
    val storedSh = ss.read.parquet(dest)
      .select(col("doc_id"), col("sh")).as[(Long, Long)].collect().toMap
    assert(storedSh == keptOnDisk().map(i => i -> fps(i)).toMap)
  }

  test("videoPhashDedupStream: aligned-frame firewall, >=2-of-3 rollup, misaligned twin admits") {
    val ss = spark; import ss.implicits._
    import graft.operators.Media
    val base = Files.createTempDirectory("vid_fw").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"

    // a 6-frame VID0 whose SAMPLED frames (0, 2, 4 at stride 2) carry
    // the three given fingerprints; odd frames carry filler
    def vidOf(fp0: Long, fp2: Long, fp4: Long): Array[Byte] = {
      val filler = 0x0f0f0f0ff0f0f0f0L
      val frames = Seq(fp0, filler, fp2, filler, fp4, filler)
      Media.VideoMagic ++ Array[Byte](0, 6) ++
        frames.flatMap(f => imgOf(f)).toArray
    }
    val fA = 0x0123456789abcdefL
    val fB = 0xfedcba9876543210L
    val fC = 0x5555aaaa3333ccccL
    val clips: Map[Long, Array[Byte]] = Map(
      1L -> vidOf(fA, fB, fC),
      // 2 aligned near-matches (bit flips on frames 0 and 2) -> dup of 1
      2L -> vidOf(fA ^ 0x1L, fB ^ 0x6L, 0x9966cc33aa55ff00L),
      // only ONE aligned match -> admitted
      3L -> vidOf(fA ^ 0x2L, 0x00ff00ff12345678L, 0x7e7e181881818ff0L),
      4L -> vidOf(0x1122334455667788L, 0xaabbccddeeff0011L, 0xc3c3c3c33c3c3c3cL),
      // run 2: 2-of-3 twin of clip 1 -> drops THROUGH the index
      11L -> vidOf(fA ^ 0x4L, fB, 0x123412341234fedcL),
      // clip 1's fingerprints ROTATED across frames: zero ALIGNED
      // matches -> admits (pins the alignment semantics)
      12L -> vidOf(fB, fC, fA),
      // one aligned match against clip 4 -> admits
      13L -> vidOf(0x1122334455667789L, 0x8844221188442211L, 0xfeedfacecafebeefL))
    def mkVids(ids: Seq[Long]) = ids.map { i =>
      if (i == 7L) (i, "not a video".getBytes("UTF-8")) else (i, clips(i))
    }.toDF("id", "payload")
    def keptOnDisk(): Set[Long] =
      ss.read.parquet(dest).select("doc_id").collect().map(_.getLong(0)).toSet

    mkVids(Seq(1L, 2L, 3L, 4L, 7L)).write.parquet(src)
    Incremental.videoPhashDedupStream(ss, src, idx, dest, ck)
    assert(keptOnDisk() == Set(1L, 3L, 4L),
      s"run 1: 2-of-3 dup collapses to min id, 1-of-3 admits, corrupt drops: ${keptOnDisk()}")

    mkVids(Seq(11L, 12L, 13L)).write.mode("append").parquet(src)
    Incremental.videoPhashDedupStream(ss, src, idx, dest, ck)
    assert(keptOnDisk() == Set(1L, 3L, 4L, 12L, 13L),
      s"run 2: index twin drops, ROTATED twin admits (alignment), 1-of-3 admits: ${keptOnDisk()}")

    // the stored per-frame fingerprints reconstruct each kept clip's
    // programmed sampled-frame hashes
    val stored = ss.read.parquet(dest)
      .select(col("doc_id"), col("frame"), col("sh"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(stored(1L) == Seq(fA, fB, fC))
    assert(stored(12L) == Seq(fB, fC, fA))
  }

  test("bm25IndexStream: appended postings + stats refresh probe identically to the direct scorer") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.Retrieval
    val base = Files.createTempDirectory("bm25_stream").toString
    val src = base + "/src"; val idx = base + "/idx"; val ck = base + "/ck"

    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, s"alpha beta ${if (i % 3 == 0) "gamma gamma" else "delta"} w$i")
    }.toDF("doc_id", "text")
    def toToks(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val queries = Seq(1 -> Seq("gamma"), 2 -> Seq("alpha", "delta"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // batch seed, then two incremental appends + a refresh each
    Retrieval.writeBm25Index(toToks(mkDocs(1 to 20)), idx)
    mkDocs(21 to 35).write.parquet(src)
    Incremental.bm25IndexStream(ss, src, idx, ck)
    Retrieval.writeBm25Stats(ss, idx)
    val probe1 = Retrieval.bm25TopKIndexed(ss, idx, queries, k = 50)
    val direct1 = Retrieval.bm25(toToks(mkDocs(1 to 35)), queries, k = 50)
    assert(rows(probe1) == rows(direct1), "post-refresh probe diverged after run 1")

    mkDocs(36 to 45).write.mode("append").parquet(src)
    Incremental.bm25IndexStream(ss, src, idx, ck)
    Retrieval.writeBm25Stats(ss, idx)
    val probe2 = Retrieval.bm25TopKIndexed(ss, idx, queries, k = 50)
    val direct2 = Retrieval.bm25(toToks(mkDocs(1 to 45)), queries, k = 50)
    assert(rows(probe2) == rows(direct2), "post-refresh probe diverged after run 2")
    assert(rows(probe2) != rows(probe1), "run 2 must actually add indexed docs")
  }

  private def bm25Docs(ids: Range): org.apache.spark.sql.DataFrame = {
    val ss = spark; import ss.implicits._
    ids.map { i =>
      (i.toLong, s"alpha beta ${if (i % 3 == 0) "gamma gamma" else "delta"} w$i")
    }.toDF("doc_id", "text")
  }

  private def bm25Toks(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks"))

  private def bm25Rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("writeBm25Stats: a crash at any filesystem step leaves probes on the old or the new statistics") {
    import graft.queries.Retrieval
    val nB = 4 // few bucket directories keep the step count small
    val queries = Seq(1 -> Seq("gamma"), 2 -> Seq("alpha", "delta"))
    def probe(idx: String) =
      bm25Rows(Retrieval.bm25TopKIndexed(spark, idx, queries, k = 50, nBuckets = nB))
    val base = Files.createTempDirectory("bm25_refresh_crash")
    val template = base.resolve("template")
    val tidx = CrashFs.root(spark, template.toString) + "/idx"
    Retrieval.writeBm25Index(bm25Toks(bm25Docs(1 to 20)), tidx, nB)
    bm25Docs(21 to 35).write.parquet(s"$base/src")
    Incremental.bm25IndexStream(spark, s"$base/src", tidx, s"$base/ck", nB)
    // before: new postings scored with the build's df/stats; after:
    // the direct scorer over every document
    val before = probe(tidx)
    val after = bm25Rows(Retrieval.bm25(bm25Toks(bm25Docs(1 to 35)), queries, k = 50))
    assert(before != after, "the refresh must change the ranking")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val s = Files.walk(from)
      try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
      finally s.close()
    }
    var k = 1
    var crashed = true
    while (crashed) {
      assert(k <= 500, "writeBm25Stats never completed uncrashed")
      val dir = base.resolve(s"k$k")
      copyTree(template, dir)
      val idx = CrashFs.root(spark, dir.toString) + "/idx"
      CrashFs.arm(k)
      crashed =
        try { Retrieval.writeBm25Stats(spark, idx); false }
        catch { case _: Exception => true }
        finally CrashFs.disarm()
      val got = probe(idx)
      assert(got == before || got == after,
        s"crash at filesystem step $k: the probe mixed old and new statistics")
      if (!crashed) assert(got == after, "the completed refresh must restore direct parity")
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
      k += 1
    }
    info(s"crash points swept: ${k - 2}")
    assert(k - 2 > 1)
    new scala.reflect.io.Directory(base.toFile).deleteRecursively()
  }

  test("a BM25 index without a committed df/stats version fails naming writeBm25Stats; one refresh upgrades it") {
    import graft.queries.Retrieval
    val idx = Files.createTempDirectory("bm25_layout").toString
    val queries = Seq(1 -> Seq("gamma"), 2 -> Seq("alpha", "delta"))
    Retrieval.writeBm25Index(bm25Toks(bm25Docs(1 to 20)), idx)
    // the unversioned layout: df and corpus stats written in place at
    // the index root
    new scala.reflect.io.Directory(new java.io.File(s"$idx/df")).deleteRecursively()
    val postings = spark.read.parquet(s"$idx/postings")
    postings.groupBy("term", "bucket")
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$idx/terms")
    postings.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$idx/stats")
    val e = intercept[Exception](Retrieval.bm25TopKIndexed(spark, idx, queries, k = 50).collect())
    assert(messages(e).exists(_.contains("writeBm25Stats")), s"expected the named refusal, got: $e")
    Retrieval.writeBm25Stats(spark, idx)
    assert(bm25Rows(Retrieval.bm25TopKIndexed(spark, idx, queries, k = 50)) ==
      bm25Rows(Retrieval.bm25(bm25Toks(bm25Docs(1 to 20)), queries, k = 50)))
  }

  test("bm25IndexStream appender fails loud (before appending) on a bucket-count mismatch") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.Retrieval
    val base = Files.createTempDirectory("bm25_geo").toString
    val src = base + "/src"; val idx = base + "/idx"; val ck = base + "/ck"
    val docs = (1 to 10).map(i => (i.toLong, s"alpha beta w$i")).toDF("doc_id", "text")
    def toToks(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks"))
    Retrieval.writeBm25Index(toToks(docs), idx) // default bucket count
    val before = ss.read.parquet(s"$idx/postings").count()
    docs.write.parquet(src)
    // a mis-parameterized appender used to append rows under the wrong
    // bucketing AND rebrand the sidecar, so later probes silently
    // missed every previously-indexed row (round-16 advisor finding) —
    // it must now throw before any posting lands
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Incremental.bm25IndexStream(ss, src, idx, ck, nBuckets = 7))
    assert(e.getCause.getMessage.contains("buckets"),
      s"mismatch must name the bucket geometry: ${e.getCause.getMessage}")
    assert(ss.read.parquet(s"$idx/postings").count() == before,
      "the failed appender must not have landed any postings")
    // the sidecar still records the ORIGINAL build, so a correctly-
    // parameterized appender (fresh checkpoint) proceeds
    Incremental.bm25IndexStream(ss, src, idx, base + "/ck2")
    assert(ss.read.parquet(s"$idx/postings").count() > before)
  }

  test("decontamStream equals batch decontamination across incremental runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("decontam_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val quote = "alpha beta gamma delta epsilon zeta eta theta"

    val holdout = Seq((100L, s"held out benchmark item says $quote plainly"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__toks"))

    def mkDocs(ids: Range, leakId: Long) = ids.map { i =>
      val body = (1 to 10).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, if (i.toLong == leakId) s"$body $quote" else s"intro $body outro")
    }.toDF("doc_id", "text")

    // run 1: docs 1-20, doc 7 leaks the quote
    mkDocs(1 to 20, leakId = 7L).write.parquet(src)
    Incremental.decontamStream(spark, src, holdout, dest, ck, k = 8)
    val after1 = spark.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(after1 == ((1L to 20L).toSet - 7L), s"run1 survivors: $after1")

    // run 2: docs 21-30 arrive, doc 25 leaks; run 1's files not reread
    mkDocs(21 to 30, leakId = 25L).write.mode("append").parquet(src)
    Incremental.decontamStream(spark, src, holdout, dest, ck, k = 8)
    val after2 = spark.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(after2 == ((1L to 30L).toSet - 7L - 25L), s"run2 survivors: $after2")
  }

  test("decontamStream: a batch replayed after its write but before its commit duplicates nothing") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("decontam_replay").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val holdout = Seq((100L, "held out item says alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks"))
    (1 to 10).map(i => (i.toLong, s"intro body $i outro")).toDF("doc_id", "text")
      .write.parquet(src)
    Incremental.decontamStream(ss, src, holdout, dest, ck)
    // a crash between the sink write and the checkpoint commit: the
    // offset log holds batch 0 but its commit record is gone, so the
    // rerun replays batch 0 onto the output it already wrote
    val commit = new org.apache.hadoop.fs.Path(ck + "/commits/0")
    assert(commit.getFileSystem(ss.sparkContext.hadoopConfiguration).delete(commit, false))
    Incremental.decontamStream(ss, src, holdout, dest, ck)
    val ids = ss.read.parquet(dest).select("doc_id").as[Long].collect().toSeq.sorted
    assert(ids == (1L to 10L), s"the replay duplicated survivors: $ids")
  }

  test("winnowDecontamStream drops partially-edited copies across incremental runs, matching batch") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("winnow_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val para = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron"
    // the leaked copy swaps one word: every 8-TOKEN gram breaks, but
    // the char runs around the edit still clear w+k-1 = 17 chars
    val edited = para.replace(" theta ", " EDITED ")

    val holdout = Seq((100L, s"benchmark question reads $para verbatim"))
      .toDF("doc_id", "text")

    def mkDocs(ids: Range, leakId: Long) = ids.map { i =>
      val body = (1 to 12).map(j => s"w${i}q$j").mkString(" ")
      (i.toLong, if (i.toLong == leakId) s"$body $edited" else s"intro $body outro")
    }.toDF("doc_id", "text")

    // run 1: docs 1-15, doc 4 carries the edited paragraph
    mkDocs(1 to 15, leakId = 4L).write.parquet(src)
    Incremental.winnowDecontamStream(spark, src, holdout, dest, ck,
      k = 8, w = 10, minShared = 2)
    val after1 = spark.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(after1 == ((1L to 15L).toSet - 4L), s"run1 survivors: $after1")

    // run 2: docs 16-22 arrive, doc 19 leaks; run 1's files not reread
    mkDocs(16 to 22, leakId = 19L).write.mode("append").parquet(src)
    Incremental.winnowDecontamStream(spark, src, holdout, dest, ck,
      k = 8, w = 10, minShared = 2)
    val after2 = spark.read.parquet(dest).select("doc_id").as[Long].collect().toSet
    assert(after2 == ((1L to 22L).toSet - 4L - 19L), s"run2 survivors: $after2")

    // the streaming drop set equals the batch operator's flag set on
    // the same inputs (shared fingerprint unit — cannot diverge)
    val batchFlags = graft.operators.Decontam.winnowLeaks(
      mkDocs(1 to 22, leakId = 4L)
        .withColumn("text", when(col("doc_id") === 19L,
          concat(lit((1 to 12).map(j => s"w19q$j").mkString(" ")), lit(" "),
            lit(edited))).otherwise(col("text")))
        .withColumn("split", lit("train"))
        .unionByName(holdout.withColumn("split", lit("test"))),
      col("text"), k = 8, w = 10, minShared = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(batchFlags == Set(4L, 19L), s"batch flags: $batchFlags")
  }

  test("semanticDedupStream: an empty batch on an unseeded stream never creates a data-less keepers dir (round 18)") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("semdedup_empty").toString
    val src = base + "/src"; val keep = base + "/keepers"; val ck = base + "/ck"
    val rnd = new scala.util.Random(7)
    val centers = (0 until 2).map { _ =>
      val v = Array.tabulate(8)(_ => (rnd.nextFloat() - 0.5f) * 2f)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val cents = centers.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("centroid_id", "centroid")
    // an AvailableNow run over a 0-row source: the round-17 cut
    // declared the geometry sidecar unconditionally, creating a
    // keepers dir holding ONLY _graft_geometry.json — the next run's
    // exists() guard then passed and the data-less parquet read
    // failed schema inference, wedging the stream
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.parquet(src)
    Incremental.semanticDedupStream(ss, src, cents, keep, ck, eps = 0.9)
    val fs = new org.apache.hadoop.fs.Path(keep)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(keep)),
      "an empty batch must not create the keepers dir at all")
    // the stream is NOT wedged: a later run with real vectors admits
    // them as keepers
    (0L until 6L).map(i =>
      (i, centers((i % 2).toInt).map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(src)
    Incremental.semanticDedupStream(ss, src, cents, keep, ck, eps = 0.9)
    val kept = ss.read.parquet(keep).count()
    assert(kept >= 2L && kept <= 6L,
      s"post-empty-batch run must admit keepers normally: $kept")
  }

  test("semanticDedupStream: a crash between the keepers' geometry declaration and their first append does not wedge the rerun") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("semdedup_declare_crash").toString
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "centroid")
    Seq((1L, Array(1.0f, 0.05f)), (2L, Array(0.05f, 1.0f)), (3L, Array(0.06f, 1.0f)))
      .toDF("vec_id", "embedding").write.parquet(base + "/src")
    def keepers(dir: String) =
      ss.read.parquet(dir).select("vec_id").collect().map(_.getLong(0)).toSet
    Incremental.semanticDedupStream(ss, base + "/src", cents, base + "/want", base + "/ck0",
      eps = 0.9)
    // the keepers dir then holds only its sidecar: the rerun's probe
    // must treat it as unseeded, not fail to infer its schema
    val keep = CrashFs.root(ss, base) + "/keep"
    CrashFs.armAfter("_graft_geometry.json")
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Incremental.semanticDedupStream(ss, base + "/src", cents, keep, base + "/ck", eps = 0.9))
    finally CrashFs.disarm()
    assert(!SegmentStore(ss, keep, "centroid").exists)
    Incremental.semanticDedupStream(ss, base + "/src", cents, keep, base + "/ck", eps = 0.9)
    assert(keepers(keep) == keepers(base + "/want"))
  }

  test("semanticDedupStream: eps-separated keepers, sound drops, across checkpointed runs") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = Files.createTempDirectory("semdedup_stream").toString
    val src = base + "/src"; val keep = base + "/keepers"; val ck = base + "/ck"
    val rnd = new scala.util.Random(43)
    val eps = 0.92
    // 4 well-separated unit-ish centers; members = center + small noise
    // (same-center members are semantic dups; cross-center cosines are low)
    val centers = (0 until 4).map { _ =>
      val v = Array.tabulate(16)(_ => (rnd.nextFloat() - 0.5f) * 2f)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    def member(id: Long, c: Int): (Long, Array[Float]) =
      (id, centers(c).map(x => x + (rnd.nextFloat() - 0.5f) * 0.04f))
    val cents = centers.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("centroid_id", "centroid")

    // wave0 seeds via the BATCH rule + writeIvfIndex — the unified
    // centroid/__batch layout is the streaming state
    val wave0 = (0L until 12L).map(i => member(i, (i % 4).toInt))
    val w0df = wave0.toDF("vec_id", "embedding")
    val keepers0 = Similarity.semanticDedup(w0df, cents, eps)
      .filter(col("keep")).select(col("vec_id"))
      .join(w0df, Seq("vec_id"))
    Similarity.writeIvfIndex(keepers0, cents, keep, nAssign = 1,
      corpusId = "vec_id")

    // two streamed waves across separate runs (checkpointed restart):
    // dups of seeded clusters must drop, novel vectors must be kept
    val wave1 = (100L until 112L).map(i => member(i, (i % 4).toInt))
    wave1.toDF("vec_id", "embedding").write.parquet(src)
    Incremental.semanticDedupStream(spark, src, cents, keep, ck, eps)
    val wave2 = (200L until 212L).map(i => member(i, (i % 4).toInt))
    wave2.toDF("vec_id", "embedding").write.mode("append").parquet(src)
    Incremental.semanticDedupStream(spark, src, cents, keep, ck, eps)

    val keepers = spark.read.parquet(keep)
      .select(col("vec_id"), col("embedding"), col("centroid").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
    val all = (wave0 ++ wave1 ++ wave2).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x * x.toDouble).sum) *
        math.sqrt(b.map(x => x * x.toDouble).sum))
    }
    // invariant: same-cluster keepers pairwise BELOW eps (one
    // representative per duplicate group, maintained incrementally)
    for (Seq((ia, va, ca), (ib, vb, cb)) <- keepers.toSeq.combinations(2))
      if (ca == cb)
        assert(cos(va, vb) < eps, s"keepers $ia and $ib are dups (cluster $ca)")
    // soundness: every dropped vector has a keeper within eps
    val keptIds = keepers.map(_._1).toSet
    val dropped = all.keySet -- keptIds
    dropped.foreach { id =>
      assert(keepers.exists { case (_, kv, _) => cos(all(id), kv) >= eps },
        s"dropped $id has no keeper within eps")
    }
    // the tight fixture dedups hard: every cluster is represented but
    // far fewer than all 36 vectors survive
    assert(keptIds.nonEmpty && keptIds.size < 36 && dropped.nonEmpty,
      s"expected real dedup, got ${keptIds.size} keepers")
  }

  test("semanticDedupStream frozen on the AUTO quantizer equals batch semanticDedupAuto (round-15)") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = Files.createTempDirectory("semdedup_auto_stream").toString
    val src = base + "/src"; val keep = base + "/keep"; val ck = base + "/ck"
    val rnd = new scala.util.Random(47)
    val eps = 0.92
    val centers = (0 until 6).map { _ =>
      val v = Array.tabulate(12)(_ => (rnd.nextFloat() - 0.5f) * 2f)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val all = (0L until 90L).map(i =>
      (i, centers((i % 6).toInt).map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)))
    val df = all.toDF("vec_id", "embedding")

    // the PRODUCTION quantizer: trained once at autoCentroidCount size
    // (the deterministic seed makes this byte-identical to the set
    // semanticDedupAuto trains internally), then FROZEN into the
    // stream — the frozen-model firewall contract every other
    // streaming twin follows
    val cents = Similarity.kmeansCentroidsAuto(df.select(col("embedding")))
      .localCheckpoint()

    // single wave from empty state: no prior keepers, so stream ≡ the
    // within-batch rule ≡ the batch decision under the same quantizer
    df.write.parquet(src)
    Incremental.semanticDedupStream(ss, src, cents, keep, ck, eps)
    val streamKept = ss.read.parquet(keep)
      .select("vec_id").as[Long].collect().toSet
    val batchDec = Similarity.semanticDedupAuto(df, eps)
    val batchKept = batchDec.filter(col("keep"))
      .select("vec_id").as[Long].collect().toSet
    assert(streamKept == batchKept,
      s"stream keepers must equal the batch auto decision:\n" +
        s"stream=$streamKept\nbatch=$batchKept")
    assert(streamKept.nonEmpty && streamKept.size < 90,
      s"fixture must actually dedup: ${streamKept.size} keepers")
    // keeper centroid assignment matches the batch cluster column —
    // the on-disk layout IS the decision frame's blocking
    val streamClusters = ss.read.parquet(keep)
      .select(col("vec_id"), col("centroid").cast("long"))
      .as[(Long, Long)].collect().toMap
    val batchClusters = batchDec.filter(col("keep"))
      .select(col("vec_id"), col("cluster"))
      .as[(Long, Long)].collect().toMap
    assert(streamClusters == batchClusters,
      "keeper centroid assignments must match the batch clusters")
  }

  test("ivfIndexStream: incrementally-appended index probes identically to a batch-built one") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val base = Files.createTempDirectory("ivf_stream").toString
    val src = base + "/src"; val dest = base + "/dest"; val ck = base + "/ck"
    val rnd = new scala.util.Random(41)
    def mkVecs(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(_ => (rnd.nextFloat() - 0.5f) * 2f))
    }
    val wave0 = mkVecs(60 to 99)
    val wave1 = mkVecs(100 to 139)
    val wave2 = mkVecs(140 to 169)
    val all = (wave0 ++ wave1 ++ wave2).toDF("neighbor_id", "embedding")
    val cents = Similarity.kmeansCentroids(all, k = 6, maxIter = 5)

    // seed destDir with a BATCH build (constant __batch=-1 level),
    // then stream into the SAME directory — the advertised workflow:
    // build once, maintain incrementally; the layouts must share one
    // partition depth or parquet partition discovery fails here
    Similarity.writeIvfIndex(wave0.toDF("neighbor_id", "embedding"),
      cents, dest, nAssign = 2)
    // two incremental appends; run 1's files are not re-read in run 2
    wave1.toDF("neighbor_id", "embedding").write.parquet(src)
    Incremental.ivfIndexStream(spark, src, cents, dest, ck, nAssign = 2)
    wave2.toDF("neighbor_id", "embedding").write.mode("append").parquet(src)
    Incremental.ivfIndexStream(spark, src, cents, dest, ck, nAssign = 2)

    val queries = wave1.take(5).map { case (i, v) => (i - 100L, v) }
      .toDF("query_id", "embedding")
    val got = Similarity.probeIvfIndex(spark, dest, queries, cents,
      k = 3, nProbe = 3)
    val batchDir = base + "/batch"
    Similarity.writeIvfIndex(all, cents, batchDir, nAssign = 2)
    val want = Similarity.probeIvfIndex(spark, batchDir, queries, cents,
      k = 3, nProbe = 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
    assert(pairs(got) == pairs(want) && pairs(got).nonEmpty,
      "incrementally-maintained index diverged from the batch build")
  }

  test("streamingTop100 converges to the batch Top-K across runs with balance decreases") {
    val ss = spark; import ss.implicits._
    val src = Files.createTempDirectory("top_src").toString + "/t"
    val ckpt = Files.createTempDirectory("top_ckpt").toString

    // memory sink cannot resume a checkpoint; foreachBatch can — each
    // run buffers its own emissions
    def runOnce(): Seq[(Int, String, String)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      val q = Incremental.streamingTop100(spark, src, k = 2).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= b.select("rnk", "holder_address", "balance_raw").collect()
              .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
          }
          ()
        }
        .start()
      q.awaitTermination()
      buf.toSeq.sortBy(_._1)
    }

    // wei-scale balances above 2^53: B beats A by exactly 1 wei — only
    // the lossless (length, string) ranking sees it (a Double collapses
    // both and the holder tiebreak would wrongly rank A first)
    val aBal = "10000000000000000000"
    val bBal = "10000000000000000001"
    Seq(("t1", "A", aBal, 1L), ("t1", "B", bBal, 1L), ("t1", "C", "10", 1L))
      .toDF("contract_address", "holder_address", "balance_raw", "seq")
      .coalesce(1).write.mode("append").parquet(src)
    val r1 = runOnce()
    assert(r1 == Seq((1, "B", bBal), (2, "A", aBal)), s"run1: $r1")

    // run 2: B collapses to 5, D enters at 60 → top2 = A, D — correct
    // only because state kept the BELOW-K holders (C, then D vs C)
    Seq(("t1", "B", "5", 2L), ("t1", "D", "60", 2L))
      .toDF("contract_address", "holder_address", "balance_raw", "seq")
      .coalesce(1).write.mode("append").parquet(src)
    val r2 = runOnce()
    assert(r2 == Seq((1, "A", aBal), (2, "D", "60")),
      s"streaming top-K after decrease+entry must match batch recompute, got $r2")
  }

  /** Scripted [[org.apache.spark.sql.streaming.GroupState]]: eviction
    * and re-entry are processing-time behaviors an e2e stream can't
    * trigger deterministically, so the state transition is driven
    * directly.
    */
  private class FakeState[S](var opt: Option[S], timedOut: Boolean = false)
      extends org.apache.spark.sql.streaming.GroupState[S] {
    var removed = false
    var timeoutSet: Option[String] = None
    override def exists: Boolean = opt.isDefined
    override def get: S = opt.get
    override def getOption: Option[S] = opt
    override def update(s: S): Unit = { opt = Some(s) }
    override def remove(): Unit = { opt = None; removed = true }
    override def hasTimedOut: Boolean = timedOut
    override def setTimeoutDuration(ms: Long): Unit = timeoutSet = Some(s"${ms}ms")
    override def setTimeoutDuration(d: String): Unit = timeoutSet = Some(d)
    override def setTimeoutTimestamp(ms: Long): Unit = ()
    override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
    override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
    override def getCurrentWatermarkMs: Long = 0L
    override def getCurrentProcessingTimeMs: Long = 0L
  }

  test("streamingTop100 state guard: inactivity eviction, metrics hook, and re-entry") {
    type S = Map[String, (String, Long)]
    val sizes = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val upd = Incremental.top100Update(k = 2, Some("30 days"), (t, n) => sizes += (t -> n)) _

    // normal batch: state updates, timeout armed, hook sees map size
    val live = new FakeState[S](None)
    val out1 = upd("t1", Iterator(
      Incremental.HolderUpd("t1", "A", "100", 1L),
      Incremental.HolderUpd("t1", "B", "50", 1L),
      Incremental.HolderUpd("t1", "C", "10", 1L)), live).toSeq
    assert(out1.map(e => (e.rnk, e.holder_address)) == Seq((1, "A"), (2, "B")))
    assert(live.opt.exists(_.size == 3) && live.timeoutSet.contains("30 days"))
    assert(sizes.toSeq == Seq("t1" -> 3))

    // inactivity fires: state is EVICTED, nothing emitted
    val stale = new FakeState[S](live.opt, timedOut = true)
    assert(upd("t1", Iterator.empty, stale).isEmpty)
    assert(stale.removed && stale.opt.isEmpty)

    // re-entry: the token wakes up and rebuilds from post-eviction
    // updates only (the documented trade-off — pre-eviction holders
    // are gone until they next move)
    val reborn = new FakeState[S](None)
    val out2 = upd("t1", Iterator(Incremental.HolderUpd("t1", "D", "7", 5L)), reborn).toSeq
    assert(out2.map(e => (e.rnk, e.holder_address)) == Seq((1, "D")))
    assert(reborn.opt.exists(_.size == 1))

    // no timeout configured → state never arms one (NoTimeout contract:
    // calling setTimeoutDuration would throw in the real engine)
    val noTtl = new FakeState[S](None)
    Incremental.top100Update(k = 2, None, Incremental.noopStateHook)(
      "t1", Iterator(Incremental.HolderUpd("t1", "A", "1", 1L)), noTtl)
    assert(noTtl.timeoutSet.isEmpty)
  }

  test("streamingTop100 runs end-to-end on the RocksDB state store (production preset)") {
    val ss = spark; import ss.implicits._
    val src = Files.createTempDirectory("rdb_src").toString + "/t"
    val ckpt = Files.createTempDirectory("rdb_ckpt").toString
    Seq(("t1", "A", "100", 1L), ("t1", "B", "50", 1L), ("t1", "C", "10", 1L))
      .toDF("contract_address", "holder_address", "balance_raw", "seq")
      .coalesce(1).write.parquet(src)

    // same SparkContext, isolated SQLConf — the streamingBuilder's
    // RocksDB provider applies to queries started from this session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val q = Incremental.streamingTop100(s2, src, k = 2).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.synchronized {
          buf ++= b.select("rnk", "holder_address").collect()
            .map(r => (r.getInt(0), r.getString(1)))
        }
        ()
      }
      .start()
    q.awaitTermination()

    assert(buf.toSeq.sortBy(_._1) == Seq((1, "A"), (2, "B")))
    val rocksMetrics = q.recentProgress.flatMap(_.stateOperators)
      .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
      .filter(_.toLowerCase.contains("rocksdb"))
    assert(rocksMetrics.nonEmpty,
      "state operator must report RocksDB metrics — the provider did not take effect")
  }

  test("sessionizedActivity: streaming session windows equal the batch sessionization") {
    val src = Files.createTempDirectory("sess_src").toString + "/t"
    val ev = Tables.events(spark, sf)
    ev.write.parquet(src)

    val q = Incremental.sessionizedActivity(spark, src, gap = "30 minutes").writeStream
      .format("memory").queryName("sessions")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.sql(
      "SELECT session_start, session_end, user_id, n_events, session_value FROM sessions")
      .collect().map(_.toSeq).toSet
    val want = ev
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("sw.start"), col("sw.end"), col("user_id"),
        col("n_events"), col("session_value"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == want)
  }

  test("attributionJoin: stream-stream join equals the batch time-bounded join") {
    val src = Files.createTempDirectory("attr_src").toString + "/t"
    val ev = Tables.events(spark, sf)
    ev.write.parquet(src)

    val q = Incremental.attributionJoin(spark, src, horizon = "60 minutes").writeStream
      .format("memory").queryName("attribution")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.sql("SELECT user_id, purchase_id, click_id FROM attribution")
      .collect().map(_.toSeq).toSet
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"), col("event_id").as("click_id"))
    val want = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
      .join(clicks, col("user_id") === col("cu") &&
        col("cts") >= col("pts") - expr("INTERVAL 60 minutes") && col("cts") <= col("pts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == want)
  }

  test("userCursors keeps per-user running max via keyed state") {
    val src = Files.createTempDirectory("cur_src").toString + "/t"
    val ev = Tables.events(spark, sf)
    ev.write.parquet(src)

    val q = Incremental.userCursors(spark, src).writeStream
      .format("memory").queryName("user_cursors")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.sql(
      "SELECT user_id, last_event_id, events_seen FROM user_cursors")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val want = ev.groupBy("user_id")
      .agg(max("event_id").as("m"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("curationFirewallStream: composed firewall equals the sequential stage-by-stage rule, unseeded start") {
    val ss = spark; import ss.implicits._
    import graft.operators.Dedup
    import graft.functions.TextFns
    val base = Files.createTempDirectory("cur_fw").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"
    val theta = 0.5; val minQ = 0.45

    // three planted populations per wave: near-dup families (one tail
    // token apart), EXACT copies (wave-independent text, so cross-wave
    // arrivals are exact dups of wave-1 admissions), and junk docs
    // (punct-heavy, quality < minQ) — each stage must fire
    val body = (1 to 24).map(k => s"term$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      val text = (i % 10) match {
        case 0 => s"exact copy payload shared across waves group ${(i / 10) % 2}"
        case 1 => s"junk$i !!!! ???? ;;;; **** @@@@ ####"
        case 2 | 3 => s"family ${i % 3} $body tail $i"
        case _ => s"unique standalone document $i " +
          (1 to 10).map(k => s"only$i$k").mkString(" ")
      }
      (i.toLong, text, null.asInstanceOf[Array[Float]])
    }.toDF("doc_id", "text", "embedding")

    // the sequential twin: per wave, the IDENTICAL stage chain via the
    // batch APIs against accumulated admitted state
    var seenFps = Set.empty[Long]   // exact-stage survivors' fingerprints
    var indexed = Set.empty[Long]   // near-dup-stage survivors (the band index)
    var kept = Set.empty[Long]      // final admissions
    var allIds = Set.empty[Long]
    def applyWave(b: Range): Unit = {
      allIds ++= b.map(_.toLong)
      val docs = mkDocs(b)
      // stage 1: within-wave exact keep-min, then drop already-seen fps
      val withFp = Dedup.exactSurvivors(docs, col("doc_id"), col("text"))
        .withColumn("__fp", TextFns.fingerprint(col("text")))
        .select("doc_id", "__fp").collect().map(r => (r.getLong(0), r.getLong(1)))
      val s1 = withFp.filterNot { case (_, f) => seenFps.contains(f) }
      seenFps ++= s1.map(_._2)
      val s1Ids = s1.map(_._1).toSet
      def toToks(ids: Set[Long]) = mkDocs(1 to allIds.max.toInt)
        .filter(col("doc_id").isin(ids.toSeq: _*))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("__toks"))
      // stage 2: within-wave candidates -> component min-id keeps,
      // then cross-hit vs the indexed set (union-sweep trick — probe
      // ≡ sweep is proven by DedupSpec)
      val batchPairs = Dedup.minhashCandidatesOfTokens(toToks(s1Ids))
        .filter(col("est_jaccard") >= theta).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val losers = Dedup.componentLosers(
        batchPairs.toSeq.toDF("id_a", "id_b")).collect().map(_.getLong(0)).toSet
      val batchKept = s1Ids -- losers
      val crossHit =
        if (indexed.isEmpty) Set.empty[Long]
        else Dedup.minhashCandidatesOfTokens(toToks(batchKept ++ indexed))
          .filter(col("est_jaccard") >= theta).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .flatMap { case (a, bId) =>
            if (batchKept.contains(a) && indexed.contains(bId)) Some(a)
            else if (batchKept.contains(bId) && indexed.contains(a)) Some(bId)
            else None
          }.toSet
      val s2 = batchKept -- crossHit
      indexed ++= s2
      // stage 3: quality floor
      val s3 = mkDocs(b)
        .filter(col("doc_id").isin(s2.toSeq: _*))
        .withColumn("__toks", TextFns.tokens(col("text")))
        .filter(TextFns.qualityScoreOf(col("text"), col("__toks")) >= minQ)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      kept ++= s3
    }

    def keptOnDisk(): Set[Long] =
      ss.read.parquet(dest).select("doc_id").collect().map(_.getLong(0)).toSet

    // run 1: unseeded, waves as one availableNow pass
    mkDocs(1 to 30).write.parquet(src)
    Incremental.curationFirewallStream(ss, src, idx, dest, ck,
      jaccard = theta, minQuality = minQ)
    applyWave(1 to 30)
    assert(keptOnDisk() == kept, s"run 1 diverged: ${keptOnDisk()} vs $kept")
    assert(kept.size < 30, "run 1 must drop something")

    // run 2: cross-wave exact dups (i%7==0 texts repeat), cross-wave
    // near-dups (families continue), fresh junk — all three stages
    // must fire against run-1 state
    mkDocs(31 to 60).write.mode("append").parquet(src)
    Incremental.curationFirewallStream(ss, src, idx, dest, ck,
      jaccard = theta, minQuality = minQ)
    applyWave(31 to 60)
    assert(keptOnDisk() == kept, s"run 2 diverged: ${keptOnDisk()} vs $kept")
    val wave2 = (31 to 60).map(_.toLong).toSet
    assert(wave2.intersect(kept).nonEmpty, "run 2 must admit some docs")
    assert((wave2 -- kept).nonEmpty, "run 2 must drop some docs")
    // the cross-wave exact dups specifically: 40/50/60 repeat the
    // group-0/1 texts wave 1's 10/20 already fingerprinted — all drop
    assert(!kept.contains(40L) && !kept.contains(50L) && !kept.contains(60L),
      "cross-wave exact dups must be stopped by the fingerprint store")

    // per-stage accounting: monotone non-increasing chain per batch,
    // disabled stages -1, kept column equals the final admissions
    val acct = ss.read.parquet(dest + "/_accounting")
      .orderBy("__batch").collect()
    assert(acct.nonEmpty)
    acct.foreach { r =>
      val in = r.getAs[Long]("input"); val ex = r.getAs[Long]("after_exact")
      val nd = r.getAs[Long]("after_neardup"); val ql = r.getAs[Long]("after_quality")
      assert(in >= ex && ex >= nd && nd >= ql, s"non-monotone accounting: $r")
      assert(r.getAs[Long]("after_semdedup") == -1L &&
        r.getAs[Long]("after_ppl") == -1L && r.getAs[Long]("after_semantic") == -1L)
      assert(r.getAs[Long]("kept") == ql)
    }
    assert(acct.map(_.getAs[Long]("kept")).sum == kept.size.toLong)
  }

  test("mediaFirewallStream: decode drop, cross-wave near-dup via index, brightness floor, manifest output") {
    val ss = spark; import ss.implicits._
    import graft.operators.Media
    val base = Files.createTempDirectory("media_fw").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"

    // wave 1: 1 anchors a family (9 is Hamming-2 away — within-wave
    // loser), 5 is unique, 30 corrupt, 40 dark
    Seq(
      (1L, Media.stubImage(1)), (9L, Media.stubImage(9)),
      (5L, Media.stubImage(5)),
      (30L, "XXXX not an image container".getBytes("UTF-8")),
      (40L, Media.ImageMagic ++ Array[Byte](0, 8, 0, 8, 3) ++
        Array.fill[Byte](192)(0)))
      .toDF("id", "payload").write.parquet(src)
    Incremental.mediaFirewallStream(ss, src, idx, dest, ck,
      minBrightness = 50.0)
    def keptIds() = ss.read.parquet(dest).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds() == Set(1L, 5L),
      s"wave 1: family keeps min id, corrupt + dark drop: ${keptIds()}")
    val a1 = ss.read.parquet(dest + "/_accounting")
      .filter(col("__batch") === 0).collect().head
    assert((a1.getAs[Long]("input"), a1.getAs[Long]("decoded"),
      a1.getAs[Long]("after_neardup"), a1.getAs[Long]("after_feature"))
      == ((5L, 4L, 3L, 2L)), s"wave 1 accounting: $a1")

    // wave 2: 20 repeats 1's exact payload and 21 repeats 9's
    // (Hamming-2 from the INDEXED 1) — both must drop through the
    // index, never a re-sweep; 13 is fresh and unique; 31 re-plants
    // the decode drop. 41 re-plants wave 1's dark image — and drops
    // at NEAR-DUP, not the floor: 40 was a near-dup-STAGE survivor in
    // wave 1, so its fingerprint joined the index before the floor
    // dropped it (the sequential-stage semantics shared with
    // curationFirewallStream — a dup of a later-dropped doc is still
    // a dup)
    Seq(
      (20L, Media.stubImage(1)), (21L, Media.stubImage(9)),
      (13L, Media.stubImage(13)),
      (31L, "XXXX not an image container".getBytes("UTF-8")),
      (41L, Media.ImageMagic ++ Array[Byte](0, 8, 0, 8, 3) ++
        Array.fill[Byte](192)(0)))
      .toDF("id", "payload").write.mode("append").parquet(src)
    Incremental.mediaFirewallStream(ss, src, idx, dest, ck,
      minBrightness = 50.0)
    assert(keptIds() == Set(1L, 5L, 13L),
      s"wave 2: index stops the cross-wave dups: ${keptIds()}")
    val a2 = ss.read.parquet(dest + "/_accounting")
      .filter(col("__batch") === 1).collect().head
    assert((a2.getAs[Long]("input"), a2.getAs[Long]("decoded"),
      a2.getAs[Long]("after_neardup"), a2.getAs[Long]("after_feature"))
      == ((5L, 4L, 1L, 1L)), s"wave 2 accounting: $a2")
    // manifest shape: features + placement, never pixels
    val row = ss.read.parquet(dest).filter(col("id") === 13L).collect().head
    assert(row.getAs[Long]("n_pixels") == 192L)
    assert(!ss.read.parquet(dest).columns.contains("payload"))
  }

  test("curationFirewallStream opt-in stages: ppl ceiling drops gibberish, holdout leak drops, null embedding passes") {
    val ss = spark; import ss.implicits._
    import graft.operators.LanguageModel
    val base = Files.createTempDirectory("cur_fw2").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"

    // three mutually-DISSIMILAR fluent sentences (no shared trigram
    // shingles — the near-dup stage must not fire here) and the
    // frozen bigram LM trained on all three
    val sentA = "the quick brown fox jumps over the lazy dog today"
    val sentB = "a small red bird sings near the quiet river bank"
    val sentC = "many children play happy games outside during warm summer days"
    val gibber = "zxqv wkjp mnbt rqzx vvkk qqpp zzll mmnn bbvv ccxx"
    val refDocs = Seq(sentA, sentB, sentC).zipWithIndex
      .flatMap { case (t, j) => (1 to 5).map(r => ((j * 5 + r).toLong, t)) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val model = LanguageModel.trainBigramModel(refDocs, v = 64)

    def emb(x: Float): Array[Float] = Array(x, 1f - x, 0.5f)
    val holdout = Seq((900L, emb(0.9f))).toDF("vec_id", "embedding")

    // 1: fluent + embedding far from holdout -> admitted
    // 2: fluent + embedding ≡ holdout -> semantic drop
    // 3: fluent + null embedding -> passes semantic untouched
    // 4: gibberish (unseen bigrams) + far embedding -> ppl drop
    val docs = Seq(
      (1L, sentA, emb(0.1f)),
      (2L, sentB, emb(0.9f)),
      (3L, sentC, null.asInstanceOf[Array[Float]]),
      (4L, gibber, emb(0.1f)))
      .toDF("doc_id", "text", "embedding")
    docs.write.parquet(src)

    // ppl ceiling between the fluent docs' ppl and the gibberish doc's
    val probe = docs.select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("__toks"))
    val ppls = LanguageModel.perplexityOf(probe, model)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ppl")).toMap
    val ceiling = (Seq(1L, 2L, 3L).map(ppls).max + ppls(4L)) / 2.0
    assert(ppls(4L) > ceiling)

    Incremental.curationFirewallStream(ss, src, idx, dest, ck,
      minQuality = 0.0, pplModel = model, maxPpl = ceiling,
      decontamHoldout = holdout, decontamEps = 0.95)
    val kept = ss.read.parquet(dest).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"expected {1,3}, got $kept")
    val acct = ss.read.parquet(dest + "/_accounting").collect().head
    assert(acct.getAs[Long]("after_ppl") == 3L)     // doc 4 dropped
    assert(acct.getAs[Long]("after_semantic") == 2L) // doc 2 dropped
    assert(acct.getAs[Long]("kept") == 2L)
  }

  test("curationFirewallStream SemDeDup stage: within-batch and cross-wave semantic dups drop, nulls pass") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("cur_fw_sem").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"
    // frozen two-centroid quantizer (the stream contract: train once,
    // outside the stream) and eps below every planted dup cosine
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "centroid")
    val eps = 0.9
    // texts mutually dissimilar and quality-passing, so stages 1-3
    // are transparent and the SemDeDup decisions are the only drops
    def txt(i: Int) = s"unique standalone document $i " +
      (1 to 10).map(k => s"only$i$k").mkString(" ")
    // wave 1: d2/d3 are a WITHIN-BATCH semantic pair in cluster 1 —
    // the batch keep rule retains the least-prototypical member (d3,
    // whose centroid cosine is lower); d4 has no embedding and passes
    val wave1 = Seq(
      (1L, txt(1), Array(1.0f, 0.05f)),
      (2L, txt(2), Array(0.05f, 1.0f)),
      (3L, txt(3), Array(0.06f, 1.0f)),
      (4L, txt(4), null.asInstanceOf[Array[Float]]))
      .toDF("doc_id", "text", "embedding")
    // wave 2: d11 is a CROSS-WAVE dup of keeper d1 (cluster 0), d14 of
    // keeper d3 (cluster 1); d12 is same-cluster but below eps; d13
    // has no embedding
    val wave2 = Seq(
      (11L, txt(11), Array(0.99f, 0.06f)),
      (12L, txt(12), Array(0.6f, 0.8f)),
      (13L, txt(13), null.asInstanceOf[Array[Float]]),
      (14L, txt(14), Array(0.0f, 1.0f)))
      .toDF("doc_id", "text", "embedding")

    // the within-batch rule IS the batch operator's: SemDeDup over
    // wave 1's embedded docs keeps exactly {1, 3}
    val batchRule = graft.operators.Similarity.semanticDedup(
      wave1.filter(col("embedding").isNotNull)
        .select(col("doc_id").as("vec_id"), col("embedding")),
      cents, eps)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    assert(batchRule == Set(1L, 3L), s"fixture sanity: $batchRule")

    def keptOnDisk() = ss.read.parquet(dest)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    wave1.write.parquet(src)
    Incremental.curationFirewallStream(ss, src, idx, dest, ck,
      semanticEps = eps, semanticCentroids = cents)
    assert(keptOnDisk() == Set(1L, 3L, 4L),
      s"wave 1: within-batch dup d2 must drop, null-embedding d4 must pass: ${keptOnDisk()}")

    wave2.write.mode("append").parquet(src)
    Incremental.curationFirewallStream(ss, src, idx, dest, ck,
      semanticEps = eps, semanticCentroids = cents)
    assert(keptOnDisk() == Set(1L, 3L, 4L, 12L, 13L),
      s"wave 2: cross-wave dups d11/d14 must drop against the keeper index, " +
        s"d12 (same cluster, below eps) and null-embedding d13 must pass: ${keptOnDisk()}")

    // accounting: the new slot sits between near-dup and quality and
    // records exactly the planted drops
    val acct = ss.read.parquet(dest + "/_accounting")
      .orderBy("__batch").collect()
    assert(acct.map(_.getAs[Long]("after_semdedup")).toSeq == Seq(3L, 2L))
    acct.foreach { r =>
      assert(r.getAs[Long]("after_neardup") >= r.getAs[Long]("after_semdedup") &&
        r.getAs[Long]("after_semdedup") >= r.getAs[Long]("after_quality"),
        s"non-monotone accounting: $r")
    }

    // the keeper index carries exactly the embedded admissions, under
    // their assigned clusters
    val keepers = ss.read.parquet(s"$idx/semkeep")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keepers == Set(1L, 3L, 12L), s"keeper index diverged: $keepers")
  }

  /** Every row of each parquet table, sorted, for before/after
    * comparison of a replay.
    */
  private def tableRows(dirs: Seq[String]): Seq[Seq[String]] =
    dirs.map(d => spark.read.parquet(d).collect().map(_.toString).toSeq.sorted)

  private def assertSameRows(dirs: Seq[String], before: Seq[Seq[String]]): Unit =
    dirs.zip(before).zip(tableRows(dirs)).foreach { case ((d, b), a) =>
      val same = a == b
      assert(same, s"$d: the replay wrote ${a.diff(b).size} rows the first attempt " +
        s"did not and lost ${b.diff(a).size}")
    }

  /** Undo the end of batch `n` as a crash after its index appends but
    * before its output write leaves it: the checkpoint commit and the
    * `dest` segment are gone, the batch's index rows stay, and the
    * next run replays `n`. A replay that probed its own index rows
    * would drop its survivors and never rewrite `dest`.
    */
  private def crashBeforeOutput(ck: String, dest: String, n: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(ck).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$ck/commits/$n"), false))
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dest/__batch=$n"), true))
  }

  test("minhashDedupStream: a batch replayed after a crash between its index appends and its output reproduces every stored row") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("mh_replay").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"
    // families continue across the batch boundary, so batch 1 drops
    // against batch 0's index rows, and the unique docs are admitted
    val body = (1 to 24).map(k => s"term$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      if (i % 3 == 0) (i.toLong, s"unique standalone document $i " +
        (1 to 10).map(k => s"only$i$k").mkString(" "))
      else (i.toLong, s"family ${i % 5} $body tail $i")
    }.toDF("doc_id", "text")
    def run(): Unit = Incremental.minhashDedupStream(ss, src, idx, dest, ck)
    mkDocs(1 to 20).write.parquet(src)
    run()
    mkDocs(21 to 40).write.mode("append").parquet(src)
    run()
    val tables = Seq(dest, s"$idx/bands", s"$idx/sigs")
    val before = tableRows(tables)
    val kept1 = ss.read.parquet(dest).filter(col("__batch") === 1).count()
    assert(kept1 > 0 && kept1 < 20, s"batch 1 must admit some docs and drop some: $kept1")
    crashBeforeOutput(ck, dest, 1)
    run()
    assertSameRows(tables, before)
  }

  test("curationFirewallStream with SemDeDup: a batch replayed after a crash between its index appends and its output reproduces every stored row") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("cur_replay").toString
    val src = base + "/src"; val idx = base + "/idx"
    val dest = base + "/kept"; val ck = base + "/ck"
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "centroid")
    // exact copies, near-dup families and embedding directions all
    // repeat across the batch boundary, so every store is probed for
    // batch 1 with rows batch 0 wrote; directions 11.25° apart are
    // semantic dups only of their own direction at eps 0.99
    val body = (1 to 24).map(k => s"term$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      val text = (i % 10) match {
        case 0 => s"exact copy payload shared across waves group ${(i / 10) % 2}"
        case 2 | 3 => s"family ${i % 3} $body tail $i"
        case _ => s"unique standalone document $i " +
          (1 to 10).map(k => s"only$i$k").mkString(" ")
      }
      val a = (i % 8) * math.Pi / 16
      val emb = if (i % 10 == 4) null else Array(math.cos(a).toFloat, math.sin(a).toFloat)
      (i.toLong, text, emb)
    }.toDF("doc_id", "text", "embedding")
    def run(): Unit = Incremental.curationFirewallStream(ss, src, idx, dest, ck,
      semanticEps = 0.99, semanticCentroids = cents)
    mkDocs(1 to 20).write.parquet(src)
    run()
    mkDocs(21 to 40).write.mode("append").parquet(src)
    run()
    val tables = Seq(dest, s"$dest/_accounting", s"$idx/exact", s"$idx/bands",
      s"$idx/sigs", s"$idx/semkeep")
    val before = tableRows(tables)
    val acct1 = ss.read.parquet(s"$dest/_accounting").filter(col("__batch") === 1)
      .collect().head
    assert(acct1.getAs[Long]("after_exact") < acct1.getAs[Long]("input") &&
      acct1.getAs[Long]("after_neardup") < acct1.getAs[Long]("after_exact") &&
      acct1.getAs[Long]("after_semdedup") < acct1.getAs[Long]("after_neardup") &&
      acct1.getAs[Long]("kept") > 0, s"every dedup stage must drop in batch 1: $acct1")
    assert(ss.read.parquet(s"$idx/semkeep").filter(col("__batch") === 1).count() > 0,
      "batch 1 must add keepers")
    crashBeforeOutput(ck, dest, 1)
    run()
    assertSameRows(tables, before)
  }

  test("SemDeDup keeper indexes fail loud on a quantizer or eps mismatch") {
    val ss = spark; import ss.implicits._
    val base = Files.createTempDirectory("sem_geo").toString
    val centsA = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("centroid_id", "centroid")
    val centsB = Seq((0L, Array(1.0f, 0.1f)), (1L, Array(0.1f, 1.0f)))
      .toDF("centroid_id", "centroid")
    // run 1 admits keepers under quantizer A at eps 0.9
    Seq((1L, Array(1.0f, 0.05f)), (2L, Array(0.05f, 1.0f)))
      .toDF("vec_id", "embedding").write.parquet(base + "/src")
    Incremental.semanticDedupStream(ss, base + "/src", centsA,
      base + "/keep", base + "/ck1", eps = 0.9)
    Seq((3L, Array(0.8f, 0.6f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(base + "/src")
    // a different quantizer assigns probes to clusters the keepers
    // index never populated — the round-16 silent-miss class, now
    // loud for the one index family that lacked a sidecar (round 17)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Incremental.semanticDedupStream(ss, base + "/src", centsB,
        base + "/keep", base + "/ck2", eps = 0.9))
    assert(e.getCause.getMessage.contains("quantizer"),
      s"mismatch must name the quantizer checksum: ${e.getCause.getMessage}")
    // same quantizer, different eps: the pairwise-below-eps keeper
    // invariant is eps-keyed, so reuse across eps is a rebuild
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Incremental.semanticDedupStream(ss, base + "/src", centsA,
        base + "/keep", base + "/ck3", eps = 0.5))
    assert(e2.getCause.getMessage.contains("eps"),
      s"mismatch must name eps: ${e2.getCause.getMessage}")
    // matching parameters still run (fresh checkpoint, full replay)
    Incremental.semanticDedupStream(ss, base + "/src", centsA,
      base + "/keep", base + "/ck4", eps = 0.9)
    assert(ss.read.parquet(base + "/keep").count() >= 2)
    // the composed firewall's keepers index (indexDir/semkeep) too, on
    // a batch whose embeddings are all null: no cluster is probed, yet
    // the mismatch must still fail loud
    val cur = base + "/cur"
    def curate(cents: org.apache.spark.sql.DataFrame) =
      Incremental.curationFirewallStream(ss, cur + "/src", cur + "/idx",
        cur + "/kept", cur + "/ck", semanticEps = 0.9, semanticCentroids = cents)
    Seq((1L, "a first document about one topic", Array(1.0f, 0.05f)))
      .toDF("doc_id", "text", "embedding").write.parquet(cur + "/src")
    curate(centsA)
    Seq((2L, "another document that carries no embedding", null.asInstanceOf[Array[Float]]))
      .toDF("doc_id", "text", "embedding").write.mode("append").parquet(cur + "/src")
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      curate(centsB))
    assert(e3.getCause.getMessage.contains("quantizer"),
      s"composed mismatch must name the quantizer checksum: ${e3.getCause.getMessage}")
  }

  test("compaction crash window: every index probe reads the merged rows with no rerun of the compaction or the stream") {
    val ss = spark; import ss.implicits._
    import graft.operators.{Dedup, Similarity}
    import graft.queries.Retrieval
    import org.apache.spark.sql.DataFrame
    val base = Files.createTempDirectory("probe_crash").toString
    val croot = CrashFs.root(ss, base)
    val fs = new org.apache.hadoop.fs.Path(croot)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    def toToks(docs: DataFrame) =
      docs.select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks"))
    // each index: a batch build (segment -1), then two stream runs
    // (segments 0 and 1), so compaction merges -1 and 0 and keeps 1
    def twoRuns(name: String, waves: Seq[DataFrame])(run: (String, String) => Unit): Unit =
      waves.foreach { w =>
        w.write.mode("append").parquet(s"$base/$name-src")
        run(s"$base/$name-src", s"$base/$name-ck")
      }

    // MinHash: bands and sigs
    val mh = croot + "/mh"
    val body = (1 to 24).map(k => s"word$k").mkString(" ")
    def mkDocs(ids: Range) = ids.map { i =>
      (i.toLong, s"family ${i % 4} $body tail $i")
    }.toDF("doc_id", "text")
    Dedup.writeMinhashIndex(toToks(mkDocs(1 to 20)), mh)
    twoRuns("mh", Seq(mkDocs(21 to 30), mkDocs(31 to 40)))(
      Incremental.minhashIndexStream(ss, _, mh, _))
    def mhProbe() = Dedup.minhashProbe(toToks(mkDocs(41 to 45)), mh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // Hamming: a signature seed, then images admitted by the firewall
    val hm = croot + "/hm"
    val rnd = new scala.util.Random(11)
    val fps = (1L to 12L).map(_ -> rnd.nextLong()).toMap
    Dedup.writeHammingIndex(fps.toSeq.filter(_._1 <= 4L).toDF("doc_id", "sh"), hm)
    twoRuns("hm", Seq(5L to 8L, 9L to 12L).map(ids =>
      ids.map(i => (i, imgOf(fps(i)))).toDF("id", "payload")))(
      Incremental.phashDedupStream(ss, _, hm, s"$base/hm-kept", _))
    val hmQueries = fps.toSeq.map { case (i, fp) => (i + 100L, fp ^ 1L) }.toDF("doc_id", "sh")
    def hmProbe() = Dedup.hammingProbe(hmQueries, hm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // BM25: postings
    val bm = croot + "/bm"
    def mkB(ids: Range) = ids.map { i =>
      (i.toLong, s"alpha beta ${if (i % 3 == 0) "gamma gamma" else "delta"} w$i")
    }.toDF("doc_id", "text")
    Retrieval.writeBm25Index(toToks(mkB(1 to 20)), bm)
    twoRuns("bm", Seq(mkB(21 to 30), mkB(31 to 40)))(
      Incremental.bm25IndexStream(ss, _, bm, _))
    val bmQueries = Seq(1 -> Seq("gamma"), 2 -> Seq("alpha", "delta"))
    def bmProbe() = Retrieval.bm25TopKIndexed(ss, bm, bmQueries, k = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // IVF: lists
    val ivf = croot + "/ivf"
    val vrnd = new scala.util.Random(13)
    def mkVecs(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(4)(_ => (vrnd.nextFloat() - 0.5f) * 2f))
    }
    val waves = Seq(mkVecs(1 to 20), mkVecs(21 to 30), mkVecs(31 to 40))
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, Array(0f, 0f, 0f, 1f)))
      .toDF("centroid_id", "centroid")
    Similarity.writeIvfIndex(waves.head.toDF("neighbor_id", "embedding"), cents, ivf)
    twoRuns("ivf", waves.tail.map(_.toDF("neighbor_id", "embedding")))(
      Incremental.ivfIndexStream(ss, _, cents, ivf, _))
    val ivfQueries = waves.flatten.filter(_._1 % 5 == 0).toDF("query_id", "embedding")
    def ivfProbe() = Similarity.probeIvfIndex(ss, ivf, ivfQueries, cents, k = 3, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet

    val probes = Seq[(String, () => Set[_ <: Product])](
      "minhash" -> (() => mhProbe()), "hamming" -> (() => hmProbe()),
      "bm25" -> (() => bmProbe()), "ivf" -> (() => ivfProbe()))
    val recorded = probes.map { case (name, probe) => name -> probe() }.toMap
    recorded.foreach { case (name, rows) => assert(rows.nonEmpty, s"$name fixture probes nothing") }

    // crash every store's compaction after its deletes: the live tree
    // lacks the merged seed, which only the temp tree holds
    Seq(s"$mh/bands" -> "part", s"$mh/sigs" -> "spart", s"$hm/bands" -> "part",
      s"$bm/postings" -> "bucket", ivf -> "centroid").foreach { case (dir, partCol) =>
      CrashFs.armAfter("_DELETES_DONE")
      try intercept[java.io.IOException](SegmentStore(ss, dir, partCol).compact())
      finally CrashFs.disarm()
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"${dir}__compacting/_DELETES_DONE")),
        s"the crash of $dir must land in the window after its deletes")
    }
    val missed = probes.collect {
      case (name, probe) if scala.util.Try(probe()).toOption != Some(recorded(name)) => name
    }
    assert(missed.isEmpty,
      s"direct probes that lost the merged segments: ${missed.mkString(", ")}")
  }
}
