package graft.pipelines

import graft.SparkSpec
import graft.operators.Media

class MediaCorpusSpec extends SparkSpec {

  // planted corpus: id 1 anchors a near-dup family (id 9's stub dHash
  // is Hamming-2 from id 1's; id 20 carries id 1's exact payload), ids
  // 5 and 13 are >3 bits from everything, id 30 is a corrupt payload
  // (bad magic), id 40 decodes to an all-zero (dark) image that fails
  // the brightness floor
  private def plantedDocs = Seq(
    (1L, Media.stubImage(1)),
    (9L, Media.stubImage(9)),
    (20L, Media.stubImage(1)),
    (5L, Media.stubImage(5)),
    (13L, Media.stubImage(13)),
    (30L, "XXXX not an image container".getBytes("UTF-8")),
    (40L, Media.ImageMagic ++ Array[Byte](0, 8, 0, 8, 3) ++
      Array.fill[Byte](192)(0)))

  test("prepare: decode drop, near-dup family collapse, brightness floor, manifest pack") {
    val ss = spark; import ss.implicits._
    val images = plantedDocs.toDF("id", "payload")

    val (manifest, stats, release) = MediaCorpus.prepare(images,
      minBrightness = 50.0, pixelBudget = 256, nShards = 2)
    val rows = manifest.select("id", "n_pixels", "shard", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._1)

    assert(stats == MediaCorpus.MediaPrepareStats(7, 6, 4, 3),
      s"stage accounting must chain decode -> near-dup -> feature: $stats")
    assert(rows.map(_._1).toSeq == Seq(1L, 5L, 13L),
      "family keeps min id; corrupt and dark images drop at their stages")
    assert(rows.forall(_._2 == 192L))
    // all three ids are odd -> one shard; 192-pixel images against a
    // 256-pixel budget pack as chunks (0, 0, 1) in id order
    assert(rows.map(r => (r._3, r._4)).toSeq == Seq((1, 0L), (1, 0L), (1, 1L)),
      s"manifest cumsum must chunk on the pixel budget: ${rows.toSeq}")
    release()

    // idempotency: preparing the kept images changes nothing
    val kept = plantedDocs.filter(d => Set(1L, 5L, 13L)(d._1))
      .toDF("id", "payload")
    val (_, again, rel2) = MediaCorpus.prepare(kept,
      minBrightness = 50.0, pixelBudget = 256, nShards = 2)
    assert(again == MediaCorpus.MediaPrepareStats(3, 3, 3, 3),
      s"prepared survivors must pass every stage untouched: $again")
    rel2()

    // withStats=false: sentinels only, same frame
    val (lazyPrep, noStats, rel3) = MediaCorpus.prepare(images,
      minBrightness = 50.0, pixelBudget = 256, nShards = 2,
      withStats = false)
    assert(noStats == MediaCorpus.MediaPrepareStats(-1, -1, -1, -1))
    assert(lazyPrep.select("id").as[Long].collect().toSet == Set(1L, 5L, 13L))
    rel3()
  }

  test("prepare lazy contract: withStats=false adds ZERO accounting actions") {
    val ss = spark; import ss.implicits._
    val images = plantedDocs.toDF("id", "payload")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = { counter.incrementAndGet(); () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.ListenerBus.drainListeners(ss.sparkContext)
    ss.listenerManager.register(ql)
    try {
      def measure(withStats: Boolean): (Int, MediaCorpus.MediaPrepareStats, () => Unit) = {
        drain(); counter.set(0)
        val (_, stats, rel) = MediaCorpus.prepare(images,
          minBrightness = 50.0, pixelBudget = 256, nShards = 2,
          withStats = withStats)
        drain()
        (counter.get(), stats, rel)
      }
      val (lazy1, s1, r1) = measure(withStats = false)
      val (lazy2, _, r2) = measure(withStats = false)
      assert(lazy1 == lazy2, s"lazy construction must be deterministic: $lazy1 vs $lazy2")
      assert(s1 == MediaCorpus.MediaPrepareStats(-1, -1, -1, -1))
      // withStats adds EXACTLY the two accounting actions — the
      // input count and the fused stage aggregate (which carries the
      // decoded count since round 18; the signature checkpoint fires
      // its action wrapper in both modes; only its eagerness differs)
      val (acct, s3, r3) = measure(withStats = true)
      assert(s3 == MediaCorpus.MediaPrepareStats(7, 6, 4, 3), s"accounted stats: $s3")
      assert(acct == lazy1 + 2,
        s"withStats must add exactly the two accounting actions " +
          s"(input count + the fused stage aggregate; the decoded " +
          s"count rides the fused aggregate since round 18): " +
          s"lazy=$lazy1 accounted=$acct")
      r1(); r2(); r3()
    } finally ss.listenerManager.unregister(ql)
  }
}
