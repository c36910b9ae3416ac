package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class MediaSpec extends SparkSpec {

  private def images = {
    val ss = spark; import ss.implicits._
    Seq((1L, Media.stubImage(1L, 4, 4, 3)),
      (2L, Media.stubImage(2L, 8, 2, 1)),
      (3L, "not an image".getBytes("UTF-8"))).toDF("id", "payload")
  }

  test("decodeImages parses headers per partition and drops undecodable rows") {
    val d = Media.decodeImages(images)
    val got = d.select("id", "width", "height", "channels", "format")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
      .toSet
    assert(got == Set((1L, 4, 4, 3, "img0"), (2L, 8, 2, 1, "img0")))
    val px = d.filter(col("id") === 1L).select("pixels").head().getAs[Array[Byte]](0)
    assert(px.length == 4 * 4 * 3)
    assert(px(0) == ((1 * 31 + 0) % 256).toByte && px(5) == ((1 * 31 + 35) % 256).toByte)
  }

  test("imageFeatures computes exact brightness and histogram via expressions") {
    val ss = spark; import ss.implicits._
    // constant-pixel image: 9 bytes of value 100 → brightness 100, all in bin 3
    val flat = Array.fill(9)(100.toByte)
    val payload = Media.ImageMagic ++ Array[Byte](0, 3, 0, 3, 1) ++ flat
    val d = Media.decodeImages(Seq((7L, payload)).toDF("id", "payload"))
    val f = Media.imageFeatures(d)
      .select(col("brightness"), col("histogram8")).head()
    assert(f.getDouble(0) == 100.0)
    assert(f.getSeq[Int](1) == Seq(0, 0, 0, 9, 0, 0, 0, 0))
  }

  test("every native operator family analyzes on a fresh session and leaves its function registry alone") {
    val ns = spark.newSession(); import ns.implicits._
    val reg = ns.sessionState.functionRegistry
    def graftFns = reg.listFunction().filter(_.funcName.startsWith("graft_"))
    graftFns.foreach(reg.dropFunction)
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("id", "embedding")
    val words = (1 to 9).map(i => s"w$i")
    val toks = Seq((1L, "train", words), (2L, "val", words)).toDF("doc_id", "split", "__toks")
    val payload = Media.ImageMagic ++ Array[Byte](0, 3, 0, 3, 1) ++ Array.fill(9)(100.toByte)
    // bruteForceTopK runs first, so no other operator can have set up
    // the session for it
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "bruteForceTopK" -> (() => Similarity.bruteForceTopK(
        vecs.withColumnRenamed("id", "query_id"), vecs.withColumnRenamed("id", "neighbor_id"), 1)),
      "imageFeatures" -> (() => Media.imageFeatures(
        Media.decodeImages(Seq((7L, payload)).toDF("id", "payload")))),
      "simhashSignaturesOfTokens" -> (() => Dedup.simhashSignaturesOfTokens(toks)),
      "leakedGrams" -> (() => Decontam.leakedGrams(toks)),
      "exactTopK" -> (() => HeavyHitters.exactTopK(
        toks.select(explode(col("__toks")).as("t")), col("t"), 2)),
      "zOrderKeyRaw" -> (() => vecs.select(Layout.zOrderKeyRaw(Seq(col("id"), col("id"))))))
    val failed = ops.flatMap { case (name, op) =>
      scala.util.Try(op().queryExecution.assertAnalyzed()).failed.toOption
        .map(e => s"$name: ${e.getMessage.linesIterator.next()}")
    }
    assert(failed.isEmpty, s"operators failed analysis on a fresh session: $failed")
    assert(graftFns.isEmpty,
      s"operators wrote into the session's function registry: ${graftFns.map(_.funcName)}")
  }

  test("imageFeatures at a production-size payload (≥1 MB) through the native byte expressions") {
    val ss = spark; import ss.implicits._
    // 646×646×3 ≈ 1.25 MB of pixels — the payload size where the old
    // hex()+substr unpack was O(bytes) interpreted string slicing
    val (w, h, c) = (646, 646, 3)
    val payload = Media.stubImage(9L, w, h, c)
    assert(payload.length > 1024 * 1024)
    val d = Media.decodeImages(Seq((9L, payload)).toDF("id", "payload"))
    val f = Media.imageFeatures(d)

    // no hex-unpack anywhere in the plan; features come from the
    // native codegen'd expressions
    val plan = f.queryExecution.executedPlan.toString
    assert(!plan.contains("hex("), s"hex-path must be gone, plan:\n$plan")
    assert(plan.contains("graft_byte_sum") && plan.contains("graft_byte_hist8"))

    // exact against a direct Scala computation on the same bytes
    val px = payload.drop(9)
    val expectedBrightness = px.map(_ & 0xff).map(_.toLong).sum.toDouble / (w * h * c)
    val expectedHist = {
      val counts = new Array[Int](8)
      px.foreach(b => counts((b & 0xff) >>> 5) += 1)
      counts.toSeq
    }
    val row = f.select(col("brightness"), col("histogram8")).head()
    assert(row.getDouble(0) == expectedBrightness)
    assert(row.getSeq[Int](1) == expectedHist)
  }

  test("resizeImages nearest-neighbor halves dimensions") {
    val d = Media.decodeImages(images).filter(col("id") === 1L)
    val r = Media.resizeImages(d, 2, 2)
    val row = r.head()
    assert(row.getAs[Int]("width") == 2 && row.getAs[Int]("height") == 2)
    val px = row.getAs[Array[Byte]]("pixels")
    assert(px.length == 2 * 2 * 3)
    // top-left pixel of the resize = source pixel (0,0), all channels
    val src = Media.decodeImages(images).filter(col("id") === 1L)
      .head().getAs[Array[Byte]]("pixels")
    assert(px.take(3).sameElements(src.take(3)))
  }

  test("audio: decode roundtrips the stub clip; features match hand computation") {
    val ss = spark; import ss.implicits._
    val id = 3L
    val clips = Seq((id, Media.stubAudio(id, n = 8, rate = 8000)),
      (99L, Array[Byte](1, 2, 3))) // malformed → dropped
      .toDF("id", "payload")
    val feats = Media.audioFeatures(Media.decodeAudio(clips)).collect()
    assert(feats.length == 1, "malformed payload must be dropped")
    val r = feats.head
    val want = Array.tabulate(8)(i => ((id * 37 + i * 11) % 2048).toInt - 1024)
    assert(r.getAs[Int]("sample_rate") == 8000 && r.getAs[Int]("n_samples") == 8)
    assert(r.getAs[scala.collection.Seq[Int]]("samples").toSeq == want.toSeq,
      "sign-extended roundtrip")
    val rms = math.sqrt(want.map(v => v.toLong * v).sum.toDouble / 8)
    assert(r.getAs[Double]("rms") == BigDecimal(rms)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Int]("peak") == want.map(math.abs).max)
    val zc = want.sliding(2).count(p => p(0) * p(1) < 0)
    assert(r.getAs[Int]("zero_crossings") == zc)
  }

  // ---- real codecs: PNG/JPEG (javax.imageio) and RIFF/WAVE PCM ----

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real PNG (RGB) decodes byte-exactly through the default codec") {
    val ss = spark; import ss.implicits._
    val (w, h) = (3, 2)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // known pixel function, all channels distinct, spans byte range
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 40) << 16) | ((y * 90 + 5) << 8) | (x * 70 + y * 11))
    val d = Media.decodeImages(Seq((1L, pngBytes(img))).toDF("id", "payload")).head()
    assert((d.getAs[Int]("width"), d.getAs[Int]("height"),
      d.getAs[Int]("channels"), d.getAs[String]("format")) == ((w, h, 3, "png")))
    val px = d.getAs[Array[Byte]]("pixels")
    val want = (for (y <- 0 until h; x <- 0 until w)
      yield Seq((x * 40).toByte, (y * 90 + 5).toByte, (x * 70 + y * 11).toByte)).flatten
    assert(px.toSeq == want, "PNG is lossless: decoded pixels must be byte-exact")
  }

  test("real PNG (grayscale) decodes via raw raster samples, 1 channel") {
    val ss = spark; import ss.implicits._
    val (w, h) = (4, 3)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 60 + y * 17) % 256)
    val d = Media.decodeImages(Seq((2L, pngBytes(img))).toDF("id", "payload")).head()
    assert(d.getAs[Int]("channels") == 1 && d.getAs[String]("format") == "png")
    val want = (for (y <- 0 until h; x <- 0 until w) yield ((x * 60 + y * 17) % 256).toByte).toSeq
    assert(d.getAs[Array[Byte]]("pixels").toSeq == want,
      "gray must come from raster samples, not sRGB-mapped getRGB")
  }

  test("real JPEG decodes with correct dims and deterministically (decode-twice)") {
    val ss = spark; import ss.implicits._
    val (w, h) = (16, 8)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x808080) // constant mid-gray
    val bos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val payload = bos.toByteArray
    val rows = Media.decodeImages(Seq((3L, payload), (4L, payload)).toDF("id", "payload"))
      .orderBy("id").collect()
    assert(rows.length == 2)
    val first = rows(0)
    assert((first.getAs[Int]("width"), first.getAs[Int]("height"),
      first.getAs[String]("format")) == ((w, h, "jpeg")))
    assert(first.getAs[Array[Byte]]("pixels").sameElements(rows(1).getAs[Array[Byte]]("pixels")),
      "JPEG decode must be deterministic for a fixed decoder")
    // lossy but close: constant-color image decodes within a small tolerance
    val px = first.getAs[Array[Byte]]("pixels").map(_ & 0xff)
    assert(px.forall(v => math.abs(v - 0x80) <= 4), s"max dev ${px.map(v => math.abs(v - 0x80)).max}")
  }

  /** Minimal RIFF/WAVE PCM writer for fixtures: optional junk chunk
    * before fmt/data exercises the chunk-skip path.
    */
  private def wavBytes(samples: Array[Int], rate: Int = 8000, bits: Int = 16,
                       channels: Int = 1, fmtCode: Int = 1,
                       withJunkChunk: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    def tag(s: String): Unit = s.foreach(c => bos.write(c.toInt))
    val dataLen = samples.length * (bits / 8)
    val junkLen = if (withJunkChunk) 8 + 6 else 0 // "LIST" + size + 6 bytes (odd→padded)
    tag("RIFF"); w32(4 + junkLen + 24 + 8 + dataLen + (dataLen & 1)); tag("WAVE")
    if (withJunkChunk) { tag("LIST"); w32(5); Seq(1, 2, 3, 4, 5).foreach(bos.write); bos.write(0) } // odd size + pad byte
    tag("fmt "); w32(16); w16(fmtCode); w16(channels); w32(rate)
    w32(rate * channels * bits / 8); w16(channels * bits / 8); w16(bits)
    tag("data"); w32(dataLen)
    samples.foreach { s =>
      if (bits == 16) w16(if (s < 0) s + 0x10000 else s)
      else bos.write((s + 128) & 0xff)
    }
    if (dataLen % 2 == 1) bos.write(0)
    bos.toByteArray
  }

  test("real WAV (16-bit PCM) decodes byte-exactly; features flow unchanged") {
    val ss = spark; import ss.implicits._
    val want = Array(0, 1000, -1000, 32767, -32768, 7, -7, 12345)
    val clips = Seq((10L, wavBytes(want, rate = 44100))).toDF("id", "payload")
    val r = Media.audioFeatures(Media.decodeAudio(clips)).head()
    assert(r.getAs[Int]("sample_rate") == 44100 && r.getAs[Int]("n_samples") == want.length)
    assert(r.getAs[scala.collection.Seq[Int]]("samples").toSeq == want.toSeq,
      "WAV PCM is lossless: samples must round-trip sign-exact")
    assert(r.getAs[Int]("peak") == 32768)
    val zc = want.sliding(2).count(p => p(0) * p(1) < 0)
    assert(r.getAs[Int]("zero_crossings") == zc)
  }

  test("WAV edge shapes: 8-bit unsigned, stereo interleave, junk chunks, non-PCM dropped") {
    val ss = spark; import ss.implicits._
    val eight = Array(-128, 0, 127, 5)             // 8-bit: stored unsigned, centered on decode
    val stereo = Array(100, -100, 200, -200)       // L R L R
    val clips = Seq(
      (1L, wavBytes(eight, bits = 8)),
      (2L, wavBytes(stereo, channels = 2, withJunkChunk = true)),
      (3L, wavBytes(Array(1, 2, 3), fmtCode = 3)), // IEEE float → not PCM → dropped
      (4L, "RIFFgarbage".getBytes("UTF-8"))).toDF("id", "payload")
    val got = Media.decodeAudio(clips).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L), "non-PCM and malformed must drop")
    assert(got(0).getAs[scala.collection.Seq[Int]]("samples").toSeq == eight.toSeq)
    val st = got(1)
    assert(st.getAs[scala.collection.Seq[Int]]("samples").toSeq == stereo.toSeq &&
      st.getAs[Int]("n_samples") == 4, "junk chunk must be skipped by size")
  }

  test("WAV corrupt chunk sizes drop promptly — the walker must never stall or overflow") {
    def corrupt(sz: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream
      def tag(s: String): Unit = s.foreach(c => bos.write(c.toInt))
      def w32(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
        bos.write((v >> 16) & 0xff); bos.write((v >>> 24) & 0xff) }
      tag("RIFF"); w32(100); tag("WAVE")
      tag("JUNK"); w32(sz) // attacker/corruption-controlled size field
      bos.write(new Array[Byte](16))
      bos.toByteArray
    }
    // sz = -8: unguarded, the cursor advances by 8 + (-8) + 0 = 0 and
    // the chunk walk spins forever (a hung executor task, not an error)
    assert(Media.WavCodec.decode(corrupt(-8)).isEmpty, "negative size must drop")
    // sz near Int.MaxValue: unguarded, off overflows negative and the
    // next tag() probe indexes the array at a negative offset
    assert(Media.WavCodec.decode(corrupt(0x7ffffff0)).isEmpty, "huge size must drop")
    // prompt completion IS the assertion: a regression here times the suite out
  }

  test("real PNG (16-bit grayscale) rescales samples to bytes — no low-8-bit truncation") {
    val ss = spark; import ss.implicits._
    val (w, h) = (3, 2)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    // 0xFF00 truncates to 0 under .toByte; correct rescale keeps 0xFF
    val samples = Array(0x0000, 0xFF00, 0x8040, 0x0100, 0xFFFF, 0x7FFF)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, samples(y * w + x))
    val d = Media.decodeImages(Seq((7L, pngBytes(img))).toDF("id", "payload")).head()
    assert(d.getAs[Int]("channels") == 1 && d.getAs[String]("format") == "png")
    assert(d.getAs[Array[Byte]]("pixels").toSeq == samples.map(s => (s >>> 8).toByte).toSeq,
      "16-bit gray must map by high byte, not wrap through the low byte")
  }

  test("real PNG (1-bit binary) decodes full-range black/white, not 0/1 units") {
    val ss = spark; import ss.implicits._
    val img = new java.awt.image.BufferedImage(4, 1,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    Seq(0, 1, 1, 0).zipWithIndex.foreach { case (v, x) =>
      img.getRaster.setSample(x, 0, 0, v) }
    // the JDK reads a bilevel PNG back through an IndexColorModel
    // (3 palette components), so it flows the RGB path and the
    // palette lookup restores full-range values — assert that, so a
    // reader change that starts surfacing raw 0/1 samples is caught
    val d = Media.decodeImages(Seq((8L, pngBytes(img))).toDF("id", "payload")).head()
    assert(d.getAs[Int]("channels") == 3)
    assert(d.getAs[Array[Byte]]("pixels").toSeq ==
      Seq(0, 255, 255, 0).flatMap(v => Seq.fill(3)(v.toByte)),
      "bilevel must span the byte range (1 ≠ 'one brightness unit')")
  }

  test("default codec routes a mixed corpus by magic: IMG0 + PNG + JPEG + garbage") {
    val ss = spark; import ss.implicits._
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000)
    val mixed = Seq(
      (1L, Media.stubImage(1L, 4, 4, 3)),
      (2L, pngBytes(img)),
      (3L, Array[Byte](9, 9, 9))).toDF("id", "payload")
    val got = Media.decodeImages(mixed).select("id", "format").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "img0"), (2L, "png")))
  }

  test("sampleFrames extracts real animated-GIF frames as decodable PNG payloads") {
    val ss = spark; import ss.implicits._
    // 4-frame animated GIF, each frame a distinct constant color from
    // the 216-color web-safe cube (survives GIF palette quantization)
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffff00)
    val bos = new java.io.ByteArrayOutputStream
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    colors.foreach { c =>
      val img = new java.awt.image.BufferedImage(5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, c)
      w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    w.endWriteSequence(); ios.close(); w.dispose()

    val vids = Seq((7L, bos.toByteArray), (8L, "not a gif".getBytes("UTF-8")))
      .toDF("id", "payload")
    val sampled = Media.sampleFrames(vids, stride = 2)
    val idx = sampled.select("id", "frame_index").as[(Long, Int)].collect().toSet
    assert(idx == Set((7L, 0), (7L, 2)), "stride-2 over 4 GIF frames keeps 0 and 2")

    // each kept frame decodes through the SAME image path, pixel-exact
    val dec = Media.decodeImages(sampled.select(col("id"), col("payload")))
      .join(sampled.select(col("id"), col("frame_index")), "id")
    val byFrame = Media.decodeImages(sampled
        .select(col("frame_index").as("id"), col("payload")))
      .collect().map(r => r.getLong(0).toInt -> r).toMap
    Seq(0, 2).foreach { f =>
      val r = byFrame(f)
      assert((r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[String]("format")) == ((5, 4, "png")))
      val px = r.getAs[Array[Byte]]("pixels").map(_ & 0xff)
      val c = colors(f)
      val want = Seq((c >> 16) & 0xff, (c >> 8) & 0xff, c & 0xff)
      px.grouped(3).foreach(g => assert(g.toSeq == want,
        s"frame $f must be constant ${want.mkString(",")} got ${g.toSeq}"))
    }
  }

  test("sampleFrames keeps every stride-th frame of a video payload") {
    val ss = spark; import ss.implicits._
    val vid = Seq((5L, Media.stubVideo(5L, frames = 6, w = 4, h = 4, c = 1)))
      .toDF("id", "payload")
    val sampled = Media.sampleFrames(vid, stride = 2)
    val idx = sampled.select("frame_index").collect().map(_.getInt(0)).sorted.toSeq
    assert(idx == Seq(0, 2, 4))
    // every sampled frame decodes as a standalone image
    val dec = Media.decodeImages(sampled.select(col("id"), col("payload")))
    assert(dec.count() == 3)
  }

  test("media_knn_ivf mirrors media_knn's probe/corpus/k contract") {
    // shape contract of the scale path vs its exact twin: identical
    // probe set, ranks 1..k dense per probe, every neighbor drawn
    // from the corpus. Recall@5 vs the hash-gated media_knn is
    // floor-gated in QualityMetrics/ContractSpec (measured 1.0 at
    // sf0.01 AND sf0.1 with nProbe=4/16, nAssign=2; floor 0.75).
    val dir = "/root/testdata/sf0.001"
    val exact = graft.queries.MediaPipeline.mediaKnn(spark, dir)
    val ivf = graft.queries.MediaPipeline.mediaKnnIvf(spark, dir)
    val eq = exact.select("query_id").distinct().collect().map(_.getLong(0)).toSet
    val iq = ivf.select("query_id").distinct().collect().map(_.getLong(0)).toSet
    assert(iq == eq, "IVF path must serve the same probe set as the exact twin")
    val ranks = ivf.groupBy(col("query_id"))
      .agg(collect_list(col("rank")).as("rs")).collect()
    ranks.foreach { r =>
      val rs = r.getSeq[Long](1).sorted
      assert(rs == (1L to rs.size), s"ranks must be dense from 1: $rs")
    }
  }

  test("graft_dhash64: gradient-sign bits match hand computation; contract nulls") {
    val ss = spark; import ss.implicits._
    // 9×8 grayscale ramp rising left→right: every comparison is
    // gray(x+1) > gray(x) → all 64 bits set (-1L)
    val ramp = Array.tabulate(72)(i => ((i % 9) * 10).toByte)
    // falling ramp: no bit set
    val fall = Array.tabulate(72)(i => (80 - (i % 9) * 10).toByte)
    // 3-channel: integer channel MEAN decides — channel values
    // (3x, 3x+1, 3x+2) mean to 3x+1, rising with x: all bits set
    val rgb = Array.tabulate(9 * 8 * 3) { i =>
      val x = (i / 3) % 9
      (x * 3 + (i % 3)).toByte
    }
    // one flipped comparison: ramp with a single dip at (x=4, y=0) —
    // exactly bits 3 (40>30 → dip breaks) and 4 recompute
    val dip = ramp.clone(); dip(4) = 25
    def dh(px: Array[Byte], w: Int, h: Int, c: Int): Option[Long] =
      Seq((1L, px)).toDF("id", "pixels")
        .select(ColumnBridge.column(graft.plans.DHash64(ColumnBridge.expression(col("pixels")),
          Literal(w), Literal(h), Literal(c))).as("dh"))
        .collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(dh(ramp, 9, 8, 1).contains(-1L), "rising ramp: all 64 bits")
    assert(dh(fall, 9, 8, 1).contains(0L), "falling ramp: no bits")
    assert(dh(rgb, 9, 8, 3).contains(-1L), "channel-mean gray: rising")
    val dipped = dh(dip, 9, 8, 1).get
    assert(dipped != -1L && java.lang.Long.bitCount(dipped ^ -1L) == 1,
      f"single dip flips exactly one bit: $dipped%016x")
    // contract: wrong geometry or truncated buffer → null, not garbage
    assert(dh(ramp, 8, 8, 1).isEmpty, "(w-1)*h != 64 must be null")
    assert(dh(ramp.take(50), 9, 8, 1).isEmpty, "short buffer must be null")
  }

  test("media_phash_pairs: exact dups at Hamming 0, near-dups found, pairs feed CC") {
    val ss = spark; import ss.implicits._
    // planted corpus: 1 and 2 identical images; 3 a one-pixel edit of
    // them (near-dup); 4 the inverted image (far)
    val base = Media.stubImage(7L)
    val edited = base.clone()
    edited(9 + 20) = (edited(9 + 20) + 120).toByte // bump one pixel byte
    val inv = base.take(9) ++ base.drop(9).map(b => (255 - (b & 0xff)).toByte)
    val imgs = Seq((1L, base), (2L, base), (3L, edited), (4L, inv))
      .toDF("id", "payload")
    val sig = Media.resizeImages(Media.decodeImages(imgs), 9, 8)
      .select(col("id").as("doc_id"),
        Media.dhash64.as("sh"))
    val pairsDf = Dedup.hammingPairsOfSignatures(sig, maxDist = 3,
        maxPieceFreq = Long.MaxValue)
    val m = pairsDf.select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, d) => ((a, b), d) }.toMap
    assert(m.get((1L, 2L)).contains(0), s"identical images must pair at 0: $m")
    assert(m.contains((1L, 3L)) && m.contains((2L, 3L)),
      s"one-pixel edit must stay within the Hamming budget: $m")
    assert(!m.keys.exists { case (a, b) => a == 4L || b == 4L },
      s"the inverted image must not pair: $m")
    // the pair frame drops straight into the CC family like text pairs
    val comps = Dedup.connectedComponents(pairsDf.select("id_a", "id_b"))
      .select(col("node"), col("component"))
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"phash pairs must cluster through connectedComponents: $comps")
  }

  test("graft_audiohash64: energy-delta bits match hand computation; contract nulls; codegen'd") {
    val ss = spark; import ss.implicits._
    // n = 65 → every window is ONE sample, so e_k = |v_k| and the
    // bits are directly programmable from the sample magnitudes
    def ah(vs: Seq[Integer]): Option[Long] =
      Seq(Tuple1(vs)).toDF("samples")
        .select(Media.audioHash64.as("ah"))
        .collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    def boxed(vs: Seq[Int]): Seq[Integer] = vs.map(Integer.valueOf)
    val rising = boxed(0 to 64)
    val falling = boxed((0 to 64).reverse)
    val negRising = boxed((0 to 64).map(-_)) // |v| rises — abs decides
    assert(ah(rising).contains(-1L), "rising magnitudes: all 64 bits")
    assert(ah(falling).contains(0L), "falling magnitudes: no bits")
    assert(ah(negRising).contains(-1L), "negative samples fingerprint on |v|")
    // one dip at window 10 flips exactly the two comparisons it enters
    val dip = (0 to 64).toArray; dip(10) = 0
    val dipped = ah(boxed(dip.toSeq)).get
    assert(java.lang.Long.bitCount(dipped ^ -1L) == 1 && ((dipped >> 9) & 1L) == 0L,
      f"dip at window 10 clears exactly bit 9 (e10 > e9 fails): $dipped%016x")
    // two samples per window (the 130-sample fixture shape): energies sum
    val paired = boxed((0 to 64).flatMap(k => Seq(k, k))) // n=130, e_k = 2k
    assert(ah(paired).contains(-1L), "window sums preserve the rising envelope")
    // contract: too-short arrays and null samples are null, not garbage
    assert(ah(boxed(0 to 63)).isEmpty, "n < 65 must be null")
    assert(ah(boxed(0 to 63) :+ null.asInstanceOf[Integer]).isEmpty,
      "null sample must be null")
    // codegen contract: the fingerprint is one codegen'd map projection
    // over the decoded frame (a literal array would constant-fold to a
    // LocalTableScan and a transform()-built one rides a CodegenFallback
    // HOF — the real decode subtree is the honest plan to assert on)
    val clips = Seq((1L, Media.stubAudio(1L, n = 130)),
        (2L, Media.stubAudio(2L, n = 130))).toDF("id", "payload")
    val sigPlan = Media.decodeAudio(clips)
      .select(Media.audioHash64.as("ah"))
    assert(sigPlan.filter(col("ah").isNotNull).count() == 2,
      "stub clips must fingerprint")
    val plan = sigPlan.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_audiohash64") && "\\*\\(\\d+\\)".r.findFirstIn(l).isDefined),
      s"audiohash projection must be codegen'd:\n$plan")
  }

  test("media_phash_pairs plan: the fingerprint is one codegen'd map projection") {
    // the query localCheckpoints the signature frame, so the dhash
    // projection is only visible in the signature-producing plan —
    // assert the codegen contract there (the zorder-test pattern:
    // codegen stages print as "*(n)" prefixes, so the Project line
    // carrying the expression must wear one)
    val imgs = graft.queries.MediaPipeline.imageFixture(spark, "/root/testdata/sf0.001")
    val sigPlan = Media.resizeImages(Media.decodeImages(imgs), 9, 8)
      .select(Media.dhash64.as("sh"))
    assert(sigPlan.filter(col("sh").isNotNull).count() > 0,
      "fixture images must fingerprint")
    val executed = sigPlan.queryExecution.executedPlan.toString
    assert(executed.contains("graft_dhash64"), s"missing dhash expr:\n$executed")
    assert(executed.linesIterator.exists(l =>
        l.contains("graft_dhash64") && "\\*\\(\\d+\\)".r.findFirstIn(l).isDefined),
      s"dhash projection must be codegen'd:\n$executed")
  }

  test("media_video_phash: aligned-frame rollup pairs clips on >=2 sampled-frame matches") {
    val ss = spark; import ss.implicits._
    def img(seed: Long) = Media.stubImage(seed, 8, 8, 3)
    // pixel inversion flips every strict gradient sign — far in
    // Hamming by construction (the media_phash_pairs spec idiom),
    // unlike a different SEED, whose structured stub bytes can land
    // near any other seed's gradient pattern
    def inv(p: Array[Byte]): Array[Byte] =
      p.take(9) ++ p.drop(9).map(b => (255 - (b & 0xff)).toByte)
    def vid(frames: Seq[Array[Byte]]): Array[Byte] =
      Media.VideoMagic ++ Array(((frames.size >> 8) & 0xff).toByte,
        (frames.size & 0xff).toByte) ++ frames.flatten.toArray
    // 6-frame clips, stride 2 samples frames {0, 2, 4}: A == B on all
    // frames; C shares sampled frames 0 and 2 with A (2-of-3 — pairs);
    // D shares only sampled frame 0 (1-of-3 — must NOT pair)
    val fA = (0 until 6).map(f => img(5000L + f))
    val clips = Seq(
      (1L, vid(fA)),
      (2L, vid(fA)),
      (3L, vid(fA.take(4) ++ fA.slice(4, 6).map(inv))),
      (4L, vid(fA.take(1) ++ fA.slice(1, 6).map(inv))))
      .toDF("id", "payload")
    val got = graft.queries.MediaPipeline.videoPhashPairsOf(clips)
      .select("id_a", "id_b", "frames_matched")
      .as[(Long, Long, Long)].collect().toSet
    // C and D additionally share sampled frame 4 (both inverted-A) on
    // top of frame 0, so the rollup keeps (3,4) at exactly 2 — a
    // second 2-of-3 pair from a different frame combination
    assert(got == Set((1L, 2L, 3L), (1L, 3L, 2L), (2L, 3L, 2L), (3L, 4L, 2L)),
      s"expected identical clips at 3 matched frames, both 2-of-3 overlaps at 2, " +
        s"and no pair for the 1-of-3 combinations: $got")
  }

  test("mixAudio: deterministic, seed-independent fingerprints, perturbation stays within the near-dup radius") {
    val ss = spark; import ss.implicits._
    // deterministic: same seed = byte-identical clip
    assert(Media.mixAudio(7L).sameElements(Media.mixAudio(7L)))
    // the entropy contract the capped-recall mix floor rests on:
    // distinct seeds must give distinct fingerprints (no hot pieces),
    // and the planted perturbation must stay within Hamming ≤ 2 of
    // its base seed's fingerprint
    val clips = ((0L until 40L).map(s => (s, Media.mixAudio(s))) :+
      (1000L, Media.mixAudio(3L, perturbAt = 64, perturbBy = 900)))
      .toDF("id", "payload")
    val sh = Media.decodeAudio(clips)
      .select(col("id"), Media.audioHash64.as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.size == 41)
    assert(sh.values.toSet.size >= 40, "mix fingerprints must not collapse")
    val d = java.lang.Long.bitCount(sh(1000L) ^ sh(3L))
    assert(d <= 2, s"perturbed clip must stay a near-dup of its base: hamming $d")
    assert((0L until 40L).forall(s => s == 3L ||
      java.lang.Long.bitCount(sh(1000L) ^ sh(s)) > 3),
      "perturbed clip must not collide with unrelated seeds at the sweep radius")
  }
}
