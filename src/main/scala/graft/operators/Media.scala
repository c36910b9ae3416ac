package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Multimodal column plumbing: images/audio/video as opaque BINARY
  * payload columns plus a typed metadata struct, with decode /
  * feature-extract / resize / frame-sample stages.
  *
  * Codecs, by format:
  *  - PNG / JPEG: REAL decode via the JDK's `javax.imageio`
  *    ([[ImageIoCodec]] — no external dependency).
  *  - WAV (RIFF PCM, 8/16-bit): REAL decode via a pure-Scala chunk
  *    parser ([[WavCodec]]).
  *  - The toy IMG0/AUD0/VID0 containers ([[StubCodec]] /
  *    [[StubAudioCodec]]): deterministic fixtures that keep the oracle
  *    gates engine-checkable; also the swap-in seam for a JNI /
  *    libvips / ffmpeg codec (same signature, everything else stands).
  *  The default codecs ([[AutoCodec]] / [[AutoAudioCodec]]) route by
  *  magic bytes, so one `decodeImages` call handles a mixed corpus.
  *
  * Execution model: decode runs in `mapPartitions`, NOT per-row UDFs,
  * because real codecs amortize expensive init (decoder tables, GPU
  * contexts) per partition — `open()` is the per-partition init point
  * (ImageIO plugin scan + cache config lands there). Pure byte-level
  * features (brightness, histograms) stay in codegen'd expressions —
  * at 100 TB that keeps the common filter path ("drop dark images")
  * inside whole-stage codegen with no serialization boundary.
  */
object Media {

  /** Toy container: magic(4) | width(2 BE) | height(2 BE) |
    * channels(1) | pixel bytes (w·h·c). "VID0" wraps frame count(2)
    * then that many IMG0 frames back to back.
    */
  val ImageMagic: Array[Byte] = "IMG0".getBytes("UTF-8")
  val VideoMagic: Array[Byte] = "VID0".getBytes("UTF-8")

  final case class ImageMeta(width: Int, height: Int, channels: Int, format: String)
  final case class DecodedImage(id: Long, meta: ImageMeta, pixels: Array[Byte])

  /** Deterministic fixture payload for an id: a w×h×c image whose
    * pixel bytes are a fixed function of (id, index).
    */
  def stubImage(id: Long, w: Int = 8, h: Int = 8, c: Int = 3): Array[Byte] = {
    val px = Array.tabulate(w * h * c)(i => ((id * 31 + i * 7) % 256).toByte)
    ImageMagic ++ Array(((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte, c.toByte) ++ px
  }

  /** Deterministic fixture video: n frames of stubImage bytes. */
  def stubVideo(id: Long, frames: Int, w: Int = 4, h: Int = 4, c: Int = 1): Array[Byte] =
    VideoMagic ++ Array(((frames >> 8) & 0xff).toByte, (frames & 0xff).toByte) ++
      (0 until frames).flatMap(f => stubImage(id * 1000 + f, w, h, c)).toArray

  /** The codec seam. `open()` is called once per partition (the
    * expensive-init amortization point); decode is per payload.
    */
  trait Codec extends Serializable {
    def open(): Unit
    def decode(payload: Array[Byte]): Option[(ImageMeta, Array[Byte])]
  }

  /** STUB codec: parses the toy IMG0 header — the deterministic
    * fixture format for oracle gates, and the swap-in seam for a
    * native codec (same signature, same pipeline).
    */
  object StubCodec extends Codec {
    override def open(): Unit = () // real impl: init decode tables / native ctx
    override def decode(p: Array[Byte]): Option[(ImageMeta, Array[Byte])] = {
      if (p.length < 9 || !p.take(4).sameElements(ImageMagic)) None
      else {
        val w = ((p(4) & 0xff) << 8) | (p(5) & 0xff)
        val h = ((p(6) & 0xff) << 8) | (p(7) & 0xff)
        val c = p(8) & 0xff
        val body = p.drop(9)
        if (body.length < w * h * c) None
        else Some((ImageMeta(w, h, c, "img0"), body.take(w * h * c)))
      }
    }
  }

  /** REAL image codec: PNG and JPEG via the JDK's `javax.imageio`
    * (present in every JRE — zero added dependencies). Decodes to
    * interleaved pixel bytes: 1 channel for grayscale images (raw
    * raster samples — `getRGB` would gamma-map gray through sRGB),
    * RGB for color, RGBA when the image carries alpha. PNG decode is
    * lossless → byte-exact and engine-independent; JPEG decode is
    * deterministic for a fixed JRE decoder (asserted decode-twice in
    * MediaSpec) but only pixel-approximate vs the encoder's input, as
    * JPEG is lossy.
    */
  object ImageIoCodec extends Codec {
    /** magic-byte sniff — which container javax.imageio should see */
    def formatOf(p: Array[Byte]): String =
      if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') "png"
      else if (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff) "jpeg"
      else null

    override def open(): Unit =
      // per-partition init: no temp-file cache (executor scratch dirs
      // may be read-only; in-memory streams are faster anyway)
      javax.imageio.ImageIO.setUseCache(false)

    override def decode(p: Array[Byte]): Option[(ImageMeta, Array[Byte])] = {
      val fmt = formatOf(p)
      if (fmt == null) None
      else
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))).map { img =>
          val w = img.getWidth; val h = img.getHeight
          val cm = img.getColorModel
          val c = if (cm.getNumComponents == 1) 1 else if (cm.hasAlpha) 4 else 3
          val out = new Array[Byte](w * h * c)
          if (c == 1) {
            val raster = img.getRaster
            // raw raster samples are depth-native (16-bit gray PNG →
            // 0..65535, 1-bit binary → 0/1): rescale to the 0..255
            // byte range the feature expressions fold over, instead of
            // silently keeping the low 8 bits
            val depth = cm.getComponentSize(0)
            var i = 0; var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val s = raster.getSample(x, y, 0)
                out(i) =
                  if (depth == 8) s.toByte
                  else if (depth > 8) (s >>> (depth - 8)).toByte
                  else (s * 255 / ((1 << depth) - 1)).toByte
                i += 1; x += 1
              }
              y += 1
            }
          } else {
            var i = 0; var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val argb = img.getRGB(x, y)
                out(i) = ((argb >> 16) & 0xff).toByte
                out(i + 1) = ((argb >> 8) & 0xff).toByte
                out(i + 2) = (argb & 0xff).toByte
                if (c == 4) out(i + 3) = ((argb >>> 24) & 0xff).toByte
                i += c; x += 1
              }
              y += 1
            }
          }
          (ImageMeta(w, h, c, fmt), out)
        } catch {
          // corrupt payloads surface as more than IOException from the
          // JDK plugins (CMMException on bad ICC profiles, IOOBE /
          // NegativeArraySizeException from fuzzed headers) — the
          // contract is decode-or-drop, never fail the task
          case scala.util.control.NonFatal(_) => None
        }
    }
  }

  /** Default codec: route by magic bytes — IMG0 fixtures to the stub,
    * PNG/JPEG to javax.imageio — so one decode pass handles a mixed
    * corpus and the deterministic oracle gates keep their fixtures.
    */
  object AutoCodec extends Codec {
    override def open(): Unit = { StubCodec.open(); ImageIoCodec.open() }
    override def decode(p: Array[Byte]): Option[(ImageMeta, Array[Byte])] =
      if (p.length >= 4 && p(0) == 'I' && p(1) == 'M' && p(2) == 'G' && p(3) == '0')
        StubCodec.decode(p)
      else ImageIoCodec.decode(p)
  }

  /** Decode a (id: Long, payload: Binary) frame into
    * (id, width, height, channels, format, pixels) — one codec open
    * per partition, rows that fail to decode are dropped (counted
    * upstream via the null pattern if needed).
    */
  def decodeImages(df: DataFrame, idCol: String = "id",
                   payloadCol: String = "payload",
                   codec: Codec = AutoCodec): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(col(idCol).cast("long"), col(payloadCol)).as[(Long, Array[Byte])]
    in.mapPartitions { it =>
      codec.open()
      it.flatMap { case (id, payload) =>
        codec.decode(payload).map { case (m, px) =>
          (id, m.width, m.height, m.channels, m.format, px)
        }
      }
    }.toDF("id", "width", "height", "channels", "format", "pixels")
  }

  /** Nearest-neighbor resize of decoded single-plane-interleaved
    * pixels — a real computation on the stub format, same partition
    * shape a real resizer would use.
    */
  def resizeImages(decoded: DataFrame, newW: Int, newH: Int): DataFrame = {
    val spark = decoded.sparkSession
    import spark.implicits._
    val in = decoded.select(col("id"), col("width"), col("height"),
      col("channels"), col("pixels")).as[(Long, Int, Int, Int, Array[Byte])]
    in.map { case (id, w, h, c, px) =>
      val out = Array.tabulate(newW * newH * c) { i =>
        val ch = i % c; val x = (i / c) % newW; val y = i / (c * newW)
        val sx = x * w / newW; val sy = y * h / newH
        px((sy * w + sx) * c + ch)
      }
      (id, newW, newH, c, out)
    }.toDF("id", "width", "height", "channels", "pixels")
  }

  /** Codegen'd byte-level features over the pixels column: mean
    * brightness and an 8-bin histogram — native Catalyst expressions
    * ([[graft.plans.UnsignedByteSum]] / [[graft.plans.ByteHistogram8]],
    * tight primitive loops via `doGenCode`), no UDF, no shuffle, so
    * quality filters on these prune before any decode-downstream stage
    * materializes. At production pixel counts (MB payloads) the former
    * hex()+substr unpack was O(bytes) interpreted string slicing per
    * row; the native loop keeps the "drop dark images" path inside
    * whole-stage codegen at any payload size (MediaSpec pins ≥1 MB).
    */
  def imageFeatures(decoded: DataFrame): DataFrame = {
    val px = ColumnBridge.expression(col("pixels"))
    decoded
      .withColumn("brightness",
        ColumnBridge.column(graft.plans.UnsignedByteSum(px)).cast("double")
          / greatest(length(col("pixels")), lit(1)))
      .withColumn("histogram8", ColumnBridge.column(graft.plans.ByteHistogram8(px)))
  }

  /** 64-bit dHash ([[graft.plans.DHash64]]) over a decoded frame's
    * `pixels`, `width`, `height` and `channels` columns; the frame
    * must be resized to 9×8 first ([[resizeImages]]), else NULL.
    */
  def dhash64: Column = {
    def e(name: String) = ColumnBridge.expression(col(name))
    ColumnBridge.column(graft.plans.DHash64(
      e("pixels"), e("width"), e("height"), e("channels")))
  }

  // ---- audio -------------------------------------------------------

  /** Toy audio container: magic(4) | sample_rate(2 BE) | channels(1) |
    * n_samples(2 BE) | 16-bit signed BE samples.
    */
  val AudioMagic: Array[Byte] = "AUD0".getBytes("UTF-8")

  final case class AudioMeta(sampleRate: Int, channels: Int, nSamples: Int)

  /** Deterministic fixture clip: samples are a fixed function of
    * (id, index) spanning both signs so zero-crossing counts are
    * non-trivial.
    */
  def stubAudio(id: Long, n: Int = 64, rate: Int = 16000): Array[Byte] = {
    val hdr = AudioMagic ++ Array(
      ((rate >> 8) & 0xff).toByte, (rate & 0xff).toByte, 1.toByte,
      ((n >> 8) & 0xff).toByte, (n & 0xff).toByte)
    hdr ++ Array.tabulate(n) { i =>
      val v = ((id * 37 + i * 11) % 2048).toInt - 1024
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    }.flatten
  }

  /** Full-entropy synthetic clip (the ×R rehearsal generator,
    * promoted to shared code round 16): samples are
    * splitmix64-derived from (seed, i), so DISTINCT seeds give
    * independent energy-envelope fingerprints — the realistic
    * clustered-corpus entropy class, vs [[stubAudio]]'s sawtooth
    * whose fingerprint space collapses at scale (the adversarial
    * class the capped-sweep negative results document). Same seed =
    * byte-identical clip; `perturbAt >= 0` nudges one sample,
    * planting a ≤2-bit near-dup of the unperturbed seed's clip.
    */
  def mixAudio(seed: Long, n: Int = 130, rate: Int = 16000,
               perturbAt: Int = -1, perturbBy: Int = 0): Array[Byte] = {
    val samples = Array.tabulate(n)(i => (splitmix64(seed * n + i) % 2000L).toInt)
    if (perturbAt >= 0) samples(perturbAt) += perturbBy
    val hdr = AudioMagic ++ Array(
      ((rate >> 8) & 0xff).toByte, (rate & 0xff).toByte, 1.toByte,
      ((n >> 8) & 0xff).toByte, (n & 0xff).toByte)
    hdr ++ samples.flatMap(v =>
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte))
  }

  /** Full-entropy synthetic 8×8 RGB image, the [[mixAudio]] twin:
    * a seed ≡ 4 (mod 5) is an EDITED copy of seed − 1 (one channel
    * bumped), a planted near-dup at distance ≤ 2.
    */
  def mixImage(seed: Long): Array[Byte] = {
    val base = if (seed % 5 == 4) seed - 1 else seed
    val px = Array.tabulate(8 * 8 * 3)(i => (splitmix64(base * 192 + i) & 0xff).toByte)
    if (seed % 5 == 4) px(60) = ((px(60) & 0xff) + 120).toByte
    ImageMagic ++ Array[Byte](0, 8, 0, 8, 3) ++ px
  }

  /** The splitmix64 output mix, the synthetic generators' source. */
  private[graft] def splitmix64(z0: Long): Long = {
    var z = z0 * 0x9E3779B97F4A7C15L
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Audio codec seam — same per-partition `open()` lifecycle as
    * [[Codec]]; a real deployment swaps in an ffmpeg/libsndfile
    * decoder with this signature.
    */
  trait AudioCodec extends Serializable {
    def open(): Unit
    def decode(payload: Array[Byte]): Option[(AudioMeta, Array[Int])]
  }

  object StubAudioCodec extends AudioCodec {
    override def open(): Unit = ()
    override def decode(p: Array[Byte]): Option[(AudioMeta, Array[Int])] = {
      if (p.length < 9 || !p.take(4).sameElements(AudioMagic)) None
      else {
        val rate = ((p(4) & 0xff) << 8) | (p(5) & 0xff)
        val ch = p(6) & 0xff
        val n = ((p(7) & 0xff) << 8) | (p(8) & 0xff)
        if (p.length < 9 + 2 * n) None
        else Some((AudioMeta(rate, ch, n), Array.tabulate(n) { i =>
          val raw = ((p(9 + 2 * i) & 0xff) << 8) | (p(10 + 2 * i) & 0xff)
          if (raw >= 0x8000) raw - 0x10000 else raw // sign-extend
        }))
      }
    }
  }

  /** REAL audio codec: RIFF/WAVE PCM (the interchange format every
    * recorder emits) via a pure-Scala chunk walker — format 1 (integer
    * PCM), 8-bit unsigned or 16-bit signed little-endian, any channel
    * count. Samples come back channel-interleaved exactly as stored
    * (lossless → byte-exact); `n_samples` counts TOTAL samples across
    * channels, matching what the feature expressions fold over.
    * Unknown chunks (LIST, fact, cue…) are skipped by size, as the
    * spec requires; non-PCM (float, ADPCM, extensible) and truncated
    * payloads are dropped, same contract as the image side.
    */
  object WavCodec extends AudioCodec {
    private def le16(p: Array[Byte], o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    private def le32(p: Array[Byte], o: Int): Int = le16(p, o) | (le16(p, o + 2) << 16)
    private def tag(p: Array[Byte], o: Int, s: String): Boolean =
      p(o) == s(0) && p(o + 1) == s(1) && p(o + 2) == s(2) && p(o + 3) == s(3)

    override def open(): Unit = ()
    override def decode(p: Array[Byte]): Option[(AudioMeta, Array[Int])] = {
      if (p.length < 12 || !tag(p, 0, "RIFF") || !tag(p, 8, "WAVE")) None
      else {
        var off = 12
        var rate = -1; var channels = -1; var bits = -1; var pcm = true
        var dataOff = -1; var dataLen = -1
        while (off + 8 <= p.length) {
          val sz = le32(p, off + 4)
          if (tag(p, off, "fmt ") && off + 8 + 16 <= p.length) {
            pcm = le16(p, off + 8) == 1
            channels = le16(p, off + 10)
            rate = le32(p, off + 12)
            bits = le16(p, off + 22)
          } else if (tag(p, off, "data") && dataOff < 0) {
            dataOff = off + 8
            dataLen = math.max(0, math.min(sz, p.length - dataOff))
          }
          // RIFF chunks are word-aligned. The size field is attacker/
          // corruption-controlled: a negative value would advance the
          // cursor by ≤0 (infinite loop) and a huge one would overflow
          // Int — advance in Long and stop the walk on any size that
          // can't be sane (whatever was parsed so far still counts).
          val next = off.toLong + 8L + sz.toLong + (sz & 1)
          off = if (sz < 0 || next > p.length) p.length else next.toInt
        }
        if (!pcm || rate <= 0 || channels <= 0 || dataOff < 0 ||
            (bits != 8 && bits != 16)) None
        else {
          val n = dataLen / (bits / 8)
          val out = new Array[Int](n)
          var i = 0
          while (i < n) {
            out(i) =
              if (bits == 16) {
                val raw = le16(p, dataOff + 2 * i)
                if (raw >= 0x8000) raw - 0x10000 else raw // sign-extend
              } else (p(dataOff + i) & 0xff) - 128 // 8-bit WAV is unsigned, center it
            i += 1
          }
          Some((AudioMeta(rate, channels, n), out))
        }
      }
    }
  }

  /** Default audio codec: AUD0 fixtures to the stub, RIFF/WAVE to the
    * real PCM parser — mirror of [[AutoCodec]].
    */
  object AutoAudioCodec extends AudioCodec {
    override def open(): Unit = { StubAudioCodec.open(); WavCodec.open() }
    override def decode(p: Array[Byte]): Option[(AudioMeta, Array[Int])] =
      if (p.length >= 4 && p(0) == 'A' && p(1) == 'U' && p(2) == 'D' && p(3) == '0')
        StubAudioCodec.decode(p)
      else WavCodec.decode(p)
  }

  /** Decode (id, payload) audio rows to (id, sample_rate, n_samples,
    * samples: array<int>) — mapPartitions with one codec open per
    * partition, undecodable rows dropped (same contract as
    * [[decodeImages]]).
    */
  def decodeAudio(df: DataFrame, idCol: String = "id",
                  payloadCol: String = "payload",
                  codec: AudioCodec = AutoAudioCodec): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(col(idCol).cast("long"), col(payloadCol)).as[(Long, Array[Byte])]
    in.mapPartitions { it =>
      codec.open()
      it.flatMap { case (id, payload) =>
        codec.decode(payload).map { case (m, s) => (id, m.sampleRate, m.nSamples, s) }
      }
    }.toDF("id", "sample_rate", "n_samples", "samples")
  }

  /** 64-bit audio fingerprint ([[graft.plans.AudioHash64]]) over a
    * decoded clip's `samples` column; NULL under 65 samples.
    */
  def audioHash64: Column =
    ColumnBridge.column(graft.plans.AudioHash64(ColumnBridge.expression(col("samples"))))

  /** Codegen'd clip features over the decoded samples column — the
    * speech-pipeline quality filters (drop silent / clipped / buzzing
    * clips): RMS energy, peak amplitude, zero-crossing count. Integer
    * sums stay exact (the square-sum is a long fold); the only double
    * op is the final division + sqrt, rounded at the boundary per the
    * oracle determinism contract.
    */
  def audioFeatures(decoded: DataFrame): DataFrame =
    decoded
      .withColumn("__sq", aggregate(col("samples"), lit(0L),
        (a, v) => a + v.cast("long") * v))
      .withColumn("rms", round(
        sqrt(col("__sq").cast("double") / greatest(col("n_samples"), lit(1))), 6))
      .withColumn("peak", coalesce(
        array_max(transform(col("samples"), v => abs(v))), lit(0)))
      .withColumn("zero_crossings", size(filter(
        zip_with(
          slice(col("samples"), lit(1), greatest(size(col("samples")) - 1, lit(0))),
          slice(col("samples"), lit(2), greatest(size(col("samples")) - 1, lit(0))),
          (a, b) => a * b < 0),
        x => x)))
      .drop("__sq")

  /** Every `stride`-th frame of a multi-frame GIF (the one REAL
    * multi-frame container the JDK decodes natively), re-encoded as
    * standalone PNG payloads so the kept frames flow through
    * [[decodeImages]]/[[imageFeatures]] losslessly. Frames are decoded
    * as stored — GIF disposal-method compositing (partial frames drawn
    * over a canvas) is not applied, the right trade for a sampling
    * stage whose consumers want per-frame features, not animation
    * playback. A real video deployment swaps this per-payload function
    * for an ffmpeg keyframe extractor with the same (bytes, stride) →
    * frames signature.
    */
  private[operators] def gifFrames(p: Array[Byte], stride: Int): Seq[(Int, Array[Byte])] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(p))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) Seq.empty
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          val n = r.getNumImages(true)
          (0 until n by stride).map { i =>
            val bos = new java.io.ByteArrayOutputStream
            javax.imageio.ImageIO.write(r.read(i), "png", bos)
            (i, bos.toByteArray)
          }
        } finally r.dispose()
      }
    } catch {
      // same decode-or-drop contract as ImageIoCodec: corrupt GIFs can
      // raise RuntimeExceptions from the JDK reader, not just IOException
      case scala.util.control.NonFatal(_) => Seq.empty
    } finally iis.close()
  }

  private def isGif(p: Array[Byte]): Boolean =
    p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8'

  /** Sample every `stride`-th frame of a video payload (frame-sample
    * stage of a video pipeline): emits (id, frame_index, payload) with
    * one standalone image payload per kept frame. Routes by magic like
    * the image codecs: animated GIF → real ImageIO frame extraction
    * (PNG payloads, [[gifFrames]]); toy VID0 fixtures → IMG0 payloads.
    */
  def sampleFrames(df: DataFrame, stride: Int, idCol: String = "id",
                   payloadCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(col(idCol).cast("long"), col(payloadCol)).as[(Long, Array[Byte])]
    in.flatMap { case (id, p) =>
      if (isGif(p)) gifFrames(p, stride).iterator.map { case (f, png) => (id, f, png) }
      else if (p.length < 6 || !p.take(4).sameElements(VideoMagic)) Iterator.empty
      else {
        val n = ((p(4) & 0xff) << 8) | (p(5) & 0xff)
        var off = 6
        val frames = (0 until n).iterator.flatMap { f =>
          if (off + 9 > p.length) Iterator.empty
          else {
            val w = ((p(off + 4) & 0xff) << 8) | (p(off + 5) & 0xff)
            val h = ((p(off + 6) & 0xff) << 8) | (p(off + 7) & 0xff)
            val c = p(off + 8) & 0xff
            val sz = 9 + w * h * c
            val frame = p.slice(off, off + sz)
            off += sz
            if (f % stride == 0) Iterator.single((id, f, frame)) else Iterator.empty
          }
        }
        frames.toSeq
      }
    }.toDF("id", "frame_index", "payload")
  }
}
