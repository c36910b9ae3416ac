package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Every value is a pure function of the
  * workload seed and the op index, so one seed always yields
  * byte-identical inputs (the self-test checks it) and the engine sees
  * nothing but what the seed generates.
  */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def of(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(0x5EEDL)((h, p) => mix(h ^ p)))

  def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    while (sb.length < n) sb.append(f"${r.nextLong()}%016x")
    sb.substring(0, n)
  }

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
}

final case class Holder(addr: String, qty: BigInt)

final case class Tx(wallet: String, ts: Long, block: Long, idx: Int, hash: String,
                    from: String, to: String, valueRaw: BigInt)

/** Explorer history for `merl_cycle`: holder snapshots per 6-hour
  * bucket and per-wallet token transfers, for `nTokens` tokens. Op `i`
  * is bucket `i`; the explorer's clock at op `i` is [[asOf]]`(i)`, five
  * hours into the bucket.
  */
final class MerlGen(seed: Long, val nTokens: Int, holdersPerBucket: Int,
                    val walletsPerToken: Int) {
  val Base = 1726444800L // 2024-09-16T00:00Z, a 6-hour boundary
  val Period = 21600L
  private val Genesis = Base - 10 * 86400L
  private val Universe = 2 * holdersPerBucket

  def asOf(i: Int): Long = Base + i * Period + 18000L
  def bucketStart(i: Int): Long = Base + i * Period

  val tokens: IndexedSeq[String] =
    (0 until nTokens).map(t => "0x" + Rng.hex(Rng.of(seed, 1, t), 40))
  val decimals: IndexedSeq[Int] = (0 until nTokens).map(t => if (t % 2 == 0) 18 else 8)
  def tokenIndex(addr: String): Int = tokens.indexOf(addr.toLowerCase)
  /** The tokens op `i` refreshes: one, in rotation. */
  def tokensAt(i: Int): IndexedSeq[Int] = IndexedSeq(i % nTokens)

  private val universe: IndexedSeq[IndexedSeq[String]] = tokens.indices.map { t =>
    val r = Rng.of(seed, 2, t)
    (0 until Universe).map(_ => "0x" + Rng.hex(r, 40))
  }

  /** Token `t`'s holder list in bucket `i`, in explorer page order.
    * `None` marks a malformed item (a field missing) that ingest must
    * drop. Quantities are whole multiples of 10^-6 token units.
    */
  def snapshot(t: Int, i: Int): IndexedSeq[Option[Holder]] = {
    val r = Rng.of(seed, 3, t, i)
    val idx = Array.range(0, Universe)
    for (k <- 0 until holdersPerBucket) {
      val j = k + r.nextInt(Universe - k)
      val x = idx(k); idx(k) = idx(j); idx(j) = x
    }
    val unit = BigInt(10).pow(decimals(t) - 6)
    val out = IndexedSeq.newBuilder[Option[Holder]]
    for (k <- 0 until holdersPerBucket) {
      if (r.nextInt(100) == 0) out += None
      val units = math.floor(math.exp(r.nextGaussian() * 2.0 + 9.0)).toLong + 1L
      out += Some(Holder(universe(t)(idx(k)), unit * units))
    }
    out.result()
  }

  /** Reference Top-100: rank by quantity descending, holder ascending. */
  def top100(t: Int, i: Int): IndexedSeq[(Int, Holder)] =
    snapshot(t, i).flatten.sortBy(h => (-h.qty, h.addr)).take(100)
      .zipWithIndex.map { case (h, k) => (k + 1, h) }

  /** The Top-100 wallets whose transfers op `i` ingests for token `t`. */
  def wallets(t: Int, i: Int): IndexedSeq[String] = {
    val top = top100(t, i).map(_._2.addr)
    val r = Rng.of(seed, 4, t, i)
    val picked = scala.collection.mutable.LinkedHashSet.empty[String]
    while (picked.size < math.min(walletsPerToken, top.size))
      picked += top(r.nextInt(top.size))
    picked.toIndexedSeq
  }

  /** Wallet `w`'s transfers of token `t` during period `k` — the six
    * hours ending at `asOf(k)`, with a burst in the last hour so the
    * 60-minute activity window is never empty.
    */
  def periodTxs(w: String, t: Int, k: Int): IndexedSeq[Tx] = {
    val r = Rng.of(seed, 5, t, w.hashCode.toLong, k)
    val end = asOf(k)
    val n1 = 3 + r.nextInt(5)
    val n2 = 2 + r.nextInt(4)
    val stamps = (Seq.fill(n1)(end - Period + 1 + r.nextInt(Period.toInt - 3600)) ++
      Seq.fill(n2)(end - 3599 + r.nextInt(3600))).sorted
    stamps.zipWithIndex.map { case (ts, j) =>
      val cp = "0x" + Rng.hex(r, 40)
      val in = r.nextBoolean()
      Tx(w, ts, (ts - Genesis) / 2, j, "0x" + Rng.hex(r, 64),
        if (in) cp else w, if (in) w else cp,
        BigInt(1 + r.nextInt(999999)) * BigInt(10).pow(14))
    }.toIndexedSeq
  }

  /** Wallet `w`'s full explorer history up to op `i`, ascending. */
  def chain(w: String, t: Int, i: Int): IndexedSeq[Tx] =
    (0 to i).flatMap(k => periodTxs(w, t, k)).sortBy(x => (x.block, x.ts, x.idx))

  /** Reference activity over the 60-minute window ending at
    * `asOf(i)`: per wallet (in, out, txs), amounts in 18-decimal units.
    */
  def activity(t: Int, i: Int): IndexedSeq[(String, BigDecimal, BigDecimal, Long)] = {
    val hi = asOf(i); val lo = hi - 3600
    wallets(t, i).flatMap { w =>
      val win = chain(w, t, i).filter(x => x.ts >= lo && x.ts <= hi)
      def amt(x: Tx) = BigDecimal(x.valueRaw) / BigDecimal(10).pow(18)
      if (win.isEmpty) None
      else Some((w, win.filter(_.to == w).map(amt).sum,
        win.filter(_.from == w).map(amt).sum, win.size.toLong))
    }
  }
}

final case class Doc(id: Long, text: String, emb: Array[Float], copyOf: Long, exact: Boolean)

/** Documents + embeddings in the shape of the sf0.1 `documents` and
  * `embeddings` fixtures (30-word vocabulary, 8-92 words per document,
  * 64-dimensional embeddings around 10 labelled centres, about 40% of
  * documents embedded), with planted exact copies (case and
  * punctuation changed, which normalization removes) and near copies
  * (about one word in 25 replaced) at stated rates.
  */
final class DocGen(seed: Long) {
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Dim = 64
  private val centres: IndexedSeq[Array[Float]] = {
    val r = Rng.of(seed, 10)
    (0 until 10).map(_ => Array.fill(Dim)(r.nextGaussian().toFloat))
  }

  private def freshText(r: SplittableRandom): String =
    Seq.fill(8 + r.nextInt(85))(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  private def embedding(r: SplittableRandom): Array[Float] = {
    val c = centres(r.nextInt(centres.size))
    c.map(x => x + (r.nextGaussian() * 0.6).toFloat)
  }

  private def shaken(r: SplittableRandom, v: Array[Float]): Array[Float] =
    if (v == null) null else v.map(x => x + (r.nextGaussian() * 0.01).toFloat)

  private def exactCopy(r: SplittableRandom, text: String): String =
    text.split(" ").map(w => if (r.nextInt(4) == 0) w.toUpperCase else w)
      .mkString(if (r.nextBoolean()) " " else "  ") + (if (r.nextBoolean()) "." else "!")

  private def nearCopy(r: SplittableRandom, text: String): String =
    text.split(" ").map(w => if (r.nextInt(25) == 0) Vocab(r.nextInt(Vocab.size)) else w)
      .mkString(" ")

  /** `n` documents with ids from `idBase`. Each is, independently, an
    * exact copy (rate `exactRate`) or a near copy (`nearRate`) of an
    * earlier document of this batch or of `pool`, else fresh.
    */
  def batch(key: Long, idBase: Long, n: Int, exactRate: Double, nearRate: Double,
            pool: IndexedSeq[Doc] = IndexedSeq.empty): IndexedSeq[Doc] = {
    val r = Rng.of(seed, 11, key)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (k <- 0 until n) {
      val id = idBase + k
      val sources = pool.size + out.size
      val u = r.nextDouble()
      if (sources > 0 && u < exactRate + nearRate) {
        val j = r.nextInt(sources)
        val src = if (j < pool.size) pool(j) else out(j - pool.size)
        val exact = u < exactRate
        out += Doc(id, if (exact) exactCopy(r, src.text) else nearCopy(r, src.text),
          shaken(r, src.emb), src.id, exact)
      } else
        out += Doc(id, freshText(r), if (r.nextInt(5) < 2) embedding(r) else null, -1L, false)
    }
    out.toIndexedSeq
  }

  /** `n` embeddings for training a quantizer or standing in for an
    * evaluation set.
    */
  def vectors(key: Long, n: Int): IndexedSeq[Array[Float]] = {
    val r = Rng.of(seed, 12, key)
    IndexedSeq.fill(n)(embedding(r))
  }

  /** A stable byte serialization of a batch (the self-test's input
    * identity check).
    */
  def bytes(docs: Seq[Doc]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bo)
    docs.foreach { d =>
      out.writeLong(d.id); out.writeUTF(d.text); out.writeLong(d.copyOf)
      out.writeBoolean(d.exact)
      if (d.emb == null) out.writeInt(-1)
      else { out.writeInt(d.emb.length); d.emb.foreach(out.writeFloat) }
    }
    out.flush(); bo.toByteArray
  }
}
