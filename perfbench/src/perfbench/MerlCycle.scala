package perfbench

import graft.domain.MerlStore
import graft.pipelines.{Ingest, Report}
import graft.sources.{ExplorerClient, ExplorerTransport}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A seeded explorer: serves [[MerlGen]]'s history as
  * Etherscan-compatible envelopes, with the clock at op [[op]]. No
  * rate limiter and no network; each call is one `sources.get` span.
  */
final class MerlTransport(gen: MerlGen) extends ExplorerTransport {
  var op = 0
  var spans: Spans = new Spans(false)
  var items = 0L
  var pages = 0L
  private val holderPages = scala.collection.mutable.Map.empty[(Int, Int, Int), IndexedSeq[(String, Int)]]
  private val chains = scala.collection.mutable.Map.empty[(String, Int, Int), IndexedSeq[Tx]]
  private val NoData = """{"status":"0","message":"No data found","result":[]}"""

  /** Pre-renders op `i`'s holder pages and wallet histories, so the
    * timed op pays for serving pages, not for generating them.
    */
  def stage(i: Int, pageSize: Int): Unit = {
    holderPages.clear(); chains.clear()
    for (t <- gen.tokensAt(i)) {
      val items = gen.snapshot(t, i).map(holderJson(t, _))
      holderPages((t, i, pageSize)) =
        items.grouped(pageSize).map(p => (envelope(p), p.size)).toIndexedSeq
      gen.wallets(t, i).foreach(w => chains((w, t, i)) = gen.chain(w, t, i))
    }
  }

  private def envelope(items: Seq[String]): String =
    if (items.isEmpty) NoData
    else items.mkString("""{"status":"1","message":"OK","result":[""", ",", "]}")

  private def holderJson(t: Int, h: Option[Holder]): String = (t % 2, h) match {
    case (0, Some(x)) => s"""{"TokenHolderAddress":"${x.addr}","TokenHolderQuantity":"${x.qty}"}"""
    case (0, None) => """{"TokenHolderQuantity":"1"}"""
    case (_, Some(x)) => s"""{"address":"${x.addr}","balance":"${x.qty}","decimals":"${gen.decimals(t)}"}"""
    case (_, None) => """{"address":"0x0000000000000000000000000000000000000000"}"""
  }

  private def txJson(t: Int, x: Tx): String =
    s"""{"blockNumber":"${x.block}","timeStamp":"${x.ts}","hash":"${x.hash}","nonce":"${x.idx}",""" +
      s""""blockHash":"0x${x.block.toHexString}","from":"${x.from}","to":"${x.to}",""" +
      s""""value":"${x.valueRaw}","tokenName":"Token$t","tokenSymbol":"TK$t",""" +
      s""""tokenDecimal":"${gen.decimals(t)}","transactionIndex":"${x.idx}","gas":"60000",""" +
      s""""gasPrice":"1000000000","gasUsed":"51000","cumulativeGasUsed":"900000",""" +
      s""""input":"deprecated","confirmations":"100"}"""

  override def get(params: Map[String, String]): String = spans.span("sources.get") {
    val t = gen.tokenIndex(params("contractaddress"))
    val page = params("page").toInt
    val size = params("offset").toInt
    val (body, n) = params("action") match {
      case "tokenholderlist" =>
        holderPages.get((t, op, size)).flatMap(_.lift(page - 1)).getOrElse((NoData, 0))
      case "tokentx" =>
        val from = params("startblock").toLong
        val chain = chains.getOrElseUpdate((params("address"), t, op),
          gen.chain(params("address"), t, op))
        val slice = chain.filter(_.block >= from).slice((page - 1) * size, page * size)
        (envelope(slice.map(txJson(t, _))), slice.size)
      case other => throw new IllegalArgumentException(s"unexpected action $other")
    }
    if (n > 0) { pages += 1; items += n }
    body
  }
}

/** `merl_cycle`: the reference's own cycle, once per op, over
  * consecutive 6-hour buckets against one growing [[MerlStore]]. Op `i`
  * runs bucket `i` for token `i mod 2` (the tokens differ in decimals
  * and in the explorer's field names): the holder snapshot and Top-100
  * refresh, the transfer history of a seeded subset of the Top-100
  * wallets, then the snapshot and 60-minute activity reports into a
  * capturing notifier.
  */
final class MerlCycle(spark: SparkSession, seed: Long, work: String) extends Workload {
  private val gen = new MerlGen(seed, nTokens = 2, holdersPerBucket = 20000, walletsPerToken = 2)
  private val transport = new MerlTransport(gen)
  private val client = new ExplorerClient(transport)
  private val HolderPageSize = 500
  private val TxPageSize = 1000
  private var storeDir: String = _
  private var store: MerlStore = _
  private val notifier = new Report.StringNotifier
  private val pagesByOp = scala.collection.mutable.Map.empty[Int, Long]
  private var lastTop: Seq[Seq[(Int, String, String)]] = Nil

  def begin(phase: String): Unit = {
    storeDir = s"$work/merl-$phase"
    Workload.deleteTree(storeDir)
    store = new MerlStore(spark, storeDir)
  }

  private var wallets: Map[Int, IndexedSeq[String]] = Map.empty

  override def stage(i: Int): Unit = {
    transport.stage(i, HolderPageSize)
    wallets = gen.tokensAt(i).map(t => t -> gen.wallets(t, i)).toMap
  }

  def op(i: Int, ctx: OpCtx): Long = {
    val spans = ctx.spans
    transport.op = i; transport.spans = spans
    val items0 = transport.items; val pages0 = transport.pages
    notifier.messages.clear()
    val asOf = java.time.Instant.ofEpochSecond(gen.asOf(i))
    for (t <- gen.tokensAt(i)) {
      val token = gen.tokens(t)
      spans.span("pipelines.Ingest.holdersAndTop100") {
        Ingest.holdersAndTop100(spark, store, client, token, asOf, pageSize = HolderPageSize)
      }
      wallets(t).foreach { w =>
        spans.span("pipelines.Ingest.walletTokenTx") {
          Ingest.walletTokenTx(spark, store, client, w, token, pageSize = TxPageSize)
        }
      }
      spans.span("pipelines.Report") {
        Report.snapshotReport(spark, store, token, notifier)
        Report.activityReport(spark, store, token, asOf, notifier)
      }
    }
    pagesByOp(i) = transport.pages - pages0
    transport.items - items0
  }

  /** The messages and Top-100 rows op `i` must produce, computed from
    * the generator alone, without Spark.
    */
  private def expected(i: Int): (Seq[String], Seq[Seq[(Int, String, String)]]) = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    def plain(d: BigDecimal) = d.bigDecimal.toPlainString
    val perToken = gen.tokensAt(i).map { t =>
      val token = gen.tokens(t)
      val top = gen.top100(t, i)
      def balance(h: Holder) = plain(BigDecimal(h.qty) / BigDecimal(10).pow(gen.decimals(t)))
      val snap = Report.SnapshotData(fmt.format(java.time.Instant.ofEpochSecond(gen.bucketStart(i))),
        gen.snapshot(t, i).count(_.isDefined).toLong, top.size.toLong,
        top.take(10).map { case (r, h) => (r, h.addr, balance(h)) })
      val act = gen.activity(t, i)
      val tin = act.map(_._2).sum; val tout = act.map(_._3).sum
      val movers = act.sortBy(a => (-a._2.max(a._3), -a._4, a._1)).take(10)
        .map(a => (a._1, plain(a._2), plain(a._3), a._4))
      val actData = Report.ActivityData(fmt.format(java.time.Instant.ofEpochSecond(gen.asOf(i))),
        act.size.toLong, act.map(_._4).sum, plain(tin), plain(tout), plain(tin - tout), movers)
      (Seq(Report.renderSnapshot(snap, token), Report.renderActivity(actData, token)),
        top.map { case (r, h) => (r, h.addr, h.qty.toString) })
    }
    (perToken.flatMap(_._1), perToken.map(_._2))
  }

  private def verify(i: Int, messages: Seq[String],
                     top: Seq[Seq[(Int, String, String)]]): Either[String, String] = {
    val (wantMsgs, wantTop) = expected(i)
    val badTop = wantTop.indices.find(k => top.lift(k) != wantTop.lift(k))
    val badMsg = wantMsgs.indices.find(k => messages.lift(k) != wantMsgs.lift(k))
    if (messages.size != wantMsgs.size)
      Left(s"op $i: ${messages.size} report messages, want ${wantMsgs.size}")
    else if (badTop.nonEmpty)
      Left(s"op $i: Top-100 of token ${gen.tokensAt(i)(badTop.get)} differs from the reference")
    else if (badMsg.nonEmpty)
      Left(s"op $i: report message ${badMsg.get} differs from the reference")
    else Right(Rng.sha256((messages ++ top.flatten.map(_.toString)).mkString("\n").getBytes("UTF-8")))
  }

  def check(i: Int): Either[String, String] = {
    lastTop = gen.tokensAt(i).map { t =>
      store.read("refined_wallet_top100")
        .filter(col("contract_address") === gen.tokens(t) && col("bucket_unix") === gen.bucketStart(i))
        .select(col("rnk"), col("holder_address"), col("balance_raw"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    }
    verify(i, notifier.messages.map(_._1).toSeq, lastTop)
  }

  def corruptedCheck(i: Int): Either[String, String] = {
    val msgs = notifier.messages.map(_._1).toSeq
    // one mover's transfer count off by one in the last activity message
    val k = msgs.size - 1
    val bad = msgs.updated(k, msgs(k).replaceFirst("<b>tx</b>: <code>(\\d+)</code>",
      "<b>tx</b>: <code>1$1</code>"))
    verify(i, bad, lastTop)
  }

  override def onDisk(i: Int): Map[String, Double] = {
    val (files, bytes, rows) = Workload.parquetStats(storeDir)
    Map("store.files" -> files.toDouble, "store.bytes" -> bytes.toDouble,
      "store.bytes_per_row" -> (if (rows > 0) bytes.toDouble / rows else 0.0))
  }

  def layers(i: Int, spanTimes: Map[String, (Double, Double)],
             observed: Map[String, Double]): Map[String, Double] = {
    def self(n: String) = spanTimes.get(n).map(_._2).getOrElse(0.0)
    def total(n: String) = spanTimes.get(n).map(_._1).getOrElse(0.0)
    Map("sources.pages" -> pagesByOp.getOrElse(i, 0L).toDouble,
      "sources.get_s" -> total("sources.get"),
      "ingest.holders_s" -> self("pipelines.Ingest.holdersAndTop100"),
      "ingest.tokentx_s" -> self("pipelines.Ingest.walletTokenTx"),
      "report.s" -> total("pipelines.Report"))
  }
}
