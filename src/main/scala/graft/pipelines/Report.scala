package graft.pipelines

import graft.domain.MerlStore
import graft.operators.Activity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.math.{BigDecimal => JBig, RoundingMode}

/** Report pipeline E3: the reference's snapshot / activity Telegram
  * reports (`scripts/run_holders_and_report.sh`,
  * `scripts/ingest_activity_and_report.sh:103-126`), rendered from the
  * store through the same formatters as `scripts/lib_fmt.sh:6-58`.
  *
  * Formatting is driver-side over ≤11 collected rows (the reference
  * does the same through psql pipes) — the heavy lifting (window,
  * semi-join, aggregation) stays in Spark.
  */
object Report {

  // ---- lib_fmt.sh formatters (driver-side) --------------------------

  /** `two_dec` (`lib_fmt.sh:10-20`): quantize to 0.01. Python decimal
    * quantize uses banker's rounding (ROUND_HALF_EVEN) — preserved.
    */
  def twoDec(s: String): String =
    new JBig(s.replace(",", "")).setScale(2, RoundingMode.HALF_EVEN).toPlainString

  /** `commify_decimal` (`lib_fmt.sh:22-39`): thousands-separate the
    * integer part, keep the fractional part verbatim.
    */
  def commify(s0: String): String = {
    val s = s0.trim
    val (sign, body) = if (s.startsWith("-")) ("-", s.drop(1)) else ("", s)
    val (intp, frac) = body.split("\\.", 2) match {
      case Array(i, f) => (i, "." + f)
      case Array(i) => (i, "")
    }
    val grouped = intp.replace(",", "").reverse.grouped(3).mkString(",").reverse
    sign + grouped + frac
  }

  /** `humanize_decimal` (`lib_fmt.sh:41-58`): K/M/B/T suffix at 2dp. */
  def humanize(s: String): String = {
    val n = new JBig(s.replace(",", ""))
    val a = n.abs
    val units = Seq((12, "T"), (9, "B"), (6, "M"), (3, "K"))
    units.find { case (p, _) => a.compareTo(JBig.TEN.pow(p)) >= 0 } match {
      case Some((p, suf)) =>
        n.movePointLeft(p).setScale(2, RoundingMode.HALF_EVEN).toPlainString + suf
      case None => n.setScale(2, RoundingMode.HALF_EVEN).toPlainString
    }
  }

  /** `short` (`lib_fmt.sh:6`): 0x1234…abcd address display. */
  def short(addr: String): String = addr.take(6) + "…" + addr.takeRight(4)

  /** `alink` (`lib_fmt.sh:7`). */
  def alink(explorerUrl: String, addr: String): String =
    s"""<a href="$explorerUrl/address/$addr">${short(addr)}</a>"""

  private val Spacer = "•"

  /** `notify_telegram.sh:14`: the Telegram MarkdownV2 special set —
    * each gets a backslash prefix when (and only when) the MarkdownV2
    * parse mode is requested. HTML and plain sends pass through
    * verbatim, exactly as the reference's `esc()` gate does.
    */
  private val Mdv2Specials: Set[Char] = "_*[]()`~>#+-=|{}.!".toSet

  def escapeMarkdownV2(s: String): String =
    s.flatMap(c => if (Mdv2Specials(c)) s"\\$c" else c.toString)

  // ---- sinks (S10) --------------------------------------------------

  /** Message sink; Telegram in production, a buffer in tests (SURVEY
    * §7.4: delivery is an I/O adapter, not engine surface). Escaping
    * lives in the trait, not the transport, so every implementation —
    * including the test double — sends exactly what Telegram would
    * receive (`notify_telegram.sh:16-19` semantics: escape iff
    * MarkdownV2; empty mode means plain text).
    */
  trait Notifier {
    final def send(msg: String, mode: String = "HTML"): Unit =
      deliver(if (mode == "MarkdownV2") escapeMarkdownV2(msg) else msg, mode)
    protected def deliver(text: String, mode: String): Unit
  }

  /** `notify_telegram.sh:21-26`: POST sendMessage; parse_mode omitted
    * for plain-text sends, as in the reference.
    */
  class TelegramNotifier(botToken: String, chatId: String) extends Notifier {
    override protected def deliver(text: String, mode: String): Unit = {
      val client = java.net.http.HttpClient.newHttpClient()
      val fields = Seq("chat_id" -> chatId, "text" -> text) ++
        (if (mode.nonEmpty) Seq("parse_mode" -> mode) else Nil)
      val form = fields.map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"https://api.telegram.org/bot$botToken/sendMessage"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(form)).build()
      client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    }
  }

  class StringNotifier extends Notifier {
    val messages = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    override protected def deliver(text: String, mode: String): Unit =
      messages += ((text, mode))
  }

  // ---- snapshot report (run_holders_and_report.sh) ------------------

  final case class SnapshotData(bucketUtc: String, totalHolders: Long, topRows: Long,
                                top10: Seq[(Int, String, String)]) // (rnk, addr, balance)

  /** Header + Top-10 query (`run_holders_and_report.sh:18-50`): the
    * token's latest holders bucket (from the partition listing),
    * counts, rnk ≤ 10 slice. Fails when the token has no snapshot.
    */
  def snapshotData(spark: SparkSession, store: MerlStore, token: String): SnapshotData = {
    val t = token.toLowerCase
    val latest = store.latestBucket("holders_raw", t)
    require(latest.nonEmpty, s"snapshotData: no holders snapshot for token $t")
    val totalHolders = bucketRows(store, "holders_raw", t, latest.get).count()
    val cur = bucketRows(store, "refined_wallet_top100", t, latest.get)
    val topRows = cur.count()
    val top10 = cur.orderBy(col("rnk").asc).limit(10)
      .select(col("rnk"), col("holder_address"), col("balance").cast("string"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    SnapshotData(MinuteUtc.format(java.time.Instant.ofEpochSecond(latest.get)),
      totalHolders, topRows, top10)
  }

  /** Token `t`'s rows of one bucket, both predicates partition filters. */
  private[pipelines] def bucketRows(store: MerlStore, table: String, t: String,
                                    bucket: Long): DataFrame =
    store.read(table).filter(col("contract_address") === t && col("bucket_unix") === bucket)

  private val MinuteUtc = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** Render the snapshot message (`run_holders_and_report.sh:60-76`). */
  def renderSnapshot(d: SnapshotData, token: String, label: String = "MERL",
                     explorerUrl: String = "https://scan.merlinchain.io"): String = {
    val tokenLink = s"""<a href="$explorerUrl/token/$token">$label</a>"""
    val lines = d.top10.map { case (rnk, addr, bal) =>
      val full2 = twoDec(bal)
      s"<b>#$rnk</b> ${alink(explorerUrl, addr)}\n" +
        s"<b>bal</b>: <code>${commify(full2)}</code> <i>(${humanize(full2)})</i>\n" + Spacer
    }.mkString("")
    s"""✅ <b>$label Holders Snapshot</b> ❄️
       |<i>Bucket:</i> <code>${d.bucketUtc}</code>  |  <i>Token:</i> $tokenLink
       |<i>Total holders:</i> <b>${d.totalHolders}</b>  |  <i>Top100 rows:</i> <b>${d.topRows}</b>
       |
       |<b>🏆 Top 10 holders</b>
       |$lines""".stripMargin
  }

  // ---- activity report (ingest_activity_and_report.sh) --------------

  final case class ActivityData(asOf: String, activeWallets: Long, txRows: Long,
                                totalIn: String, totalOut: String, netFlow: String,
                                movers: Seq[(String, String, String, Long)]) // (addr, in, out, txs)

  /** Totals + movers queries
    * (`ingest_activity_and_report.sh:20-55,65-101`): last-60-minutes
    * window over Top-100 wallets, per-wallet conditional sums, grand
    * totals, GREATEST movers. The Top-100 is the token's latest
    * bucket (from the partition listing); a token without one fails.
    * `asOf` is an explicit parameter so runs are deterministic
    * (SURVEY §7.4 #5); production passes now().
    */
  def activityData(spark: SparkSession, store: MerlStore, token: String,
                   asOf: java.time.Instant): ActivityData = {
    val t = token.toLowerCase
    val latest = store.latestBucket("refined_wallet_top100", t)
    require(latest.nonEmpty, s"activityData: no Top-100 for token $t")
    val watch = bucketRows(store, "refined_wallet_top100", t, latest.get)
      .select(col("holder_address").as("wallet_address"))
    val asOfTs = java.sql.Timestamp.from(asOf)
    val w = store.read("wallet_transactions")
      .filter(col("contract_address") === t)
      .filter(col("block_time_utc") >= lit(asOfTs) - expr("INTERVAL 60 MINUTES"))
      .filter(col("block_time_utc") <= lit(asOfTs))
      .join(broadcast(watch), Seq("wallet_address"), "left_semi")
    val flows = Activity.flows(w, col("wallet_address"), col("value_18d"),
      inflow = col("wallet_address") === col("to_address"),
      outflow = col("wallet_address") === col("from_address")).cache()
    val (totals, movers) =
      try (Activity.totals(flows).collect().head,
        Activity.topMovers(flows, 10)
          .select(col("entity"), col("in_amt").cast("string"),
            col("out_amt").cast("string"), col("txs"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq)
      finally flows.unpersist()
    ActivityData(MinuteUtc.format(asOf), totals.getAs[Long]("wallets"), totals.getAs[Long]("total_txs"),
      Option(totals.get(totals.fieldIndex("total_in"))).map(_.toString).getOrElse("0"),
      Option(totals.get(totals.fieldIndex("total_out"))).map(_.toString).getOrElse("0"),
      Option(totals.get(totals.fieldIndex("net_flow"))).map(_.toString).getOrElse("0"),
      movers)
  }

  /** Render the activity message
    * (`ingest_activity_and_report.sh:103-126`).
    */
  def renderActivity(d: ActivityData, token: String, label: String = "MERL",
                     explorerUrl: String = "https://scan.merlinchain.io"): String = {
    val tokenLink = s"""<a href="$explorerUrl/token/$token">$label</a>"""
    val lines = d.movers.zipWithIndex.map { case ((addr, in0, out0, txs), i) =>
      val in2 = twoDec(in0); val out2 = twoDec(out0)
      s"<b>#${i + 1}</b> ${alink(explorerUrl, addr)}\n" +
        s"<b>IN</b>: <code>${commify(in2)}</code> <i>(${humanize(in2)})</i>   " +
        s"<b>OUT</b>: <code>${commify(out2)}</code> <i>(${humanize(out2)})</i>   " +
        s"<b>tx</b>: <code>$txs</code>\n" + Spacer
    }.mkString("")
    s"""📈 <b>$label Top100 activity</b> ⏱ <i>(last 60m)</i>
       |<i>As of:</i> <code>${d.asOf}</code>  |  <i>Token:</i> $tokenLink
       |<b>Active wallets:</b> <code>${d.activeWallets}</code>  |  <b>TX rows:</b> <code>${d.txRows}</code>
       |<b>Inflow:</b> <code>${commify(twoDec(d.totalIn))}</code>  |  <b>Outflow:</b> <code>${commify(twoDec(d.totalOut))}</code>  |  <b>Net:</b> <code>${commify(twoDec(d.netFlow))}</code>
       |
       |🏆 <b>Top movers</b> (by max IN/OUT)
       |$lines""".stripMargin
  }

  /** End-to-end: snapshot report to a notifier. */
  def snapshotReport(spark: SparkSession, store: MerlStore, token: String,
                     notifier: Notifier, label: String = "MERL"): String = {
    val msg = renderSnapshot(snapshotData(spark, store, token), token, label)
    notifier.send(msg); msg
  }

  /** End-to-end: activity report to a notifier. */
  def activityReport(spark: SparkSession, store: MerlStore, token: String,
                     asOf: java.time.Instant, notifier: Notifier,
                     label: String = "MERL"): String = {
    val msg = renderActivity(activityData(spark, store, token, asOf), token, label)
    notifier.send(msg); msg
  }
}
