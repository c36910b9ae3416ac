package graft.pipelines

import graft.SparkSpec
import graft.domain.{MerlStore, Top100}
import org.apache.spark.sql.functions._

/** E3 report rendering: lib_fmt.sh formatter goldens and full-message
  * golden strings mirroring the reference's heredocs
  * (`run_holders_and_report.sh:60-76`,
  * `ingest_activity_and_report.sh:103-126`, probe shapes in
  * `scripts/test_probe.sh:68-155`).
  */
class ReportSpec extends SparkSpec {

  test("two_dec quantizes at 2dp with banker's rounding (python decimal default)") {
    assert(Report.twoDec("1234.567") == "1234.57")
    assert(Report.twoDec("2.5") == "2.50")
    assert(Report.twoDec("2.125") == "2.12") // half-even
    assert(Report.twoDec("2.135") == "2.14")
    assert(Report.twoDec("1,234.5") == "1234.50") // commas stripped first
    assert(Report.twoDec("-0.005") == "0.00")
  }

  test("commify groups the integer part and keeps the fraction verbatim") {
    assert(Report.commify("1234567.89") == "1,234,567.89")
    assert(Report.commify("-1234.5") == "-1,234.5")
    assert(Report.commify("999") == "999")
    assert(Report.commify("1000") == "1,000")
  }

  test("humanize suffixes K/M/B/T at 2dp") {
    assert(Report.humanize("999.00") == "999.00")
    assert(Report.humanize("1234.00") == "1.23K")
    assert(Report.humanize("2500000") == "2.50M")
    assert(Report.humanize("-2500000000") == "-2.50B")
    assert(Report.humanize("7100000000000") == "7.10T")
  }

  test("short address display") {
    assert(Report.short("0x1234567890abcdef") == "0x1234…cdef")
  }

  test("MarkdownV2 escaping matches notify_telegram.sh's esc() set and gating") {
    // every special from the reference's sed class gets a backslash
    val specials = "_*[]()`~>#+-=|{}.!"
    assert(Report.escapeMarkdownV2(specials) == specials.flatMap(c => s"\\$c"))
    // non-specials pass through; a wallet tag with _ and * is made safe
    assert(Report.escapeMarkdownV2("whale_tag*9 (top.1)!") ==
      "whale\\_tag\\*9 \\(top\\.1\\)\\!")
    // the notifier escapes ONLY for MarkdownV2 — HTML and plain verbatim
    val n = new Report.StringNotifier
    n.send("a_b.c", "MarkdownV2")
    n.send("a_b.c", "HTML")
    n.send("a_b.c", "")
    assert(n.messages.toSeq == Seq(
      ("a\\_b\\.c", "MarkdownV2"), ("a_b.c", "HTML"), ("a_b.c", "")))
  }

  test("snapshot message golden") {
    val d = Report.SnapshotData("2025-09-16 12:00Z", 328901L, 100L, Seq(
      (1, "0xaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa1111", "91234567.891"),
      (2, "0xbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbb2222", "1234.5")))
    val got = Report.renderSnapshot(d, "0xT0KEN", "MERL", "https://x.example")
    val want =
      """✅ <b>MERL Holders Snapshot</b> ❄️
        |<i>Bucket:</i> <code>2025-09-16 12:00Z</code>  |  <i>Token:</i> <a href="https://x.example/token/0xT0KEN">MERL</a>
        |<i>Total holders:</i> <b>328901</b>  |  <i>Top100 rows:</i> <b>100</b>
        |
        |<b>🏆 Top 10 holders</b>
        |<b>#1</b> <a href="https://x.example/address/0xaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa1111">0xaaaa…1111</a>
        |<b>bal</b>: <code>91,234,567.89</code> <i>(91.23M)</i>
        |•<b>#2</b> <a href="https://x.example/address/0xbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbb2222">0xbbbb…2222</a>
        |<b>bal</b>: <code>1,234.50</code> <i>(1.23K)</i>
        |•""".stripMargin
    assert(got == want)
  }

  test("activity message golden") {
    val d = Report.ActivityData("2025-09-16 13:45Z", 7L, 23L,
      "1500000.125", "250.5", "1499749.625", Seq(
        ("0xcccccccccccccccccccccccccccccccccccc3333", "1500000.125", "0", 9L)))
    val got = Report.renderActivity(d, "0xT0KEN", "MERL", "https://x.example")
    val want =
      """📈 <b>MERL Top100 activity</b> ⏱ <i>(last 60m)</i>
        |<i>As of:</i> <code>2025-09-16 13:45Z</code>  |  <i>Token:</i> <a href="https://x.example/token/0xT0KEN">MERL</a>
        |<b>Active wallets:</b> <code>7</code>  |  <b>TX rows:</b> <code>23</code>
        |<b>Inflow:</b> <code>1,500,000.12</code>  |  <b>Outflow:</b> <code>250.50</code>  |  <b>Net:</b> <code>1,499,749.62</code>
        |
        |🏆 <b>Top movers</b> (by max IN/OUT)
        |<b>#1</b> <a href="https://x.example/address/0xcccccccccccccccccccccccccccccccccccc3333">0xcccc…3333</a>
        |<b>IN</b>: <code>1,500,000.12</code> <i>(1.50M)</i>   <b>OUT</b>: <code>0.00</code> <i>(0.00)</i>   <b>tx</b>: <code>9</code>
        |•""".stripMargin
    assert(got == want)
  }

  test("store-backed snapshot report end to end") {
    val ss = spark; import ss.implicits._
    val store = new MerlStore(spark,
      java.nio.file.Files.createTempDirectory("graft_snap").toString)
    val bucket = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T12:00:00Z"))
    val old = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T06:00:00Z"))
    val holders = Seq(
      ("t", "0xabc", "0xw1", 18, "5" + "0" * 21, bucket), // 5000 units
      ("t", "0xabc", "0xw2", 18, "1" + "0" * 21, bucket),
      ("t", "0xabc", "0xw3", 18, "7" + "0" * 18, bucket),
      ("t", "0xabc", "0xstale", 18, "9" + "0" * 24, old)) // older bucket: excluded
      .toDF("trigger_id", "contract_address", "holder_address", "token_decimal",
        "quantity_raw", "bucket_start_utc")
      .withColumn("bucket_unix", unix_timestamp(col("bucket_start_utc")))
    store.upsertHolders(holders)
    store.refreshTop100(Top100.compute(store.read("holders_raw"), k = 100))

    val notifier = new Report.StringNotifier
    val msg = Report.snapshotReport(spark, store, "0xABC", notifier)
    assert(notifier.messages.size == 1)
    assert(msg.contains("<i>Bucket:</i> <code>2024-01-15 12:00Z</code>"))
    assert(msg.contains("<i>Total holders:</i> <b>3</b>"))
    assert(msg.contains("<i>Top100 rows:</i> <b>3</b>"))
    // rank 1 is w1 with 5,000 human units at 2dp
    assert(msg.contains("<b>#1</b> <a href=\"https://scan.merlinchain.io/address/0xw1\">"))
    assert(msg.contains("<code>5,000.00</code> <i>(5.00K)</i>"))
  }

  test("reports for a token without a snapshot fail with a named guard") {
    val ss = spark; import ss.implicits._
    val store = new MerlStore(spark,
      java.nio.file.Files.createTempDirectory("graft_none").toString)
    val notifier = new Report.StringNotifier
    val asOf = java.time.Instant.parse("2024-01-15T07:00:00Z")
    def guards(): Unit = {
      val snap = intercept[IllegalArgumentException](
        Report.snapshotReport(spark, store, "0xNONE", notifier))
      assert(snap.getMessage.contains("no holders snapshot for token 0xnone"))
      val act = intercept[IllegalArgumentException](
        Report.activityReport(spark, store, "0xNONE", asOf, notifier))
      assert(act.getMessage.contains("no Top-100 for token 0xnone"))
    }
    guards() // empty store
    store.upsertHolders(Seq(("t", "0xabc", "0xw1", 18, "5"))
      .toDF("trigger_id", "contract_address", "holder_address", "token_decimal", "quantity_raw")
      .withColumn("bucket_start_utc", lit(java.sql.Timestamp.from(asOf)))
      .withColumn("bucket_unix", unix_timestamp(col("bucket_start_utc"))))
    store.refreshTop100(Top100.compute(store.read("holders_raw")))
    guards() // another token has both tables
    assert(notifier.messages.isEmpty)
  }

  test("store-backed activity report end to end with a string notifier") {
    val ss = spark; import ss.implicits._
    val store = new MerlStore(spark,
      java.nio.file.Files.createTempDirectory("graft_report").toString)
    val asOf = java.time.Instant.parse("2024-01-15T07:00:00Z")
    val bucket = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T06:00:00Z"))

    // holders → top100 (w1 and w2 make the list)
    val holders = Seq(
      ("t", "0xabc", "0xw1", 18, "5000000000000000000000"),
      ("t", "0xabc", "0xw2", 18, "1000000000000000000000"),
      ("t", "0xabc", "0xw3", 18, "1"))
      .toDF("trigger_id", "contract_address", "holder_address", "token_decimal", "quantity_raw")
      .withColumn("bucket_start_utc", lit(bucket))
      .withColumn("bucket_unix", unix_timestamp(col("bucket_start_utc")))
    store.upsertHolders(holders)
    store.refreshTop100(Top100.compute(store.read("holders_raw"), k = 2))

    // transactions: w1 in 30 (in-window), w2 out 10, w3 not in top100,
    // one w1 row outside the 60m window (ignored)
    def tx(wallet: String, from: String, to: String, raw: String, minsBefore: Int, hash: String) =
      (wallet, "0xabc", hash, from, to, raw,
        java.sql.Timestamp.from(asOf.minusSeconds(minsBefore * 60L)))
    val txs = Seq(
      tx("0xw1", "0xzz", "0xw1", "30000000000000000000", 10, "0xh1"),
      tx("0xw2", "0xw2", "0xzz", "10000000000000000000", 20, "0xh2"),
      tx("0xw3", "0xzz", "0xw3", "99000000000000000000", 15, "0xh3"),
      tx("0xw1", "0xzz", "0xw1", "70000000000000000000", 120, "0xh4"))
      .toDF("wallet_address", "contract_address", "tx_hash", "from_address",
        "to_address", "value_raw", "block_time_utc")
      .withColumn("transaction_index", lit(0))
      .withColumn("value_18d", graft.functions.AmountFns.scale18(col("value_raw")))
    txs.write.mode("append").partitionBy("contract_address")
      .parquet(store.path("wallet_transactions"))

    val notifier = new Report.StringNotifier
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val msg = Report.activityReport(spark, store, "0xABC", asOf, notifier)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "the report must release the frame it caches")
    assert(notifier.messages.size == 1 && notifier.messages.head._2 == "HTML")
    assert(msg.contains("<b>Active wallets:</b> <code>2</code>"))
    assert(msg.contains("<b>TX rows:</b> <code>2</code>"))
    assert(msg.contains("<b>Inflow:</b> <code>30.00</code>"))
    assert(msg.contains("<b>Outflow:</b> <code>10.00</code>"))
    assert(msg.contains("<b>Net:</b> <code>20.00</code>"))
    assert(msg.contains("<b>#1</b> <a href=\"https://scan.merlinchain.io/address/0xw1\">"))
  }
}
