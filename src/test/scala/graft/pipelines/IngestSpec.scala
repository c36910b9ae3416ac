package graft.pipelines

import graft.SparkSpec
import graft.domain.MerlStore
import graft.sources.{ExplorerClient, FileTransport}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** E1/E2 pipelines against JSON fixtures (no network): pagination,
  * short-page/status termination, schema-drift field coalescing,
  * cursor resume, insert-ignore re-runs, job audit.
  */
class IngestSpec extends SparkSpec {

  private def freshDirs(): (String, MerlStore, FileTransport, ExplorerClient) = {
    val fixtures = Files.createTempDirectory("graft_api").toString
    val store = new MerlStore(spark, Files.createTempDirectory("graft_store").toString)
    val t = new FileTransport(fixtures)
    (fixtures, store, t, new ExplorerClient(t))
  }

  private def write(dir: String, t: FileTransport, params: Map[String, String], body: String): Unit =
    Files.writeString(Paths.get(dir, t.fixtureName(params)), body)

  private def holderParams(token: String, page: Int, size: Int) = Map(
    "module" -> "token", "action" -> "tokenholderlist", "contractaddress" -> token,
    "page" -> page.toString, "offset" -> size.toString)

  private def txParams(wallet: String, token: String, start: Long, page: Int, size: Int) = Map(
    "module" -> "account", "action" -> "tokentx", "address" -> wallet,
    "contractaddress" -> token, "startblock" -> start.toString, "endblock" -> "99999999",
    "sort" -> "asc", "page" -> page.toString, "offset" -> size.toString)

  test("holders snapshot: paging, drift coalescing, null drop, sticky decimals, idempotent re-run") {
    val (fx, store, t, client) = freshDirs()
    // page 1 (full): one canonical item, one missing-quantity item (dropped)
    write(fx, t, holderParams("0xabc", 1, 2),
      """{"status":"1","message":"OK","result":[
        |{"TokenHolderAddress":"0xAAA","TokenHolderQuantity":"1000","decimals":"8"},
        |{"TokenHolderAddress":"0xBAD"}]}""".stripMargin)
    // page 2 (short → stop): drifted field names, no decimals (sticky 8)
    write(fx, t, holderParams("0xabc", 2, 2),
      """{"status":"1","message":"OK","result":[
        |{"holderAddress":"0xBBB","balance":"2500"}]}""".stripMargin)

    val bucket = java.time.Instant.parse("2024-01-15T06:00:00Z")
    val r = Ingest.holdersSnapshot(spark, store, client, "0xabc", bucket, "2024/01/15-06",
      pageSize = 2, maxPages = 10)
    assert(r.rows == 2 && r.pages == 2 && r.decimals == 8)

    val got = store.read("holders_raw")
      .select("holder_address", "token_decimal", "quantity_raw")
      .collect().map(x => (x.getString(0), x.getInt(1), x.getString(2))).toSet
    assert(got == Set(("0xaaa", 8, "1000"), ("0xbbb", 8, "2500")))

    // M1: re-running the same snapshot replaces the bucket, never doubles
    Ingest.holdersSnapshot(spark, store, client, "0xabc", bucket, "2024/01/15-06",
      pageSize = 2, maxPages = 10)
    assert(store.read("holders_raw").count() == 2)

    val jobs = store.read("job_runs").filter(col("job_name") === "holders_6h")
    assert(jobs.count() == 2 && jobs.filter(col("status") === "success").count() == 2)

    // an error envelope after page 1 stops the loop there: the full
    // page 3 behind it is never requested, so none of its rows land
    val (fx2, store2, t2, client2) = freshDirs()
    write(fx2, t2, holderParams("0xerr", 1, 2),
      """{"status":"1","message":"OK","result":[
        |{"TokenHolderAddress":"0xA1","TokenHolderQuantity":"1","decimals":"18"},
        |{"TokenHolderAddress":"0xA2","TokenHolderQuantity":"2"}]}""".stripMargin)
    write(fx2, t2, holderParams("0xerr", 2, 2), """{"status":"0","message":"NOTOK","result":[]}""")
    write(fx2, t2, holderParams("0xerr", 3, 2),
      """{"status":"1","message":"OK","result":[
        |{"TokenHolderAddress":"0xGHOST","TokenHolderQuantity":"9"},
        |{"TokenHolderAddress":"0xGHOST2","TokenHolderQuantity":"9"}]}""".stripMargin)
    val rErr = Ingest.holdersSnapshot(spark, store2, client2, "0xerr", bucket, "2024/01/15-06",
      pageSize = 2, maxPages = 10)
    assert(rErr.rows == 2 && rErr.pages == 1)
    assert(store2.read("holders_raw").select("holder_address").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("0xa1", "0xa2"))
  }

  test("tokentx: pagination with running startblock, cursor resume, insert-ignore") {
    val (fx, store, t, client) = freshDirs()
    // run 1, page 1 (full, blocks 10 & 20) — next request carries startblock=20
    write(fx, t, txParams("0xW1", "0xabc", 0, 1, 2),
      """{"status":"1","message":"OK","result":[
        |{"blockNumber":"10","timeStamp":"1700000000","hash":"0xh1","from":"0xW1","to":"0xX","value":"100","tokenDecimal":"18","transactionIndex":"1"},
        |{"blockNumber":"20","timeStamp":"1700000600","hash":"0xh2","from":"0xY","to":"0xW1","value":"200","tokenDecimal":"18","transactionIndex":"2"}]}""".stripMargin)
    // run 1, page 2 (short → stop), block 25
    write(fx, t, txParams("0xW1", "0xabc", 20, 2, 2),
      """{"status":"1","message":"OK","result":[
        |{"blockNumber":"25","timeStamp":"1700001200","hash":"0xh3","from":"0xW1","to":"0xZ","value":"300"}]}""".stripMargin)

    val r1 = Ingest.walletTokenTx(spark, store, client, "0xW1", "0xabc", 0, pageSize = 2)
    assert(r1.rows == 3 && r1.pages == 2 && r1.lastBlock == 25)
    assert(store.read("wallet_transactions").count() == 3)
    assert(store.cursorGet("tokentx:0xw1:0xabc").contains((25L, 2)))

    // run 2: resumes from block 25; no fixture there → status-0 stop, nothing new
    val r2 = Ingest.walletTokenTx(spark, store, client, "0xW1", "0xabc", 0, pageSize = 2)
    assert(r2.rows == 0 && r2.lastBlock == 25)
    assert(store.read("wallet_transactions").count() == 3)

    // run 3: drop the cursor (simulating lost bookkeeping) and replay
    // from genesis — the same pages re-serve and every row must be
    // dup-ignored by the coalesce'd natural key
    import scala.reflect.io.Directory
    new Directory(new java.io.File(store.path("ingestion_cursors"))).deleteRecursively()
    val r3 = Ingest.walletTokenTx(spark, store, client, "0xW1", "0xabc", 0, pageSize = 2)
    assert(r3.rows == 3 && r3.lastBlock == 25, "pages re-served after cursor loss")
    assert(store.read("wallet_transactions").count() == 3, "insert-ignore must hold on replay")

    // a second wallet: page 2 re-serves page 1's last row (the request
    // starts AT the running max block), which insert-ignore drops within
    // the run; page 3 is short and holds a sparse item (empty value, no
    // to/gas/timeStamp) that parses with the loop's defaults
    write(fx, t, txParams("0xW2", "0xabc", 0, 1, 2),
      """{"status":"1","message":"OK","result":[
        |{"blockNumber":"10","timeStamp":"1700000000","hash":"0xk1","from":"0xW2","to":"0xX","value":"100"},
        |{"blockNumber":"20","timeStamp":"1700000600","hash":"0xk2","from":"0xY","to":"0xW2","value":"200"}]}""".stripMargin)
    write(fx, t, txParams("0xW2", "0xabc", 20, 2, 2),
      """{"status":"1","message":"OK","result":[
        |{"blockNumber":"20","timeStamp":"1700000600","hash":"0xk2","from":"0xY","to":"0xW2","value":"200"},
        |{"blockNumber":"25","timeStamp":"1700001200","hash":"0xk3","from":"0xW2","to":"0xZ","value":"300"}]}""".stripMargin)
    write(fx, t, txParams("0xW2", "0xabc", 25, 3, 2),
      """{"status":"1","message":"OK","result":[{"blockNumber":"30","hash":"0xk4","value":""}]}""")
    val rW2 = Ingest.walletTokenTx(spark, store, client, "0xW2", "0xabc", 0, pageSize = 2)
    assert(rW2.rows == 5 && rW2.pages == 3 && rW2.lastBlock == 30)
    val w2 = store.read("wallet_transactions").filter(col("wallet_address") === "0xw2")
    assert(w2.count() == 4, "the overlap row is stored once")
    assert(store.cursorGet("tokentx:0xw2:0xabc").contains((30L, 3)))
    val sparse = w2.filter(col("tx_hash") === "0xk4")
      .select("value_raw", "to_address", "gas", "block_time_unix", "token_decimal",
        "transaction_index").collect().head
    assert(sparse.getString(0) == "0" && sparse.getString(1) == "" && sparse.isNullAt(2))
    assert(sparse.getLong(3) == 0L && sparse.getInt(4) == 18 && sparse.getInt(5) == 0)

    val addrs = store.read("wallet_transactions")
      .select("wallet_address", "from_address", "to_address")
      .collect().flatMap(r => Seq(r.getString(0), r.getString(1), r.getString(2)))
    assert(addrs.forall(a => a == a.toLowerCase), "addresses lowercased at ingest")
  }

  test("tokentx 50-page job lands as ONE append + ONE cursor merge (no per-page table reads)") {
    val fixtures = Files.createTempDirectory("graft_api").toString
    class CountingStore(root: String) extends MerlStore(spark, root) {
      val reads = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      override def read(table: String): org.apache.spark.sql.DataFrame = {
        reads(table) += 1; super.read(table)
      }
    }
    val store = new CountingStore(Files.createTempDirectory("graft_store").toString)
    val t = new FileTransport(fixtures)
    val client = new ExplorerClient(t)

    // 50 pages: p<50 carry blocks (10p, 10p+5); page 50 is short (one
    // row, block 500) and terminates. Each page's startblock is the
    // previous page's max block — the running-cursor request pattern.
    var start = 0L
    for (p <- 1 to 50) {
      val blocks = if (p < 50) Seq(10L * p, 10L * p + 5) else Seq(10L * p)
      val items = blocks.map(b =>
        s"""{"blockNumber":"$b","timeStamp":"${1700000000L + b}","hash":"0xh$b",""" +
          s""""from":"0xW1","to":"0xZ","value":"$b","tokenDecimal":"18","transactionIndex":"0"}""")
        .mkString(",")
      write(fixtures, t, txParams("0xW1", "0xabc", start, p, 2),
        s"""{"status":"1","message":"OK","result":[$items]}""")
      start = blocks.max
    }

    val r1 = Ingest.walletTokenTx(spark, store, client, "0xW1", "0xabc", 0, pageSize = 2)
    assert(r1.rows == 99 && r1.pages == 50 && r1.lastBlock == 500)
    assert(store.read("wallet_transactions").count() == 99)
    assert(store.cursorGet("tokentx:0xw1:0xabc").contains((500L, 50)))

    // Replay from genesis (cursor dropped): all 50 pages re-serve, and
    // the dedup work must still be ONE pruned anti-join read of
    // wallet_transactions and ≤2 cursor-table reads (get + merge) —
    // NOT one per page.
    import scala.reflect.io.Directory
    new Directory(new java.io.File(store.path("ingestion_cursors"))).deleteRecursively()
    store.reads.clear()
    val r2 = Ingest.walletTokenTx(spark, store, client, "0xW1", "0xabc", 0, pageSize = 2)
    assert(r2.rows == 99 && r2.pages == 50)
    assert(store.reads("wallet_transactions") <= 1,
      s"per-page anti-join regression: ${store.reads("wallet_transactions")} reads for 50 pages")
    assert(store.reads("ingestion_cursors") <= 2,
      s"per-page cursor-rewrite regression: ${store.reads("ingestion_cursors")} reads for 50 pages")
    assert(store.read("wallet_transactions").count() == 99, "insert-ignore holds on replay")
  }

  test("failed probe after a successful flush records the error meta on the cursor") {
    val (fx, store, t, client) = freshDirs()
    // page 1 (full) flushes immediately (flushPages=1): cursor carries
    // the OK meta. Page 2 fails with the buffer EMPTY — exactly the
    // flush boundary — and the cursor must still record THAT outcome,
    // not keep page 1's OK meta (the reference records every probe).
    write(fx, t, txParams("0xW1", "0xabc", 0, 1, 2),
      """{"status":"1","message":"OK","result":[
        |{"blockNumber":"10","timeStamp":"1700000000","hash":"0xh1","from":"0xW1","to":"0xX","value":"100","tokenDecimal":"18","transactionIndex":"1"},
        |{"blockNumber":"20","timeStamp":"1700000600","hash":"0xh2","from":"0xY","to":"0xW1","value":"200","tokenDecimal":"18","transactionIndex":"2"}]}""".stripMargin)
    write(fx, t, txParams("0xW1", "0xabc", 20, 2, 2),
      """{"status":"0","message":"NOTOK-RATELIMIT","result":[]}""")

    val r = Ingest.walletTokenTx(spark, store, client, "0xW1", "0xabc", 0,
      pageSize = 2, flushPages = 1)
    assert(r.rows == 2 && r.pages == 1 && r.lastBlock == 20)
    val meta = store.read("ingestion_cursors")
      .filter(col("stream") === "tokentx:0xw1:0xabc")
      .select("metadata").collect().map(_.getString(0)).toSeq
    assert(meta.size == 1 && meta.head.contains("NOTOK-RATELIMIT"),
      s"cursor must record the final probe outcome, got: $meta")
    assert(store.cursorGet("tokentx:0xw1:0xabc").contains((20L, 1)))
  }

  test("holders_and_top100 one-shot: snapshot -> refine -> report (run_holders_and_top100.sh)") {
    val (fx, store, t, client) = freshDirs()
    // one full page (2 holders) + short page (1 holder); fixture keys
    // carry the token exactly as the CLI passes it (mixed case)
    write(fx, t, holderParams("0xABC", 1, 2),
      """{"status":"1","message":"OK","result":[
        |{"TokenHolderAddress":"0xW1","TokenHolderQuantity":"5000000000000000000000","decimals":"18"},
        |{"TokenHolderAddress":"0xW2","TokenHolderQuantity":"1000000000000000000000"}]}""".stripMargin)
    write(fx, t, holderParams("0xABC", 2, 2),
      """{"status":"1","message":"OK","result":[
        |{"TokenHolderAddress":"0xW3","TokenHolderQuantity":"7000000000000000000"}]}""".stripMargin)

    val asOf = java.time.Instant.parse("2024-01-15T08:30:00Z") // floors to 06:00Z
    val notifier = new Report.StringNotifier
    val r = Ingest.holdersAndTop100(spark, store, client, "0xABC", asOf,
      pageSize = 2, maxPages = 10, k = 2, notifier = Some(notifier))

    assert(r.snapshot.rows == 3 && r.snapshot.pages == 2)
    assert(r.bucketStartUtc == java.time.Instant.parse("2024-01-15T06:00:00Z"))
    assert(r.triggerId == "2024/01/15-08:30")
    assert(r.top100Rows == 2, "k=2 refine keeps the top 2 holders")

    val top = store.read("refined_wallet_top100")
      .select("holder_address", "rnk")
      .collect().map(x => (x.getString(0), x.getInt(1))).toSet
    assert(top == Set(("0xw1", 1), ("0xw2", 2)))

    // report went out through the same store state
    assert(notifier.messages.size == 1)
    val msg = notifier.messages.head._1
    assert(msg.contains("<i>Bucket:</i> <code>2024-01-15 06:00Z</code>"))
    assert(msg.contains("<i>Total holders:</i> <b>3</b>"))
    assert(msg.contains("<b>#1</b> <a href=\"https://scan.merlinchain.io/address/0xw1\">"))

    // idempotent within bucket: re-running replaces, never doubles
    val r2 = Ingest.holdersAndTop100(spark, store, client, "0xABC", asOf,
      pageSize = 2, maxPages = 10, k = 2)
    assert(r2.top100Rows == 2)
    assert(store.read("holders_raw").count() == 3)
  }

  test("refine counts the refreshed (token, bucket) partition when a later bucket exists") {
    val (fx, store, t, client) = freshDirs()
    val ss = spark; import ss.implicits._
    // token 0xabc already holds a LATER bucket (12:00Z) than the one
    // this run ingests (06:00Z); token 0xdef holds three holders
    def holders(token: String, bucket: String, qty: Seq[String]) =
      qty.zipWithIndex.map { case (q, i) => ("t", token, s"0xh$i", 18, q) }
        .toDF("trigger_id", "contract_address", "holder_address", "token_decimal", "quantity_raw")
        .withColumn("bucket_start_utc", lit(java.sql.Timestamp.from(java.time.Instant.parse(bucket))))
        .withColumn("bucket_unix", unix_timestamp(col("bucket_start_utc")))
    store.upsertHolders(holders("0xabc", "2024-01-15T12:00:00Z", Seq("5", "4", "3")))
    store.upsertHolders(holders("0xdef", "2024-01-15T06:00:00Z", Seq("9", "8", "7")))
    write(fx, t, holderParams("0xABC", 1, 2),
      """{"status":"1","message":"OK","result":[
        |{"TokenHolderAddress":"0xW1","TokenHolderQuantity":"100"}]}""".stripMargin)

    val r = Ingest.holdersAndTop100(spark, store, client, "0xABC",
      java.time.Instant.parse("2024-01-15T08:30:00Z"), pageSize = 2, maxPages = 10, k = 2)
    // the refresh ranks the latest bucket (12:00Z, k = 2 of 3 holders)
    // and the count is that partition's, not the ingested bucket's
    assert(r.top100Rows == 2)
    val refreshed = store.read("refined_wallet_top100").filter(col("contract_address") === "0xabc")
      .select("bucket_unix").distinct().collect().map(_.get(0).toString.toLong).toSeq
    assert(refreshed == Seq(java.time.Instant.parse("2024-01-15T12:00:00Z").getEpochSecond))
    // the CLI's top100 step counts one token's refreshed partition,
    // not every token and bucket of the table
    assert(Ingest.refineTop100(store, "0xDEF") == 3)
    assert(store.read("refined_wallet_top100").count() == 5)
    assert(Ingest.refineTop100(store, "0xnone") == 0)
  }

  test("tokentx job stats stay valid JSON for a wallet holding a quote and a backslash") {
    val (_, store, _, client) = freshDirs()
    val wallet = "0xW\"q\\"
    val r = Ingest.walletTokenTx(spark, store, client, wallet, "0xabc", 0, pageSize = 2)
    assert(r.rows == 0 && r.pages == 0)
    val ss = spark; import ss.implicits._
    val stats = store.read("job_runs").filter(col("job_name") === "wallet_tx_hourly")
      .select("stats").collect().map(_.getString(0)).toSeq
    val parsed = spark.read.option("mode", "FAILFAST").json(stats.toDS())
    assert(parsed.select("wallet").collect().map(_.getString(0)).toSeq == Seq(wallet),
      s"stats must be valid JSON: $stats")
  }

  test("block_by_time: probe upserts on (unix_ts, closest)") {
    val (fx, store, t, client) = freshDirs()
    def probe(body: String) =
      write(fx, t, Map("module" -> "block", "action" -> "getblocknobytime",
        "timestamp" -> "1700000000", "closest" -> "before"), body)
    probe("""{"status":"1","message":"OK","result":"12345"}""")
    val r1 = Ingest.blockByTime(spark, store, client, 1700000000L, "before")
    assert(r1.blockNumber.contains(12345L))
    probe("""{"status":"1","message":"OK","result":"12399"}""")
    Ingest.blockByTime(spark, store, client, 1700000000L, "before")
    val rows = store.read("block_check")
      .select("unix_ts", "closest", "block_number")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1700000000L, "before", 12399L)), "update-on-conflict keeps latest")

    // explorer free text with a quote and a backslash still yields
    // valid JSON in the job's stats
    probe("""{"status":"0\"\\","message":"bad \"key\" \\ retry","result":"12399"}""")
    val r3 = Ingest.blockByTime(spark, store, client, 1700000000L, "before")
    assert(r3.status == "0\"\\" && r3.message == "bad \"key\" \\ retry")
    val ss = spark; import ss.implicits._
    val stats = store.read("job_runs").filter(col("job_name") === "block_check_hourly")
      .select("stats").collect().map(_.getString(0)).toSeq
    assert(stats.size == 3)
    val parsed = spark.read.option("mode", "FAILFAST").json(stats.toDS())
    assert(parsed.select("status").collect().map(_.getString(0)).toSet ==
      Set("1", "0\"\\"), s"stats must be valid JSON: $stats")
  }

  test("probeMetaJson escapes free-text explorer messages into valid JSON") {
    val j = Ingest.probeMetaJson("0", """rate "limit" hit \ retry
later""")
    // parseable by the engine's own JSON reader
    val ss = spark; import ss.implicits._
    val parsed = ss.read.json(Seq(j).toDS())
    val row = parsed.select("status", "message").collect().head
    assert(row.getString(0) == "0")
    assert(row.getString(1).contains("\"limit\"") && row.getString(1).contains("\\"))
  }
}
