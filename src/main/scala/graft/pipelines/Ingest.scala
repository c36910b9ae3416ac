package graft.pipelines

import graft.domain.MerlStore
import graft.functions.AmountFns
import graft.sources.ExplorerClient
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The reference's three ingest pipelines (E1/E2,
  * `merlin_etl.py:199-479`) on the Spark store: page loop driver-side
  * (the API is the bottleneck at 3 QPS, not Spark), transform and
  * write as DataFrames, cursor/audit bookkeeping through
  * [[MerlStore]].
  *
  * Faithful semantics ported from the reference:
  *  - field-name coalescing across explorer variants
  *    (`merlin_etl.py:276-284`), null-row drops, sticky decimals
  *    detection, lowercase address normalization;
  *  - termination on `status != "1"` / empty / short page;
  *  - tokentx cursor resume: effective startblock = max(saved,
  *    provided) (`merlin_etl.py:353-357`), running `last_block` max,
  *    cursor checkpoint after every page;
  *  - job audit bracket: success with stats / error recorded, data
  *    write only on success (`merlin_etl.py:218-235`).
  */
object Ingest {

  /** The body of a JSON string literal holding `v`: quotes,
    * backslashes and control chars escaped. Explorer status/message
    * fields are free text, so every JSON document that embeds them
    * (cursor metadata, job stats, the CLI's output) goes through this.
    */
  private[graft] def jsonEscape(v: String): String = {
    val sb = new StringBuilder
    v.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Cursor-metadata JSON for a probe envelope. */
  private[pipelines] def probeMetaJson(status: String, message: String): String =
    s"""{"status":"${jsonEscape(status)}","message":"${jsonEscape(message)}"}"""

  /** `parse_int` (`merlin_etl.py:184-188`): null on failure. */
  def parseLong(s: String): Option[Long] =
    Option(s).flatMap(v => scala.util.Try(v.trim.toLong).toOption)
  def parseInt(s: String): Option[Int] =
    Option(s).flatMap(v => scala.util.Try(v.trim.toInt).toOption)

  private def jl(v: Option[Long]): Any = v.map(java.lang.Long.valueOf).orNull
  private def ji(v: Option[Int]): Any = v.map(java.lang.Integer.valueOf).orNull

  final case class BlockByTimeResult(blockNumber: Option[Long], status: String, message: String)

  /** E1a (`merlin_etl.py:199-236`): probe block number for a unix
    * timestamp, upsert into block_check on (unix_ts, closest).
    */
  def blockByTime(spark: SparkSession, store: MerlStore, client: ExplorerClient,
                  unixTs: Long, closest: String = "after"): BlockByTimeResult = {
    val jobId = store.jobStart("block_check_hourly")
    try {
      val env = client.blockByTime(unixTs, closest)
      val block = env.resultScalar.flatMap(parseLong)
      val schema = StructType(Seq(
        StructField("unix_ts", LongType), StructField("closest", StringType),
        StructField("block_number", LongType), StructField("api_status", StringType),
        StructField("api_message", StringType)))
      val row = Row(unixTs, closest, jl(block), env.status, env.message)
      val df = spark.createDataFrame(Seq(row).asJava, schema)
        .withColumn("ts_utc", timestamp_seconds(col("unix_ts")))
        .withColumn("inserted_at", current_timestamp())
      store.upsertBlockCheck(df)
      store.jobFinish(jobId, "success",
        stats = Some(
          s"""{"block_number":${block.getOrElse(-1L)},"status":"${jsonEscape(env.status)}"}"""))
      BlockByTimeResult(block, env.status, env.message)
    } catch {
      case e: Throwable =>
        store.jobFinish(jobId, "error", error = Some(e.toString)); throw e
    }
  }

  final case class SnapshotResult(rows: Long, pages: Int, token: String, decimals: Int)

  /** E2 ingest (`merlin_etl.py:241-341`): paged holder snapshot into
    * holders_raw. All pages accumulate into ONE upsert of the (token,
    * bucket) partition — per-page commits in the reference exist only
    * because Postgres lacks atomic multi-page writes; the final state
    * is identical and the partition write is atomic per job.
    */
  def holdersSnapshot(spark: SparkSession, store: MerlStore, client: ExplorerClient,
                      token: String, bucketStartUtc: java.time.Instant, triggerId: String,
                      pageSize: Int = 100, maxPages: Int = 10000,
                      defaultDecimals: Int = 18): SnapshotResult = {
    val jobId = store.jobStart("holders_6h")
    try {
      var decimals = defaultDecimals
      val rows = ArrayBuffer.empty[Row]
      var pages = 0
      var page = 1
      var done = false
      while (!done && page <= maxPages) {
        val env = client.holderPage(token, page, pageSize)
        if (!env.ok || env.resultItems.isEmpty) done = true
        else {
          for (it <- env.resultItems) {
            // Schema-drift-tolerant field coalescing (merlin_etl.py:276-284)
            val addr = graft.sources.HolderFields.addr(it)
            val qty = graft.sources.HolderFields.qty(it)
            graft.sources.HolderFields.dec(it)
              .foreach(d => decimals = d) // sticky detection
            (addr, qty) match {
              case (Some(a), Some(q)) =>
                rows += Row(triggerId, token.toLowerCase, a.toLowerCase, decimals, q)
              case _ => () // null-row drop (merlin_etl.py:291-292)
            }
          }
          pages += 1
          if (env.resultItems.size < pageSize) done = true else page += 1
        }
      }
      val schema = StructType(Seq(
        StructField("trigger_id", StringType), StructField("contract_address", StringType),
        StructField("holder_address", StringType), StructField("token_decimal", IntegerType),
        StructField("quantity_raw", StringType)))
      val df = spark.createDataFrame(rows.asJava, schema)
        .withColumn("bucket_start_utc", lit(java.sql.Timestamp.from(bucketStartUtc)))
        .withColumn("bucket_unix", unix_timestamp(col("bucket_start_utc")))
        .withColumn("quantity_18d", AmountFns.scale18(col("quantity_raw")))
      if (rows.nonEmpty) store.upsertHolders(df)
      store.jobFinish(jobId, "success",
        stats = Some(s"""{"rows":${rows.size},"pages":$pages,"token":"$token","decimals":$decimals}"""))
      SnapshotResult(rows.size, pages, token, decimals)
    } catch {
      case e: Throwable =>
        store.jobFinish(jobId, "error", error = Some(e.toString)); throw e
    }
  }

  final case class HoldersTop100Result(snapshot: SnapshotResult, top100Rows: Long,
                                       bucketStartUtc: java.time.Instant, triggerId: String)

  /** E2 one-shot orchestration (`run_holders_and_top100.sh:31-47`):
    * floor `asOf` to the current 6-hour UTC bucket, ingest the holder
    * snapshot for that bucket (idempotent within bucket), derive the
    * Top-100 from the latest bucket (`run_top100.sh` →
    * `top100_compute.sql`), and optionally send the snapshot report.
    * `asOf` is explicit so runs are deterministic (production passes
    * now()); the reference's timeout fuse and flock remain scheduler
    * concerns (SURVEY §7.4).
    */
  def holdersAndTop100(spark: SparkSession, store: MerlStore, client: ExplorerClient,
                       token: String, asOf: java.time.Instant,
                       pageSize: Int = 500, maxPages: Int = 100000, k: Int = 100,
                       notifier: Option[Report.Notifier] = None): HoldersTop100Result = {
    val bucketStart = java.time.Instant.ofEpochSecond(asOf.getEpochSecond / 21600 * 21600)
    val triggerId = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd-HH:mm")
      .withZone(java.time.ZoneOffset.UTC).format(asOf)
    val snap = holdersSnapshot(spark, store, client, token, bucketStart, triggerId,
      pageSize, maxPages)
    val top = graft.domain.Top100.computeForToken(store.read("holders_raw"), token, k)
    store.refreshTop100(top)
    // count THIS bucket's refreshed rows — the table keeps earlier
    // bucket partitions (dynamic overwrite touches only this one)
    val rows = store.read("refined_wallet_top100")
      .filter(org.apache.spark.sql.functions.col("contract_address") === token.toLowerCase)
      .filter(org.apache.spark.sql.functions.col("bucket_unix") === bucketStart.getEpochSecond)
      .count()
    notifier.foreach(n => Report.snapshotReport(spark, store, token, n))
    HoldersTop100Result(snap, rows, bucketStart, triggerId)
  }

  final case class TokenTxResult(rows: Long, pages: Int, wallet: String,
                                 token: String, lastBlock: Long)

  /** E1 main (`merlin_etl.py:346-479`): paged, resumable tokentx
    * ingest for (wallet, token). Pages buffer driver-side (the 3 QPS
    * API is the bottleneck and a page is ≤100 rows) and land as ONE
    * insert-ignore append plus ONE cursor merge per `flushPages`
    * window (typically one per job) — the reference checkpoints after
    * every page only because each Postgres page-insert is a cheap
    * row-level round trip; on Spark a per-page write is an anti-join
    * against the full accumulated table plus a cursors rewrite, i.e.
    * O(pages × table) work per job, quadratic in history at scale.
    * Batching drops crash-resume granularity from page to flush
    * window, which M2's idempotent key makes safe: a replayed window
    * re-fetches from the saved cursor and the anti-join drops every
    * already-stored row. The append prunes the existing-side scan to
    * this job's token partition (`contract_address` is the table's
    * partition key), so dedup work scales with the token's history,
    * not the whole table.
    */
  def walletTokenTx(spark: SparkSession, store: MerlStore, client: ExplorerClient,
                    wallet: String, token: String, startBlock: Long = 0,
                    pageSize: Int = 100, maxPages: Int = 100000,
                    flushPages: Int = 200): TokenTxResult = {
    val stream = s"tokentx:${wallet.toLowerCase}:${token.toLowerCase}"
    var lastBlock = store.cursorGet(stream).map(_._1).filter(_ > 0)
      .map(math.max(_, startBlock)).getOrElse(startBlock)
    val jobId = store.jobStart("wallet_tx_hourly")
    val buffered = ArrayBuffer.empty[Row]
    var pages = 0
    var totalRows = 0L
    // Flush a buffered batch as ONE pruned anti-join append + ONE
    // cursor merge. `flushPages` bounds driver memory on huge
    // backfills (200 pages × 500 rows ≈ 100k buffered rows max) and is
    // also the crash-resume granularity: a failure loses at most one
    // flush window of fetching, never the whole job.
    def flush(lastDonePage: Int, meta: String): Unit = if (buffered.nonEmpty) {
      store.appendWalletTransactions(txFrame(spark, buffered.toSeq),
        contracts = Some(Seq(token.toLowerCase)))
      store.cursorUpsert(stream, Some(lastBlock), Some(lastDonePage), meta)
      totalRows += buffered.size
      buffered.clear()
    }
    try {
      var page = 1
      var lastDonePage = 0
      var meta = "{}"
      var done = false
      while (!done && pages < maxPages) {
        val env = client.tokenTxPage(wallet, token, lastBlock, page, pageSize)
        meta = probeMetaJson(env.status, env.message)
        if (!env.ok || env.resultItems.isEmpty) done = true
        else {
          buffered ++= env.resultItems.map { it =>
            val blockNumber = it.get("blockNumber").flatMap(parseLong).getOrElse(0L)
            lastBlock = math.max(lastBlock, blockNumber)
            Row(
              wallet.toLowerCase, token.toLowerCase, blockNumber,
              it.get("timeStamp").flatMap(parseLong).getOrElse(0L),
              it.get("hash").orNull,
              jl(it.get("nonce").flatMap(parseLong)),
              it.get("blockHash").orNull,
              it.get("from").map(_.toLowerCase).getOrElse(""),
              it.get("to").map(_.toLowerCase).getOrElse(""),
              it.get("value").filter(_.nonEmpty).getOrElse("0"),
              it.get("tokenName").orNull,
              it.get("tokenSymbol").orNull,
              it.get("tokenDecimal").flatMap(parseInt).getOrElse(18),
              it.get("transactionIndex").flatMap(parseInt).getOrElse(0),
              jl(it.get("gas").flatMap(parseLong)),
              it.get("gasPrice").orNull,
              jl(it.get("gasUsed").flatMap(parseLong)),
              jl(it.get("cumulativeGasUsed").flatMap(parseLong)),
              it.get("input").orNull,
              jl(it.get("confirmations").flatMap(parseLong)))
          }
          pages += 1
          lastDonePage = page
          if (pages % flushPages == 0) flush(lastDonePage, meta)
          if (env.resultItems.size < pageSize) done = true else page += 1
        }
      }
      // Always record the final probe outcome on the cursor. When the
      // terminating envelope arrives exactly at a flush boundary the
      // buffer is empty and flush is a no-op — the cursor would keep
      // the previous window's OK meta instead of this probe's
      // status/message (the reference records every probe outcome,
      // merlin_etl.py:463). This branch also covers no-new-rows runs.
      if (buffered.nonEmpty) flush(lastDonePage, meta)
      else store.cursorUpsert(stream, Some(lastBlock), Some(lastDonePage), meta)
      store.jobFinish(jobId, "success", stats = Some(
        s"""{"rows":$totalRows,"pages":$pages,"wallet":"$wallet","token":"$token","last_block":$lastBlock}"""))
      TokenTxResult(totalRows, pages, wallet, token, lastBlock)
    } catch {
      case e: Throwable =>
        store.jobFinish(jobId, "error", error = Some(e.toString)); throw e
    }
  }

  private val txIngestSchema = StructType(Seq(
    StructField("wallet_address", StringType), StructField("contract_address", StringType),
    StructField("block_number", LongType), StructField("block_time_unix", LongType),
    StructField("tx_hash", StringType), StructField("nonce", LongType),
    StructField("block_hash", StringType), StructField("from_address", StringType),
    StructField("to_address", StringType), StructField("value_raw", StringType),
    StructField("token_name", StringType), StructField("token_symbol", StringType),
    StructField("token_decimal", IntegerType), StructField("transaction_index", IntegerType),
    StructField("gas", LongType), StructField("gas_price", StringType),
    StructField("gas_used", LongType), StructField("cumulative_gas_used", LongType),
    StructField("input", StringType), StructField("confirmations", LongType)))

  private def txFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    txEnrich(spark.createDataFrame(rows.asJava, txIngestSchema))

  /** Derived columns of a txIngestSchema-shaped frame: block time,
    * 18-decimal value, decimal gas price, ingest timestamp.
    */
  private def txEnrich(df: DataFrame): DataFrame =
    df.withColumn("wallet_name", lit(null).cast(StringType))
      .withColumn("wallet_tag", lit(null).cast(StringType))
      .withColumn("block_time_utc", timestamp_seconds(col("block_time_unix")))
      .withColumn("value_18d", AmountFns.scale18(col("value_raw")))
      .withColumn("gas_price", col("gas_price").try_cast(DecimalType(38, 0)))
      .withColumn("ingested_at", current_timestamp())
}
