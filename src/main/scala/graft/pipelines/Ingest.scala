package graft.pipelines

import graft.Json
import graft.domain.{MerlStore, Top100}
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

  /** Cursor-metadata JSON for a probe envelope. */
  private[pipelines] def probeMetaJson(status: String, message: String): String =
    s"""{"status":${Json.str(status)},"message":${Json.str(message)}}"""

  /** `parse_int` (`merlin_etl.py:184-188`): null on failure. */
  def parseLong(s: String): Option[Long] =
    Option(s).flatMap(v => scala.util.Try(v.trim.toLong).toOption)
  def parseInt(s: String): Option[Int] =
    Option(s).flatMap(v => scala.util.Try(v.trim.toInt).toOption)

  private def jl(v: Option[Long]): Any = v.map(java.lang.Long.valueOf).orNull

  final case class BlockByTimeResult(blockNumber: Option[Long], status: String, message: String)

  /** E1a (`merlin_etl.py:199-236`): probe block number for a unix
    * timestamp, upsert into block_check on (unix_ts, closest).
    */
  def blockByTime(spark: SparkSession, store: MerlStore, client: ExplorerClient,
                  unixTs: Long, closest: String = "after"): BlockByTimeResult = {
    audited(store, "block_check_hourly") {
      val env = client.blockByTime(unixTs, closest)
      val block = env.resultScalar.flatMap(parseLong)
      import spark.implicits._
      store.upsertBlockCheck(Seq((unixTs, closest, block, env.status, env.message))
        .toDF("unix_ts", "closest", "block_number", "api_status", "api_message")
        .withColumn("ts_utc", timestamp_seconds(col("unix_ts")))
        .withColumn("inserted_at", current_timestamp()))
      (BlockByTimeResult(block, env.status, env.message),
        s"""{"block_number":${block.getOrElse(-1L)},"status":${Json.str(env.status)}}""")
    }
  }

  /** The job audit bracket (`merlin_etl.py:218-235`): `body`'s result
    * and stats JSON are recorded as a success, or its error before the
    * rethrow.
    */
  private def audited[T](store: MerlStore, jobName: String)(body: => (T, String)): T = {
    val jobId = store.jobStart(jobName)
    try {
      val (result, stats) = body
      store.jobFinish(jobId, "success", stats = Some(stats))
      result
    } catch {
      case e: Throwable => store.jobFinish(jobId, "error", error = Some(e.toString)); throw e
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
    audited(store, "holders_6h") {
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
      (SnapshotResult(rows.size, pages, token, decimals),
        s"""{"rows":${rows.size},"pages":$pages,"token":${Json.str(token)},"decimals":$decimals}""")
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
    val rows = refineTop100(store, token, k)
    notifier.foreach(n => Report.snapshotReport(spark, store, token, n))
    HoldersTop100Result(snap, rows, bucketStart, triggerId)
  }

  /** The refine step for one token (`run_top100.sh` →
    * `top100_compute.sql -v token=…`): rank the token's latest holders
    * bucket, refresh that bucket's Top-100 partition, and return the
    * refreshed partition's row count; both reads prune to the one
    * (token, bucket) partition. A token with no snapshot counts 0.
    */
  def refineTop100(store: MerlStore, token: String, k: Int = 100): Long = {
    val t = token.toLowerCase
    store.latestBucket("holders_raw", t).fold(0L) { bucket =>
      store.refreshTop100(Top100.compute(Report.bucketRows(store, "holders_raw", t, bucket), k))
      Report.bucketRows(store, "refined_wallet_top100", t, bucket).count()
    }
  }

  final case class TokenTxResult(rows: Long, pages: Int, wallet: String,
                                 token: String, lastBlock: Long)

  /** E1 main (`merlin_etl.py:346-479`): paged, resumable tokentx
    * ingest for (wallet, token). Pages buffer driver-side (the 3 QPS
    * API is the bottleneck) and land as ONE insert-ignore append plus
    * ONE cursor merge per `flushPages` window (typically one per job):
    * the reference checkpoints every page because a Postgres insert is
    * a cheap row-level round trip, while here each append is an
    * anti-join against the token's stored history. `flushPages` bounds
    * driver memory (200 pages × 500 rows ≈ 100k rows) and is the
    * crash-resume granularity, which M2's idempotent key makes safe: a
    * replayed window re-fetches from the saved cursor and the
    * anti-join drops every already-stored row.
    */
  def walletTokenTx(spark: SparkSession, store: MerlStore, client: ExplorerClient,
                    wallet: String, token: String, startBlock: Long = 0,
                    pageSize: Int = 100, maxPages: Int = 100000,
                    flushPages: Int = 200): TokenTxResult = {
    val stream = s"tokentx:${wallet.toLowerCase}:${token.toLowerCase}"
    var lastBlock = store.cursorGet(stream).map(_._1).filter(_ > 0)
      .map(math.max(_, startBlock)).getOrElse(startBlock)
    audited(store, "wallet_tx_hourly") {
      val buffered = ArrayBuffer.empty[Row]
      var pages = 0
      var totalRows = 0L
      def flush(lastDonePage: Int, meta: String): Unit = if (buffered.nonEmpty) {
        store.appendWalletTransactions(txFrame(spark, buffered.toSeq),
          contracts = Some(Seq(token.toLowerCase)))
        store.cursorUpsert(stream, Some(lastBlock), Some(lastDonePage), meta)
        totalRows += buffered.size
        buffered.clear()
      }
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
      (TokenTxResult(totalRows, pages, wallet, token, lastBlock),
        s"""{"rows":$totalRows,"pages":$pages,"wallet":${Json.str(wallet)},""" +
          s""""token":${Json.str(token)},"last_block":$lastBlock}""")
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
