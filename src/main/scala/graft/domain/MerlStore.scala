package graft.domain

import graft.store.SegmentStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet-backed table store implementing the reference's write-side
  * operators (SURVEY §2.8) on Spark's immutable-write model:
  *
  *  - M1/M3/M4 — update-on-conflict and refresh upserts become
  *    DYNAMIC PARTITION OVERWRITE: snapshot jobs always rewrite whole
  *    (token, bucket) partitions (`run_holders_and_top100.sh:41`
  *    "idempotent within bucket"), so replacing the partition IS the
  *    upsert, with no row-level merge needed. At 100 TB this writes
  *    only the touched partitions and never rewrites history.
  *  - M2 — insert-ignore (`ON CONFLICT DO NOTHING`,
  *    merlin_etl.py:441-447) becomes left-anti-join append on the
  *    natural key, including the reference's
  *    `COALESCE(transaction_index, 0)` key component (schema.sql:123),
  *    each append one `__batch` segment.
  *  - M5 — cursor GREATEST-merge (merlin_etl.py:159-175), M6 — job
  *    audit bracket (merlin_etl.py:133-151) and the block_check
  *    upsert (schema.sql:29) as APPEND-ONLY LOGS, each a
  *    [[SegmentStore]] like the firewall indexes: a mutation appends
  *    only its own rows as one new segment (a crash leaves it whole or
  *    absent and never touches the others) and [[read]] resolves the
  *    log, ordering events by `__seq`, the write's
  *    [[MerlStore.nextSeq]]. The one partition, `__log=0`, is known to
  *    every writer (`jobFinish` has only the job id) and keeps
  *    listings flat in the number of streams and jobs. Segments merge
  *    through the store's crash-tested [[SegmentStore.autoCompact]]
  *    and [[SegmentStore.recover]].
  */
class MerlStore(spark: SparkSession, root: String) {

  import MerlStore._

  def path(table: String): String = s"$root/$table"

  private def fileSystem(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The segment store of a log or of `wallet_transactions`. */
  private def segments(table: String): SegmentStore =
    SegmentStore(spark, path(table), if (Logs.contains(table)) LogPart else "contract_address")

  def exists(table: String): Boolean = segments(table).exists

  /** The table's current rows; a log resolves to one row per key, and
    * a segmented table hides its `__batch` column.
    */
  def read(table: String): DataFrame = Logs.get(table) match {
    case None => spark.read.parquet(path(table)).drop(SegmentStore.BatchCol)
    case Some(log) =>
      val events = segments(table).read(Some(log.schema.add("__seq", LongType)))
      log.resolve(events).select(log.schema.fieldNames.map(col).toSeq: _*)
  }

  /** Append `events` to the log `table` as one new segment. Every
    * segment carries the full log schema: compaction infers it from
    * one segment's footer.
    */
  private def append(table: String, events: DataFrame): Unit = {
    val (dir, seq, schema) = (path(table), nextSeq(), Logs(table).schema)
    val row = schema.map(f => (if (events.columns.contains(f.name)) col(f.name) else lit(null))
      .cast(f.dataType).as(f.name))
    SegmentStore.writeBatch(events.select(row: _*).withColumn("__seq", lit(seq))
      .withColumn(LogPart, lit(0)).coalesce(1), dir, seq, LogPart)
    segments(table).autoCompact()
  }

  /** The latest `bucket_unix` partition of `token` in a
    * (contract_address, bucket_unix)-partitioned table, from one
    * listing of the token's directory (no Spark job).
    */
  def latestBucket(table: String, token: String): Option[Long] = {
    val dir = new Path(path(table), "contract_address=" + ExternalCatalogUtils.escapePathName(token))
    try fileSystem(dir).listStatus(dir).map(_.getPath.getName).collect {
      case n if n.startsWith("bucket_unix=") => n.stripPrefix("bucket_unix=").toLong
    }.maxOption
    catch { case _: java.io.FileNotFoundException => None }
  }

  // ---- M1 / M3 / M4: partition-overwrite upserts --------------------

  /** Holders snapshot upsert (M1, merlin_etl.py:304-318): within-batch
    * last-wins dedup on the natural key, then dynamic overwrite of the
    * touched (contract_address, bucket_unix) partitions. Re-running a
    * bucket refreshes it; other partitions untouched.
    */
  def upsertHolders(batch: DataFrame): Unit = {
    val partCols = Seq("contract_address", "bucket_unix")
    // ONE shuffle, not two: cluster on the write-partition key first;
    // the full-key dedup then needs no second exchange, because hash
    // partitioning on a SUBSET of the dedup key already co-locates
    // equal keys (Catalyst recognizes this and plans a single
    // aggregate over the existing distribution).
    val clustered = batch.repartition(partCols.map(col): _*)
      .dropDuplicates(HoldersKey)
    writePartitioned("holders_raw", withAudit(clustered), partCols)
  }

  /** Top-100 refresh (M3/M4, top100_compute.sql:30-35 and the
    * delete-then-insert variant top100_from_latest_bucket.sql:119-158):
    * the job recomputes the full Top-100 per (token, bucket), so
    * partition overwrite ≡ upsert ≡ delete+insert.
    */
  def refreshTop100(top100: DataFrame): Unit =
    overwritePartitions("refined_wallet_top100", top100,
      Seq("contract_address", "bucket_unix"))

  /** Dynamic partition overwrite, with rows hash-clustered on the
    * partition key first so each partition directory gets ~one file
    * per batch instead of one per shuffle task (the small-files
    * problem). Trade-off: a single hot (token, bucket) writes from
    * one task — if a snapshot ever outgrows that, salt the
    * repartition with a bounded file index.
    */
  private def overwritePartitions(table: String, df: DataFrame, partCols: Seq[String]): Unit =
    writePartitioned(table, df.repartition(partCols.map(col): _*), partCols)

  /** Dynamic-overwrite write of an ALREADY partition-clustered frame —
    * callers that produced the clustering upstream (e.g. a dedup over
    * a superset key) skip the extra exchange.
    */
  private def writePartitioned(table: String, df: DataFrame, partCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path(table))

  // ---- M2: insert-ignore append ------------------------------------

  /** Wallet-transaction append with insert-ignore dedup (M2): the key
    * is (tx_hash, contract_address, wallet_address, value_raw,
    * COALESCE(transaction_index,0)) per schema.sql:123 — null and 0
    * transaction_index collapse to the same identity. Within-batch
    * dedup keeps one row per key; cross-batch dedup is a left-anti
    * join against the existing keys. At scale the anti-join shuffles
    * only the key columns of the existing side; the existing-side scan
    * is pruned to the batch's OWN distinct `contract_address` values
    * (one partition-pruning directory filter per touched token), so
    * dedup cost follows the touched tokens' history, not the whole
    * table. The prune set is derived from the batch — never trusted
    * from the caller — because a caller-supplied list that missed a
    * token would silently bypass insert-ignore dedup for that token's
    * rows and duplicate them on replay. `contracts`, when given, is a
    * declared confinement that is VALIDATED against the batch (the
    * reference ingests per (wallet, token), merlin_etl.py:346).
    *
    * Each append is its own segment, `contract_address=<c>/__batch=<seq>/`,
    * written by [[SegmentStore.append]], so two tokens' overlapping jobs
    * never share a committer directory. The table is never compacted:
    * a merge would rewrite its whole history.
    */
  def appendWalletTransactions(batch: DataFrame, contracts: Option[Seq[String]] = None): Unit = {
    val keyed = batch.withColumn("__ti0", coalesce(col("transaction_index"), lit(0)))
      .dropDuplicates(TxKey)
    val fresh =
      if (!exists("wallet_transactions")) keyed
      else {
        // Tiny driver-side distinct: the batch is one bounded flush
        // window (≤ ~100k buffered rows), and its token set is ~1.
        val batchContracts = keyed.select("contract_address").distinct()
          .collect().flatMap(r => Option(r.getString(0))).toSeq
        contracts.foreach { cs =>
          val declared = cs.map(_.toLowerCase).toSet
          val stray = batchContracts.filterNot(c => declared.contains(c.toLowerCase))
          require(stray.isEmpty,
            s"appendWalletTransactions: batch contains contract_address values outside " +
              s"the declared contracts list: ${stray.mkString(", ")}")
        }
        val base = read("wallet_transactions")
        val pruned =
          if (batchContracts.isEmpty) base
          else base.filter(col("contract_address").isin(batchContracts: _*))
        val existing = pruned
          .withColumn("__ti0", coalesce(col("transaction_index"), lit(0)))
          .select(TxKey.map(col): _*)
        keyed.join(existing, TxKey, "left_anti")
      }
    segments("wallet_transactions").append(fresh.drop("__ti0"), nextSeq())
  }

  // ---- block_check: update-on-conflict log -------------------------

  /** Block-probe upsert on (unix_ts, closest) (schema.sql:29): the
    * batch's rows are appended, and the newest row per key wins on
    * [[read]].
    */
  def upsertBlockCheck(batch: DataFrame): Unit = append("block_check", batch)

  // ---- M5: cursor GREATEST-merge ------------------------------------

  /** Bulk cursor merge (M5, merlin_etl.py:159-175): per stream,
    * last_scanned_block and last_page move monotonically forward
    * (GREATEST of old and new, nulls as 0), metadata is replaced by
    * the incoming value, updated_at_utc refreshed. Accepts a frame of
    * (stream, last_scanned_block, last_page, metadata) rows so a whole
    * ingest batch checkpoints in one append.
    */
  def mergeCursors(incoming: DataFrame): Unit =
    append("ingestion_cursors", incoming.withColumn("updated_at_utc", current_timestamp()))

  /** Single-stream convenience mirroring the reference's per-call API. */
  def cursorUpsert(stream: String, lastBlock: Option[Long],
                   lastPage: Option[Int], metadata: String = "{}"): Unit = {
    import spark.implicits._
    mergeCursors(Seq((stream, lastBlock, lastPage, metadata))
      .toDF("stream", "last_scanned_block", "last_page", "metadata"))
  }

  /** Saved cursor for a stream key, if any (merlin_etl.py:154-156). */
  def cursorGet(stream: String): Option[(Long, Int)] =
    if (!exists("ingestion_cursors")) None
    else read("ingestion_cursors").filter(col("stream") === stream)
      .select(col("last_scanned_block"), col("last_page"))
      .collect().headOption.map(r => (r.getLong(0), r.getInt(1)))

  // ---- M6: job audit bracket ----------------------------------------

  /** Open a job_runs row (S8/M6, merlin_etl.py:133-141); returns the
    * generated job id (UUID — the driver-side identity replacing
    * BIGSERIAL + RETURNING).
    */
  def jobStart(jobName: String): String = {
    import spark.implicits._
    val id = java.util.UUID.randomUUID().toString
    append("job_runs", Seq((id, jobName, "running", "{}"))
      .toDF("job_id", "job_name", "status", "stats")
      .withColumn("scheduled_for", current_timestamp())
      .withColumn("started_at", current_timestamp()))
    id
  }

  /** Close a job_runs row (merlin_etl.py:144-151): set finished_at,
    * status, stats (replacing when provided), error (kept when not).
    */
  def jobFinish(jobId: String, status: String,
                stats: Option[String] = None, error: Option[String] = None): Unit = {
    import spark.implicits._
    append("job_runs", Seq((jobId, status, stats, error))
      .toDF("job_id", "status", "stats", "error")
      .withColumn("finished_at", current_timestamp()))
  }

  /** Drop every table under this store root (test/fixture hygiene). */
  def destroy(): Unit = {
    val p = new Path(root)
    if (fileSystem(p).exists(p)) fileSystem(p).delete(p, true)
  }
}

object MerlStore {
  /** Natural key of holders_raw (schema.sql:55). */
  val HoldersKey: Seq[String] = Seq("bucket_start_utc", "contract_address", "holder_address")

  /** Dedup key of wallet_transactions (schema.sql:123) with the
    * COALESCE'd transaction_index materialized as __ti0.
    */
  val TxKey: Seq[String] =
    Seq("tx_hash", "contract_address", "wallet_address", "value_raw", "__ti0")

  /** Audit columns on write (schema.sql:9-14 trigger + defaults). */
  def withAudit(df: DataFrame): DataFrame =
    df.withColumn("inserted_at", current_timestamp())
      .withColumn("updated_at", current_timestamp())

  private val LogPart = "__log"

  private final case class Log(schema: StructType, resolve: DataFrame => DataFrame)

  /** The newest non-null value of column `c`. */
  private def newest(c: String): Column =
    max_by(col(c), when(col(c).isNotNull, col("__seq")))

  /** Each log's resolution: a cursor is GREATEST per stream (nulls as
    * 0) with the newest metadata; a job is its start row overlaid with
    * the newest non-null finish fields, and a finish for an unknown id
    * adds no row; block_check keeps the newest row per key.
    */
  private val Logs: Map[String, Log] = Map(
    "ingestion_cursors" -> Log(Schemas.ingestionCursors, _.groupBy("stream").agg(
      max(coalesce(col("last_scanned_block"), lit(0L))).as("last_scanned_block"),
      max(coalesce(col("last_page"), lit(0))).as("last_page"),
      newest("updated_at_utc").as("updated_at_utc"),
      coalesce(newest("metadata"), lit("{}")).as("metadata"))),
    "job_runs" -> Log(Schemas.jobRuns, events => events.groupBy("job_id")
      .agg(newest("job_name").as("job_name"),
        Schemas.jobRuns.fieldNames.toSeq.drop(2).map(c => newest(c).as(c)): _*)
      .filter(col("job_name").isNotNull)),
    "block_check" -> Log(Schemas.blockCheck, events => events.groupBy("unix_ts", "closest")
      .agg(max_by(struct(events.columns.map(col).toSeq: _*), col("__seq")).as("r"))
      .select("r.*")))

  private val lastTick = new java.util.concurrent.atomic.AtomicLong
  private val writerTag = new java.security.SecureRandom().nextInt(1 << 10).toLong

  /** A millisecond tick that never repeats or steps back in the JVM,
    * over a random per-JVM tag, so two processes appending in the same
    * millisecond still write distinct segments.
    */
  private def nextSeq(): Long =
    (lastTick.updateAndGet(t => math.max(t + 1, System.currentTimeMillis())) << 10) | writerTag
}
