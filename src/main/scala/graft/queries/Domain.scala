package graft.queries

import graft.Tables
import graft.domain.{MerlStore, SchemaAdapter, Top100}
import graft.functions.AmountFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Merl-domain parity queries: the reference's data model and write
  * semantics (holders → Top-100 refine; insert-ignore tx log; cursor
  * store; job audit) exercised end-to-end, oracle-gated.
  *
  * The holders fixture is DERIVED deterministically from the driver's
  * `customer` table (no synthetic data of our own): contract =
  * market segment, holder = customer key, token_decimal ∈ {0,6,8,18}
  * by segment, 6h bucket = custkey mod 4, quantity_raw = canonical
  * decimal string of ⌊|acctbal|·100⌋ shifted by token_decimal — plus
  * one 40-digit whale per contract to pin the >Decimal(38) ranking
  * path. The identical derivation is expressed in the DuckDB oracle,
  * so every value (including the uint256-scale whale) is checked.
  *
  * Write-path queries round-trip through a scratch [[MerlStore]] under
  * /tmp, running each mutation TWICE (or with a conflicting second
  * batch) so the oracle — which states the single-application result —
  * proves idempotency / conflict semantics, not just the happy path.
  */
object Domain {

  private def scratch(s: SparkSession, dir: String, name: String): MerlStore = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val store = new MerlStore(s, s"/tmp/graft_store/${safe}_$name")
    store.destroy()
    store
  }

  /** holders_raw-shaped frame derived from `customer` (see class doc). */
  def holdersFixture(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(
      concat(lit("0x"), lower(col("c_mktsegment"))).as("contract_address"),
      concat(lit("0xh"), col("c_custkey").cast(StringType)).as("holder_address"),
      when(col("c_mktsegment") === "AUTOMOBILE", 0)
        .when(col("c_mktsegment") === "BUILDING", 6)
        .when(col("c_mktsegment") === "FURNITURE", 8)
        .otherwise(18).as("token_decimal"),
      (lit(21600L) * (col("c_custkey") % 4)).as("bucket_unix"),
      floor(abs(col("c_acctbal")) * 100).cast(LongType).cast(StringType).as("cents"))
    val raw0 = ltrim(concat(col("cents"), expr("repeat('0', token_decimal)")), "0")
    val canon = base
      .withColumn("quantity_raw", when(raw0 === "", lit("0")).otherwise(raw0))
      .drop("cents")
    val whales = base.select(col("contract_address"), col("token_decimal")).distinct()
      .withColumn("holder_address", lit("0xwhale"))
      .withColumn("bucket_unix", lit(64800L))
      .withColumn("quantity_raw", lit("9" * 40))
    canon.unionByName(whales.select(canon.columns.map(col): _*))
      .withColumn("bucket_start_utc", timestamp_seconds(col("bucket_unix")))
      .withColumn("trigger_id", date_format(col("bucket_start_utc"), "yyyy/MM/dd-HH"))
      .withColumn("quantity_18d", AmountFns.scale18(col("quantity_raw")))
  }

  /** Reference E2 refine: Top-100 per (token, latest bucket), with the
    * whale's 40-digit balance ranked exactly (string-numeric ordering)
    * and displayed as a double on both engines.
    */
  def top100Domain(s: SparkSession, dir: String): DataFrame =
    Top100.compute(holdersFixture(s, dir))
      .select(col("contract_address"), col("bucket_unix"),
        col("rnk").cast(LongType).as("rnk"), col("holder_address"),
        (col("balance_raw").cast(DoubleType) / pow(lit(10.0), col("token_decimal")))
          .as("balance"))
      .orderBy(col("contract_address"), col("rnk"), col("holder_address"))

  /** Exact uint256 total holdings of each token's Top-100 (the
    * reference's NUMERIC(78,0) SUM, `schema.sql:49`): the 40-digit
    * whale makes Decimal(38) `sum` null out, so the total flows
    * through the native BigInteger aggregate
    * ([[graft.plans.SumBigUInt]], `graft_sum_uint`) — exact at any
    * width, partial-aggregated map-side. The DuckDB oracle states the
    * same total via two-limb HUGEINT arithmetic (hi·10^18 + lo with
    * carry), rendered to the identical decimal string.
    */
  def top100Holdings(s: SparkSession, dir: String): DataFrame = {
    Top100.compute(holdersFixture(s, dir))
      .groupBy(col("contract_address"), col("bucket_unix").cast(LongType).as("bucket_unix"))
      .agg(count(lit(1)).as("n_top"),
        ColumnBridge.column(graft.plans.SumBigUInt(
          ColumnBridge.expression(col("balance_raw"))).toAggregateExpression())
          .as("total_raw"))
      .orderBy(col("contract_address"), col("bucket_unix"))
  }

  /** M3/M4: Top-100 partition-overwrite refresh, run twice — the
    * stored table must equal a single refresh.
    */
  def top100Refresh(s: SparkSession, dir: String): DataFrame = {
    val store = scratch(s, dir, "top100_refresh")
    // Both refreshes write the same computed frame: persist so the
    // rank pipeline runs once, not once per write (M7).
    val t = Top100.compute(holdersFixture(s, dir)).persist()
    store.refreshTop100(t)
    store.refreshTop100(t)
    t.unpersist(blocking = false)
    store.read("refined_wallet_top100")
      .select(col("contract_address"), col("bucket_unix").cast(LongType).as("bucket_unix"),
        col("rnk").cast(LongType).as("rnk"), col("holder_address"))
      .orderBy(col("contract_address"), col("rnk"), col("holder_address"))
  }

  /** M1: holders snapshot upsert — second write carries token_decimal
    * + 1 and must fully replace the first (update-on-conflict), never
    * double the rows.
    */
  def holdersUpsert(s: SparkSession, dir: String): DataFrame = {
    val store = scratch(s, dir, "holders_upsert")
    // Both writes derive from one fixture scan: persist so the
    // customer-scan + decimal derivation runs once (M7).
    val fx = holdersFixture(s, dir).persist()
    store.upsertHolders(fx)
    store.upsertHolders(fx.withColumn("token_decimal", col("token_decimal") + 1))
    fx.unpersist(blocking = false)
    store.read("holders_raw")
      .groupBy(col("contract_address"), col("bucket_unix").cast(LongType).as("bucket_unix"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("holder_address")).as("n_holders"),
        sum(col("token_decimal")).cast(LongType).as("sum_dec"),
        sum(length(col("quantity_raw"))).cast(LongType).as("sum_len"))
      .orderBy(col("contract_address"), col("bucket_unix"))
  }

  /** M2: insert-ignore on the coalesce'd tx key. Batch A (even event
    * ids, NULL transaction_index) then batch B (odd ids, index 0) —
    * every B row whose pair exists in A collides via
    * COALESCE(transaction_index,0) and must be dropped.
    */
  def txInsertIgnore(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val p = floor(col("event_id") / 2.0).cast(LongType)
    def txFrom(pred: Column, ti: Column) = ev.filter(pred).select(
      concat(lit("0xt"), p.cast(StringType)).as("tx_hash"),
      concat(lit("0xc"), (p % 3).cast(StringType)).as("contract_address"),
      concat(lit("0xw"), (p % 50).cast(StringType)).as("wallet_address"),
      p.cast(StringType).as("value_raw"),
      ti.as("transaction_index"),
      p.as("block_number"))
    val store = scratch(s, dir, "tx_insert_ignore")
    store.appendWalletTransactions(
      txFrom(col("event_id") % 2 === 0, lit(null).cast(IntegerType)))
    store.appendWalletTransactions(
      txFrom(col("event_id") % 2 === 1, lit(0).cast(IntegerType)))
    store.read("wallet_transactions").agg(
      count(lit(1)).as("n"),
      countDistinct(col("tx_hash")).as("n_hash"),
      sum(col("value_raw").cast(LongType)).as("total"),
      sum(when(col("transaction_index").isNull, 1L).otherwise(0L)).as("n_null_ti"))
  }

  /** M5: cursor store — two checkpoint merges; blocks and pages move
    * by GREATEST, metadata replaced by the latest writer.
    */
  def cursorStore(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def snap(pred: Column, meta: String) = ev.filter(pred)
      .groupBy(concat(lit("w"), (col("user_id") % 10).cast(StringType)).as("stream"))
      .agg(max(col("event_id")).as("last_scanned_block"),
        count(lit(1)).cast(IntegerType).as("last_page"))
      .withColumn("metadata", lit(meta))
    val store = scratch(s, dir, "cursor_store")
    store.mergeCursors(snap(col("event_id") % 2 === 0, """{"v":1}"""))
    store.mergeCursors(snap(col("event_id") % 3 === 0, """{"v":2}"""))
    store.read("ingestion_cursors")
      .select(col("stream"), col("last_scanned_block"), col("last_page"), col("metadata"))
      .orderBy(col("stream"))
  }

  /** M6/S8: job audit bracket — success with stats, error with
    * message, and a still-running row.
    */
  def jobAudit(s: SparkSession, dir: String): DataFrame = {
    val store = scratch(s, dir, "job_audit")
    val a = store.jobStart("alpha")
    store.jobFinish(a, "success", stats = Some("""{"rows":42}"""))
    val b = store.jobStart("beta")
    store.jobFinish(b, "error", error = Some("boom"))
    store.jobStart("gamma")
    store.read("job_runs")
      .select(col("job_name"), col("status"), col("stats"), col("error"),
        col("finished_at").isNotNull.as("has_finished"))
      .orderBy(col("job_name"))
  }

  /** The three destination-schema variants the adapter gate resolves
    * against: the reference's own DDL (`schema.sql:71-82`), an
    * all-alternate-names bytea destination, and a minimal mixed one
    * (text contract, binary holder, no optional columns).
    */
  private[queries] val destVariants: Seq[(String, StructType)] = Seq(
    "ref_ddl" -> StructType(Seq(
      StructField("bucket_start_utc", TimestampType),
      StructField("contract_address", StringType),
      StructField("rnk", IntegerType),
      StructField("holder_address", StringType),
      StructField("token_decimal", ShortType),
      StructField("balance_raw", StringType),
      StructField("balance", DoubleType),
      StructField("inserted_at", TimestampType))),
    "alt_bytea" -> StructType(Seq(
      StructField("asof", TimestampType),
      StructField("token", BinaryType),
      StructField("position", LongType),
      StructField("owner_address", BinaryType),
      StructField("token_decimals", IntegerType),
      StructField("qty_raw", StringType),
      StructField("qty", DoubleType))),
    "minimal_mixed" -> StructType(Seq(
      StructField("contract", StringType),
      StructField("rank", LongType),
      StructField("address", BinaryType),
      StructField("decimals", IntegerType),
      StructField("balance_base_units", StringType),
      StructField("balance_decimal", DoubleType))))

  /** M8: destination-schema introspection — resolve each variant's
    * column mapping (candidate-name lists + bytea detection,
    * `top100_from_latest_bucket.sql:46-103`) and emit the decision
    * table. The oracle states the expected resolution literally (the
    * job_audit pattern); precedence and abort paths are additionally
    * spec-tested in SchemaAdapterSpec.
    */
  def schemaAdapt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = destVariants.flatMap { case (variant, st) =>
      SchemaAdapter.resolve(st).map(m => (variant, m.field, m.destColumn, m.isBinary))
    }
    rows.toDF("variant", "field", "dest_column", "is_binary")
      .orderBy(col("variant"), col("field"))
  }

  /** P20 + M8 end-to-end: the reference's bytea INSERT path
    * (`top100_from_latest_bucket.sql:106-158`) — Top-100 over a
    * hex-address holders fixture, adapted into the alt_bytea
    * destination, with both address columns conditionally decoded
    * `0x…`→bytes by [[SchemaAdapter.adaptedSelect]] (codegen'd
    * `unhex`, zero extra exchanges on the Top-100 plan).
    *
    * Addresses are made hex-decodable by md5-ing the fixture's text
    * addresses (md5 is identical and public on both engines). The
    * gate projects the binary columns through base64 — a bijective
    * encoding both engines state identically — because the driver's
    * value-hash compares raw BLOBs engine-specifically; the bytes
    * themselves are additionally asserted in SchemaAdapterSpec.
    */
  def hexDecode(s: SparkSession, dir: String): DataFrame = {
    val hexFx = holdersFixture(s, dir)
      .withColumn("contract_address", concat(lit("0x"), md5(col("contract_address"))))
      .withColumn("holder_address", concat(lit("0x"), md5(col("holder_address"))))
    val dest = destVariants.collectFirst { case ("alt_bytea", st) => st }.get
    SchemaAdapter.adaptedSelect(Top100.compute(hexFx), dest)
      .select(
        base64(col("token")).as("token_b64"),
        length(col("token")).as("token_len"),
        col("position"),
        base64(col("owner_address")).as("owner_b64"),
        col("token_decimals"),
        col("qty_raw"),
        col("asof").cast(LongType).as("asof_unix"))
      .orderBy(col("token_b64"), col("position"), col("owner_b64"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "top100_domain" -> (top100Domain _),
    "top100_holdings" -> (top100Holdings _),
    "top100_refresh" -> (top100Refresh _),
    "holders_upsert" -> (holdersUpsert _),
    "tx_insert_ignore" -> (txInsertIgnore _),
    "cursor_store" -> (cursorStore _),
    "job_audit" -> (jobAudit _),
    "schema_adapt" -> (schemaAdapt _),
    "hex_decode" -> (hexDecode _))

  /** Shared oracle CTE: the holders fixture derivation in DuckDB SQL,
    * token-for-token with [[holdersFixture]].
    */
  private val holdersCte =
    """WITH base AS (
      |  SELECT '0x' || lower(c_mktsegment) AS contract_address,
      |         '0xh' || CAST(c_custkey AS VARCHAR) AS holder_address,
      |         CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 6
      |              WHEN 'FURNITURE' THEN 8 ELSE 18 END AS token_decimal,
      |         21600 * (c_custkey % 4) AS bucket_unix,
      |         CAST(CAST(floor(abs(c_acctbal) * 100) AS BIGINT) AS VARCHAR) AS cents
      |  FROM customer),
      |holders AS (
      |  SELECT contract_address, holder_address, token_decimal, bucket_unix,
      |         CASE WHEN ltrim(cents || repeat('0', token_decimal), '0') = ''
      |              THEN '0' ELSE ltrim(cents || repeat('0', token_decimal), '0') END
      |           AS quantity_raw
      |  FROM base
      |  UNION ALL
      |  SELECT DISTINCT contract_address, '0xwhale', token_decimal, 64800, repeat('9', 40)
      |  FROM base),
      |latest AS (SELECT contract_address, MAX(bucket_unix) AS b
      |           FROM holders GROUP BY contract_address),
      |ranked AS (
      |  SELECT h.*, RANK() OVER (
      |           PARTITION BY h.contract_address, h.bucket_unix
      |           ORDER BY length(h.quantity_raw) DESC, h.quantity_raw DESC,
      |                    h.holder_address ASC) AS rnk
      |  FROM holders h JOIN latest l
      |    ON l.contract_address = h.contract_address AND l.b = h.bucket_unix)
      |""".stripMargin

  val oracles: Map[String, String] = Map(
    "top100_domain" -> (holdersCte +
      """SELECT contract_address, bucket_unix, CAST(rnk AS BIGINT) AS rnk, holder_address,
        |       CAST(quantity_raw AS DOUBLE) / power(10.0, token_decimal) AS balance
        |FROM ranked WHERE rnk <= 100
        |ORDER BY contract_address, rnk, holder_address""".stripMargin),
    // Oracle domain note: the two-limb HUGEINT split is exact only up
    // to ~56 digits (hi = leading digits beyond the low 18 must fit
    // HUGEINT's 38-digit range); the Spark side (SumBigUInt) is exact
    // at ANY width up to the full NUMERIC(78,0) domain. The fixture's
    // 40-digit whale sits comfortably inside the oracle's range — the
    // gate restricts the ORACLE's input domain, not the operator's.
    "top100_holdings" -> (holdersCte +
      """, top AS (SELECT contract_address, bucket_unix, quantity_raw
        |          FROM ranked WHERE rnk <= 100),
        |limbs AS (
        |  SELECT contract_address, bucket_unix,
        |         CAST(CASE WHEN length(quantity_raw) > 18
        |              THEN substr(quantity_raw, 1, length(quantity_raw) - 18)
        |              ELSE '0' END AS HUGEINT) AS hi,
        |         CAST(CASE WHEN length(quantity_raw) > 18
        |              THEN substr(quantity_raw, length(quantity_raw) - 17, 18)
        |              ELSE quantity_raw END AS HUGEINT) AS lo
        |  FROM top),
        |sums AS (
        |  SELECT contract_address, bucket_unix, COUNT(*) AS n_top,
        |         SUM(hi) AS sh, SUM(lo) AS sl
        |  FROM limbs GROUP BY contract_address, bucket_unix)
        |SELECT contract_address, bucket_unix, CAST(n_top AS BIGINT) AS n_top,
        |       CASE WHEN sh + sl // 1000000000000000000 = 0
        |            THEN CAST(sl % 1000000000000000000 AS VARCHAR)
        |            ELSE CAST(sh + sl // 1000000000000000000 AS VARCHAR) ||
        |                 lpad(CAST(sl % 1000000000000000000 AS VARCHAR), 18, '0')
        |       END AS total_raw
        |FROM sums
        |ORDER BY contract_address, bucket_unix""".stripMargin),
    "top100_refresh" -> (holdersCte +
      """SELECT contract_address, bucket_unix, CAST(rnk AS BIGINT) AS rnk, holder_address
        |FROM ranked WHERE rnk <= 100
        |ORDER BY contract_address, rnk, holder_address""".stripMargin),
    "holders_upsert" -> (holdersCte +
      """SELECT contract_address, bucket_unix, COUNT(*) AS n,
        |       COUNT(DISTINCT holder_address) AS n_holders,
        |       CAST(SUM(token_decimal + 1) AS BIGINT) AS sum_dec,
        |       CAST(SUM(length(quantity_raw)) AS BIGINT) AS sum_len
        |FROM holders GROUP BY contract_address, bucket_unix
        |ORDER BY contract_address, bucket_unix""".stripMargin),
    "tx_insert_ignore" ->
      """WITH pa AS (SELECT DISTINCT CAST(floor(event_id / 2.0) AS BIGINT) AS p
        |            FROM events WHERE event_id % 2 = 0),
        |pb AS (SELECT DISTINCT CAST(floor(event_id / 2.0) AS BIGINT) AS p
        |       FROM events WHERE event_id % 2 = 1),
        |extra AS (SELECT p FROM pb EXCEPT SELECT p FROM pa),
        |fin AS (SELECT p, TRUE AS null_ti FROM pa
        |        UNION ALL SELECT p, FALSE FROM extra)
        |SELECT COUNT(*) AS n, COUNT(DISTINCT '0xt' || CAST(p AS VARCHAR)) AS n_hash,
        |       CAST(SUM(p) AS BIGINT) AS total,
        |       CAST(SUM(CASE WHEN null_ti THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ti
        |FROM fin""".stripMargin,
    "cursor_store" ->
      """WITH a AS (SELECT 'w' || CAST(user_id % 10 AS VARCHAR) AS stream,
        |                  MAX(event_id) AS b, CAST(COUNT(*) AS INTEGER) AS p
        |           FROM events WHERE event_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT 'w' || CAST(user_id % 10 AS VARCHAR) AS stream,
        |             MAX(event_id) AS b, CAST(COUNT(*) AS INTEGER) AS p
        |      FROM events WHERE event_id % 3 = 0 GROUP BY 1)
        |SELECT stream,
        |       GREATEST(COALESCE(a.b, 0), COALESCE(b.b, 0)) AS last_scanned_block,
        |       CAST(GREATEST(COALESCE(a.p, 0), COALESCE(b.p, 0)) AS INTEGER) AS last_page,
        |       CASE WHEN b.stream IS NOT NULL THEN '{"v":2}' ELSE '{"v":1}' END AS metadata
        |FROM a FULL OUTER JOIN b USING (stream)
        |ORDER BY stream""".stripMargin,
    "schema_adapt" ->
      """SELECT * FROM (VALUES
        |  ('ref_ddl', 'bucket', 'bucket_start_utc', FALSE),
        |  ('ref_ddl', 'contract', 'contract_address', FALSE),
        |  ('ref_ddl', 'holder', 'holder_address', FALSE),
        |  ('ref_ddl', 'rank', 'rnk', FALSE),
        |  ('ref_ddl', 'decimals', 'token_decimal', FALSE),
        |  ('ref_ddl', 'balance_raw', 'balance_raw', FALSE),
        |  ('ref_ddl', 'balance', 'balance', FALSE),
        |  ('ref_ddl', 'inserted_at', 'inserted_at', FALSE),
        |  ('alt_bytea', 'bucket', 'asof', FALSE),
        |  ('alt_bytea', 'contract', 'token', TRUE),
        |  ('alt_bytea', 'holder', 'owner_address', TRUE),
        |  ('alt_bytea', 'rank', 'position', FALSE),
        |  ('alt_bytea', 'decimals', 'token_decimals', FALSE),
        |  ('alt_bytea', 'balance_raw', 'qty_raw', FALSE),
        |  ('alt_bytea', 'balance', 'qty', FALSE),
        |  ('minimal_mixed', 'contract', 'contract', FALSE),
        |  ('minimal_mixed', 'holder', 'address', TRUE),
        |  ('minimal_mixed', 'rank', 'rank', FALSE),
        |  ('minimal_mixed', 'decimals', 'decimals', FALSE),
        |  ('minimal_mixed', 'balance_raw', 'balance_base_units', FALSE),
        |  ('minimal_mixed', 'balance', 'balance_decimal', FALSE))
        |  AS t(variant, field, dest_column, is_binary)
        |ORDER BY variant, field""".stripMargin,
    "hex_decode" ->
      """WITH base AS (
        |  SELECT '0x' || md5('0x' || lower(c_mktsegment)) AS contract_address,
        |         '0x' || md5('0xh' || CAST(c_custkey AS VARCHAR)) AS holder_address,
        |         CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 6
        |              WHEN 'FURNITURE' THEN 8 ELSE 18 END AS token_decimal,
        |         21600 * (c_custkey % 4) AS bucket_unix,
        |         CAST(CAST(floor(abs(c_acctbal) * 100) AS BIGINT) AS VARCHAR) AS cents
        |  FROM customer),
        |holders AS (
        |  SELECT contract_address, holder_address, token_decimal, bucket_unix,
        |         CASE WHEN ltrim(cents || repeat('0', token_decimal), '0') = ''
        |              THEN '0' ELSE ltrim(cents || repeat('0', token_decimal), '0') END
        |           AS quantity_raw
        |  FROM base
        |  UNION ALL
        |  SELECT DISTINCT contract_address, '0x' || md5('0xwhale'), token_decimal,
        |         64800, repeat('9', 40)
        |  FROM base),
        |latest AS (SELECT contract_address, MAX(bucket_unix) AS b
        |           FROM holders GROUP BY contract_address),
        |ranked AS (
        |  SELECT h.*, RANK() OVER (
        |           PARTITION BY h.contract_address, h.bucket_unix
        |           ORDER BY length(h.quantity_raw) DESC, h.quantity_raw DESC,
        |                    h.holder_address ASC) AS rnk
        |  FROM holders h JOIN latest l
        |    ON l.contract_address = h.contract_address AND l.b = h.bucket_unix)
        |SELECT base64(unhex(substr(contract_address, 3))) AS token_b64,
        |       CAST(octet_length(unhex(substr(contract_address, 3))) AS INTEGER)
        |         AS token_len,
        |       CAST(rnk AS BIGINT) AS position,
        |       base64(unhex(substr(holder_address, 3))) AS owner_b64,
        |       token_decimal AS token_decimals,
        |       quantity_raw AS qty_raw,
        |       CAST(bucket_unix AS BIGINT) AS asof_unix
        |FROM ranked WHERE rnk <= 100
        |ORDER BY token_b64, position, owner_b64""".stripMargin,
    "job_audit" ->
      """SELECT * FROM (VALUES
        |  ('alpha', 'success', '{"rows":42}', CAST(NULL AS VARCHAR), TRUE),
        |  ('beta', 'error', '{}', 'boom', TRUE),
        |  ('gamma', 'running', '{}', CAST(NULL AS VARCHAR), FALSE))
        |  AS t(job_name, status, stats, error, has_finished)
        |ORDER BY job_name""".stripMargin)
}
