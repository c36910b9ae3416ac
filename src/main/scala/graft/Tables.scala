package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-checked readers for the driver-generated test tables
  * (TESTDATA.md). Explicit StructTypes per SURVEY §1.2 ("fixed, explicit
  * DDL schema — never inferSchema for core tables"); readers assert the
  * on-disk schema matches so drift fails loudly at the boundary instead
  * of deep inside a query.
  *
  * At 100 TB these would be partitioned-directory datasets; here each
  * table is one parquet file. All readers go through [[table]] so a
  * future partition layout only changes one place.
  */
object Tables {

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "lineitem" -> lineitemSchema, "orders" -> ordersSchema,
    "customer" -> customerSchema, "supplier" -> supplierSchema,
    "part" -> partSchema, "nation" -> nationSchema,
    "region" -> regionSchema, "events" -> eventsSchema,
    "documents" -> documentsSchema, "embeddings" -> embeddingsSchema)

  /** Read a named test table from `dir`, asserting column names match the
    * declared schema (types are left to the vectorized parquet reader —
    * timestamp NTZ/LTZ and ns/us physical types vary by writer).
    *
    * The resolved DataFrame is cached per (session, dir, table): a
    * `spark.read.parquet` re-lists the directory and re-reads parquet
    * footers for schema inference EVERY call, which at bench scale is a
    * fixed ~50-150 ms tax on every query over the same static tables.
    * A real deployment holds these relations in a catalog (metastore /
    * DataSourceV2 table) whose FileIndex is resolved once — the cache
    * is that catalog for the file-path surface. Only these STATIC
    * input tables cache; mutable store tables ([[graft.domain.MerlStore]])
    * never pass through here and always re-list.
    */
  private val resolved = SessionCache.frames[(String, String)]

  /** Opt-in hot-table cache for long-lived service shapes (Bench):
    * static input tables are additionally REPARTITIONED to the core
    * count and persisted in Spark's columnar cache on first touch.
    *
    * Why repartition: the local fixtures are single-row-group parquet
    * files, and a row group is Spark's minimum split — every scan
    * decodes AND partially aggregates on ONE core while the rest of
    * the machine idles (DuckDB parallelizes inside a row group, Spark
    * cannot). Caching through a core-count exchange pays that serial
    * decode ONCE per session and gives every subsequent query a fully
    * parallel in-memory columnar input — the same shape a 100 TB
    * deployment gets naturally from thousands of row groups, so
    * nothing here papers over a scale problem; it removes a
    * single-file fixture artifact. Cold-pass timings include the cache
    * build; steady-pass timings are the long-lived-service numbers.
    */
  private val inputCache = new java.util.concurrent.atomic.AtomicBoolean(false)
  def enableInputCache(): Unit = inputCache.set(true)

  /** Only the RELATIONAL tables cache: their queries are scan/agg/join
    * shapes where the single-row-group serial decode dominates. The
    * text/vector pipelines (documents, embeddings) are compute-bound —
    * tokenization and signature math dwarf the decode — and their
    * measured plans are better from the file scan (a cached relation's
    * precise small stats push Catalyst toward static broadcasts of
    * explode-derived frames, which the operators pin against; and the
    * columnar cache's string materialization measurably loses to
    * re-decoding parquet for explode-heavy consumers — re-confirmed
    * after the codegen-cache fix: simhash 2.2 s from the file scan vs
    * 4.2 s from cache).
    */
  private val cacheable: Set[String] =
    Set("lineitem", "orders", "customer",
      "supplier", "part", "nation", "region", "events")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved.getOrElseUpdate(spark, (dir, name)) {
      val df = load(spark, dir, name)
      if (inputCache.get && cacheable(name))
        df.repartition(spark.sparkContext.defaultParallelism)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events fixture carries INT64 TIMESTAMP(NANOS) — illegal for
    // Spark's parquet reader. Read nanos as Long, then convert to a
    // microsecond timestamp (truncation matches DuckDB's epoch floor).
    val df0 =
      if (name == "events") {
        // GraftSession sets nanosAsLong at build time; sessions we did
        // not construct (the driver's smoke session) may lack it, so
        // set-if-absent here rather than fail deep in the scan.
        if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // The round-11 fixture stores TIMESTAMP(MICROS) with
        // isAdjustedToUTC=false. With NTZ inference ON that resolves
        // as TIMESTAMP_NTZ, and converting it to an instant would go
        // through the SESSION timezone — correct under GraftSession
        // (UTC) but silently shifted on a foreign non-UTC session.
        // Disabling inference makes the reader deliver the stored
        // micros as a timezone-free TimestampType instant — exactly
        // DuckDB's naive-as-UTC reading — on every session. The conf
        // is schema-INFERENCE-scoped (the resolved relation pins its
        // catalyst schema; scan-time conversion follows the requested
        // type), so it is saved/restored around resolution — same
        // discipline as registerCatalog — instead of permanently
        // flipping a foreign session's unrelated NTZ parquet reads.
        val raw = withConfs(spark, NtzKey -> "false") {
          val df = spark.read.parquet(s"$dir/$name.parquet")
          df.schema // force eager schema resolution under the conf
          df
        }
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(eventsTs(raw)))
      } else spark.read.parquet(s"$dir/$name.parquet")
    val expected = schemas(name).fieldNames.toSeq
    require(df0.columns.toSeq == expected,
      s"$name schema drift: got ${df0.columns.mkString(",")}, want ${expected.mkString(",")}")
    df0
  }

  private val NtzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** The events `ts` as a microsecond TIMESTAMP, a SQL expression over
    * the resolved raw column. The encoding has varied across driver
    * rounds: INT64 TIMESTAMP(NANOS) (illegal for Spark's reader — read
    * as BIGINT via nanosAsLong, floored to micros like DuckDB) vs
    * TIMESTAMP(MICROS) (TimestampType with NTZ inference off; the NTZ
    * branch remains only for a session that explicitly pinned
    * inference on — that session's timezone is then its own choice).
    * Dispatch on the resolved type so every vintage loads identically.
    */
  private def eventsTs(raw: DataFrame): String = raw.schema("ts").dataType match {
    case LongType         => "timestamp_micros(ts div 1000)"
    case TimestampNTZType => "CAST(ts AS TIMESTAMP)"
    case _                => "ts"
  }

  /** Run `body` with `confs` set on `spark`, then restore each key's
    * previous value (or unset it), so a caller's session is never
    * silently mutated.
    */
  private def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Spread a frame across the cluster's cores for a CPU-dense stage
    * (tokenization, signature aggregates, vector math). Explicit
    * numPartitions pins the exchange against AQE's byte-based
    * coalescing: for compute-per-byte-heavy data, partition count must
    * follow CORES, not bytes — a 100 KB text partition can carry
    * seconds of regex work, and byte-targeting AQE would serialize it.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Register `dir`'s fixture tables as EXTERNAL parquet tables in a
    * per-dir database and ANALYZE them — table-level row/byte counts
    * plus (opt-out) all-column NDV/min/max stats — so Catalyst sizes
    * joins from REAL catalog statistics (broadcast decisions, CBO join
    * reordering when `spark.sql.cbo.enabled` is on) instead of raw
    * file-size guesses. This is the metastore shape a 100 TB
    * deployment runs with; the path-based readers above stay the
    * zero-setup default, and the `shuffle_hash` pins on the pair
    * self-joins remain in force as the safety net either way
    * (ExplainSpec asserts both: stats-driven broadcasts appear, pins
    * survive stats).
    *
    * `events` needs its nanos→micros conversion, which ANALYZE cannot
    * see through a view — so the RAW file registers as `events_raw`
    * (stats land there) and `events` is a conversion VIEW over it;
    * Catalyst propagates the underlying column stats through the
    * projection.
    *
    * Idempotent; returns the database name (`graft_<sanitized dir>`).
    */
  def registerCatalog(spark: SparkSession, dir: String,
                      columnStats: Boolean = true): String = {
    val db = "graft_" + dir.replaceAll("[^a-zA-Z0-9]+", "_")
      .stripPrefix("_").stripSuffix("_")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    def registerAndAnalyze(tbl: String, file: String): Unit = {
      // single quotes in the path would terminate the LOCATION string
      // literal — escape them (SQL doubling) before embedding
      val loc = s"$dir/$file".replace("'", "''")
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS $db.$tbl USING parquet LOCATION '$loc'")
      spark.sql(s"ANALYZE TABLE $db.$tbl COMPUTE STATISTICS")
      if (columnStats) {
        // ANALYZE FOR COLUMNS rejects nested types (array<float>
        // embeddings) — collect NDV/min/max for the flat columns only
        val atomic = spark.table(s"$db.$tbl").schema.fields.collect {
          case f if !f.dataType.isInstanceOf[ArrayType] &&
            !f.dataType.isInstanceOf[MapType] &&
            !f.dataType.isInstanceOf[StructType] => f.name
        }
        if (atomic.nonEmpty)
          spark.sql(s"ANALYZE TABLE $db.$tbl COMPUTE STATISTICS FOR COLUMNS " +
            atomic.mkString(", "))
      }
    }
    schemas.keySet.filterNot(_ == "events").toSeq.sorted
      .foreach(n => registerAndAnalyze(n, s"$n.parquet"))
    // events: nanos TIMESTAMP — stats on the raw table, view converts.
    // The confs are needed while ANALYZE scans the file (nanosAsLong;
    // NTZ inference off for the micros vintage, see load), scoped so
    // registration doesn't silently mutate a caller's session.
    // SCANNING $db.events later needs nanosAsLong too — GraftSession
    // sets it at build, and the Tables.load path set-if-absents it for
    // foreign sessions; only ad-hoc SQL over the view on a session with
    // the conf explicitly false would fail, which is that session's choice.
    withConfs(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true", NtzKey -> "false") {
      registerAndAnalyze("events_raw", "events.parquet")
    }
    spark.sql(
      s"""CREATE OR REPLACE VIEW $db.events AS
         |SELECT event_id, ${eventsTs(spark.table(s"$db.events_raw"))} AS ts,
         |       user_id, event_type, value, props
         |FROM $db.events_raw""".stripMargin)
    db
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
