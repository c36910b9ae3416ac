package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Automated plan audit: the properties a human would check with
  * `.explain("formatted")` on the headline queries — pushed filters,
  * broadcast joins, window-group-limit pushdown, distributed top-K,
  * column pruning, codegen — asserted on plan strings so a plan
  * regression fails CI instead of waiting for a bench run to look
  * slow.
  *
  * Assertions target sf0.001 (planning is data-size independent for
  * these properties; AQE runtime re-planning is not what is audited).
  */
class ExplainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("catalog + ANALYZE stats: joins size from real statistics, hint pins stay in force") {
    import graft.operators.Dedup
    val db = Tables.registerCatalog(spark, dir)
    val prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    val prevReorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // ANALYZE's row-count stats must actually land in the catalog
      // and reach the optimizer (rowCount surfaces under CBO)
      val stats = spark.table(s"$db.nation").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong == 25L),
        s"ANALYZE must surface the exact nation row count, got $stats")
      // star over CATALOG relations, NO broadcast() hints anywhere:
      // the dims must broadcast purely from their analyzed sizes
      val p = spark.sql(
        s"""SELECT n.n_name, count(*) AS n, sum(o.o_totalprice) AS total
           |FROM $db.orders o
           |JOIN $db.customer c ON o.o_custkey = c.c_custkey
           |JOIN $db.nation n ON c.c_nationkey = n.n_nationkey
           |JOIN $db.region r ON n.n_regionkey = r.r_regionkey
           |WHERE o.o_orderstatus = 'F' AND r.r_name = 'ASIA'
           |GROUP BY n.n_name""".stripMargin)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(count(p, "BroadcastHashJoin") >= 3,
        s"analyzed dims must broadcast from real stats, no hints:\n$p")
      assert(!p.contains("CartesianProduct"), s"no cross products under CBO:\n$p")

      // and the anti-driver-broadcast pins survive stats + CBO: the
      // pair self-join over a precisely-known-small catalog table must
      // STILL plan shuffled
      val docs = spark.table(s"$db.documents")
      val pins = Dedup.minhashCandidates(docs, col("doc_id"), col("text"),
        shingleLen = 3, bands = 8, rowsPerBand = 4)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(pins.contains("ShuffledHashJoin"),
        s"shuffle_hash pin must survive catalog stats + CBO:\n$pins")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prev)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prevReorder)
    }
  }

  test("star_join: dims broadcast, status filter pushed to the orders scan, fact columns pruned") {
    val p = plan("star_join")
    assert(count(p, "BroadcastHashJoin") >= 3, s"expected >=3 broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), "star join must never cross-product")
    assert(p.contains("EqualTo(o_orderstatus,F)"),
      s"o_orderstatus = 'F' must reach the parquet scan as a pushed filter:\n$p")
    assert(!p.contains("l_partkey"),
      "lineitem scan must prune to the join/agg columns (no l_partkey)")
  }

  test("semi_join: IN-subquery is a broadcast left-semi with the price filter pushed down") {
    val p = plan("semi_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"expected broadcast left-semi join:\n$p")
    assert(p.contains("GreaterThan(o_totalprice,300000.0)"),
      s"o_totalprice > 300000 must be a pushed filter on the orders scan:\n$p")
  }

  test("q1_agg: partial+final aggregation, pruned scan, whole-stage codegen") {
    val p = plan("q1_agg")
    assert(count(p, "HashAggregate") >= 2,
      s"expected map-side partial + final hash aggregate:\n$p")
    assert(!p.contains("l_partkey") && !p.contains("l_suppkey"),
      "lineitem scan must read only the 5 aggregation columns")
    // codegen spans only appear once AQE has finalized the plan —
    // execute THIS df (a write would clone the QueryExecution), then
    // audit its executed plan
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the "*(n)" stage prefix — the
    // AGGREGATE itself must be inside a codegen stage, not merely
    // coexist with one
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(executed).isDefined,
      s"the hash aggregate must be inside whole-stage codegen:\n$executed")
  }

  test("top100_rank: rank<=k is pushed into the shuffle as WindowGroupLimit") {
    val p = plan("top100_rank")
    assert(p.contains("WindowGroupLimit"),
      s"RANK <= 100 must plan as partial+final WindowGroupLimit, not filter-after-window:\n$p")
    assert(!p.contains("WindowExec: No Partition Defined"),
      "the ranking window must be partitioned (single-partition window cannot scale)")
  }

  test("top_movers: global order-by + limit plans as distributed TakeOrderedAndProject") {
    val p = plan("top_movers")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must be a per-partition heap + driver merge, not a global sort:\n$p")
  }

  test("window_funcs: the analytics window is partitioned by user") {
    val p = plan("window_funcs")
    val windowSection = "(?s)\\(\\d+\\) Window.*?Arguments:.*?\\[user_id#\\d+L?\\]".r
    assert(windowSection.findFirstIn(p).isDefined,
      s"window must carry the user_id partition spec (a global window cannot scale):\n$p")
  }

  test("dedup_exact: the fingerprint groupBy prunes the documents scan to id+text") {
    val p = plan("dedup_exact")
    assert(!p.contains("source") && !p.contains("n_chars"),
      "documents scan must not read unused columns")
    assert(count(p, "HashAggregate") >= 2,
      s"fingerprint dedup must partial-aggregate map-side:\n$p")
  }

  test("knn_bruteforce: queries broadcast; corpus is never shuffled by a join key") {
    val p = plan("knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"exact scoring must broadcast the probe set over one corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      "corpus x queries must not be a partitioned cartesian product")
  }

  test("vocab_topk: global top-50 plans as distributed TakeOrderedAndProject with partial aggs") {
    val p = plan("vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"corpus top-K must be a per-partition heap + driver merge, not a global sort:\n$p")
    assert(count(p, "HashAggregate") >= 2,
      s"token counting must partial-aggregate map-side:\n$p")
  }

  test("asof_join: one keyed window over a union — never a range θ-join") {
    val p = plan("asof_join")
    // formatted explain prints each node twice (tree line + detail
    // block) → one physical Window node == exactly 2 occurrences
    assert(count(p, "Window") == 2,
      s"as-of must be a single keyed window pass:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not explode into a range θ-join:\n$p")
    assert(p.contains("EqualTo(event_type,purchase)") &&
      p.contains("EqualTo(event_type,click)"),
      s"both side filters must reach their parquet scans:\n$p")
  }

  test("asof_join_skewed: every window partitions by (key, bucket) — a hot key can never serialize one task") {
    // Since round 9 the QUERY routes through asOfJoinAuto, whose probe
    // correctly picks the PLAIN path on this unskewed corpus — so the
    // bucketed-machinery plan contract is pinned on the operator with
    // the skew decision forced, same inputs as the query.
    val ev = graft.Tables.events(spark, dir)
      .withColumn("epoch_s", unix_timestamp(col("ts").cast("timestamp")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("epoch_s").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("epoch_s").as("cts"))
      .agg(max(col("event_id")).as("click_id"))
    val p = graft.operators.Temporal.asOfJoinSkewed(purchases, clicks,
        Seq("user_id"), "pts", "cts", bucketWidth = 3600L, rightPrefix = "m_")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the match window (the one ordered by __ts, which sees every data
    // row) must partition by BOTH the key and the coarse bucket; a
    // key-only partition would re-create the hot-key serialization
    // this operator exists to break. Window detail lines print as
    // `Arguments: [...], [partitionCols], [orderCols]`.
    val tsWindows = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") &&
        "\\], \\[[^\\]]*__ts#\\d+L? ASC[^\\]]*\\]\\s*$".r.findFirstIn(l).isDefined).toSeq
    assert(tsWindows.nonEmpty, s"expected a __ts-ordered match window in:\n$p")
    tsWindows.foreach { l =>
      val part = "\\], \\[([^\\]]*)\\], \\[[^\\]]*\\]\\s*$".r
        .findFirstMatchIn(l).map(_.group(1)).getOrElse("")
      assert(part.contains("__bkt#"),
        s"the match window must partition by (key, bucket); got partition [$part] in:\n$l")
    }
    assert(count(p, "Window") >= 2 && count(p, "Window") <= 6,
      s"expected the carry window + the bucketed match window, got:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"skewed as-of must stay equi-join/window shaped:\n$p")
    // the per-bucket last-right aggregate must partial-aggregate
    assert(count(p, "HashAggregate") >= 2 || count(p, "SortAggregate") >= 2,
      s"per-bucket right aggregation must have map-side partials:\n$p")

    // and the QUERY itself (auto path, unskewed corpus) must have
    // selected the plain single-window plan — no carry machinery
    val auto = plan("asof_join_skewed")
    assert(!auto.contains("__bkt#") && count(auto, "Window") == 2,
      s"auto path on unskewed data must take the plain single-window plan:\n$auto")
  }

  test("range_join: bucketed candidates meet on an equi-join, never a nested loop") {
    val p = plan("range_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"),
      s"bucketed range join must plan as an equi hash/merge join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join must never fall back to a nested loop:\n$p")
  }

  test("quality_topk: rank<=k is bounded map-side AND post-shuffle (WindowGroupLimit)") {
    val p = plan("quality_topk")
    assert(count(p, "WindowGroupLimit") >= 2,
      s"per-source top-K must keep bounded candidates on both sides of the shuffle:\n$p")
  }

  test("doc_chunks: chunking is a pure explode — no join, no aggregate") {
    val p = plan("doc_chunks")
    assert(p.contains("Generate") && !p.contains("Join") &&
      !p.contains("HashAggregate"),
      s"chunking must not shuffle or aggregate:\n$p")
  }

  test("pair-generation self-joins stay shuffled even from a cached (precise-stats) input") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    // A persisted relation hands Catalyst precise small stats; without
    // the hint pins it statically chose BroadcastHashJoin for the pair
    // self-joins — i.e. a whole corpus' exploded signatures as a driver
    // broadcast build side (measured +60% locally; OOM at scale).
    val docs = Tables.documents(spark, dir).repartition(4).persist()
    docs.count()
    try {
      val shapes = Seq(
        "minhash" -> Dedup.minhashCandidates(docs, col("doc_id"), col("text"),
          shingleLen = 3, bands = 8, rowsPerBand = 4),
        "simhash" -> Dedup.simhashPairs(docs, col("doc_id"), col("text"),
          maxDist = 3, maxPieceFreq = 1000L))
      for ((name, df) <- shapes) {
        val p = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        assert(p.contains("ShuffledHashJoin"),
          s"$name pair self-join must be a shuffled join, not a broadcast:\n$p")
      }
      // the round-15 ngram pair build keeps the pinned shuffled
      // self-join but Bloom-prunes singleton grams map-side BEFORE the
      // pair exchange (the Decontam pre-shuffle shape) — pin both: the
      // join stays shuffled, and the membership test sits in the plan
      val pNgram = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          n = 3, threshold = 0.5)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(pNgram.contains("ShuffledHashJoin"),
        s"ngram pair self-join must be a shuffled join, not a broadcast:\n$pNgram")
      assert(pNgram.contains("might_contain"),
        s"ngram pair stream must be Bloom-pruned pre-shuffle:\n$pNgram")
    } finally docs.unpersist(blocking = false)
  }

  test("scrubByFrozenGrams: a small frozen gram set still broadcasts without the forced hint") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    import graft.functions.TextFns
    // Round-14 removed the forced broadcast() on the frozen-gram join
    // (a minOcc=1 gram set grows with the reference, and a forced
    // hint would OOM the driver on a large one). The firewall's hot
    // path — a SMALL frozen set from driver rows (a LocalRelation
    // with exact stats) — must still plan as a broadcast join, or
    // every micro-batch pays a two-sided exchange for a 3-row table.
    val ss = spark; import ss.implicits._
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__toks"))
    val dupGrams = Seq(1L, 2L, 3L).toDF("gram")
    val p = Dedup.scrubByFrozenGrams(toks, dupGrams, k = 8)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"small frozen gram set must broadcast into the gram join:\n$p")
  }

  test("zorder_key: the Morton expression stays inside whole-stage codegen") {
    val df = SparkEntry.queries("zorder_key")(spark, dir)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("graft_zorder"), s"missing zorder expr:\n$executed")
    // the projection computing the z-address must carry the codegen
    // stage prefix — a fallback to interpreted eval here puts O(rows)
    // boxing on the clustering path
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(executed).isDefined,
      s"z-address projection must be codegen'd:\n$executed")
    assert(executed.contains("TakeOrderedAndProject"),
      s"ordered limit must plan distributed, not global sort:\n$executed")
  }

  test("shard_shuffle: one hash exchange on shard, never a global total-order sort") {
    val p = plan("shard_shuffle")
    // the window partitions by shard — its exchange is hashpartitioning,
    // and the only rangepartitioning allowed is the final presentation
    // ORDER BY (which a sink would drop)
    assert(p.contains("hashpartitioning(shard"),
      s"per-shard window must hash-partition by shard:\n$p")
    assert(count(p, "rangepartitioning") <= 1,
      s"only the presentation sort may range-partition:\n$p")
  }

  test("text_repetition: per-doc metrics are map-side — one exchange total (the presentation sort)") {
    // audit the canonical COLD plan: a prior suite in the same session
    // (e.g. ContractSpec's quality sweep) may have left the memoized
    // token frame persisted, and a cached-relation scan prints its
    // build plan's exchanges too — suite-order-dependent counts
    SessionCache.evictSession(spark)
    val p = plan("text_repetition")
    // the former shape paid FOUR aggregate exchanges (two explode →
    // two-level groupBy pipelines); the expression fold leaves only
    // the shared input staging (Tables.spread's row-group-spreading
    // round robin) and the final ORDER BY's range exchange. Formatted
    // plans print each node twice (tree + detail), hence <= 4 matches
    // for <= 2 exchange NODES.
    assert(count(p, "Exchange") <= 4, s"expected <=2 exchange nodes:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"no aggregate may remain in the per-doc metric path:\n$p")
  }

  test("vocab_topk_mg: the MG aggregate plans with a map-side partial") {
    import org.apache.spark.sql.functions.{col, explode}
    val toks = Tables.documents(spark, dir)
      .select(explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("t"))
    val agg = toks.agg(graft.operators.HeavyHitters.mgSketch(col("t"), 64))
    val p = agg.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // TypedImperativeAggregate must run as ObjectHashAggregate with a
    // partial phase: each partition ships ONE <=capacity summary, not
    // its rows
    assert(p.contains("ObjectHashAggregate"), s"expected object hash agg:\n$p")
    assert(p.toLowerCase.contains("partial_graft_mg"),
      s"MG must have a map-side partial phase:\n$p")
  }

  test("winnow_fps: fingerprinting is map-side — selection never explodes into a per-gram shuffle") {
    val p = plan("winnow_fps")
    // graft_winnow does hash + window selection inside the projection;
    // the only exchanges are the per-doc aggregate's partial/final
    // boundary and the presentation sort. A per-gram window shuffle
    // (the naive posexplode + windowed-MIN formulation the oracle
    // uses) would add a doc-keyed range/hash exchange BEFORE any
    // aggregate and a Window node — neither may appear. Formatted
    // plans print each node twice (tree + detail), so <= 4 string
    // matches bounds <= 2 exchange NODES (same convention as the
    // text_repetition audit above).
    assert(p.contains("graft_winnow"), s"native expression missing:\n$p")
    assert(!p.contains("Window"), s"no window machinery may survive:\n$p")
    assert(count(p, "Exchange") <= 4, s"expected <=2 exchange nodes:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc aggregate must have a map-side partial:\n$p")
  }

  test("lm_perplexity: unigram side broadcasts; no cartesian anywhere in the model join") {
    val p = plan("lm_perplexity")
    // the c1 (bigram-start count) frame is explicitly broadcast into
    // the scoring join — a shuffled join there would move every doc
    // bigram a second time for a <=V+1-row build side
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"expected broadcast model joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"model counts must have map-side partials:\n$p")
  }

  test("ppl_buckets: tercile cutoffs join as a 1-row broadcast, never a shuffle") {
    val p = plan("ppl_buckets")
    // the crossJoin(broadcast(cut)) is the block_by_time pattern: a
    // single-row build side — the corpus is bucketed map-side
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cutoffs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
  }

  test("quality_model_score: scoring is one shuffle-free projection plus the presentation sort") {
    // evict the session token cache first: a sibling test may have
    // warmed it, and the cached relation's internal (spread) exchange
    // prints into the formatted plan, inflating the string count this
    // contract bounds — assert the canonical COLD shape
    SessionCache.evictSession(spark)
    val p = plan("quality_model_score")
    // feature hash + weight fold + sigmoid all fold per-row; the only
    // exchanges are Tables.spread's round-robin (fixture parallelism)
    // and the orderBy's range exchange (<= 4 string matches = 2 nodes
    // under the tree+detail double-print convention). A weight-table
    // join or a per-token explode/aggregate formulation would add
    // hash exchanges and aggregates — neither may appear.
    assert(count(p, "Exchange") <= 4, s"expected spread + sort exchanges only:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"no aggregate may appear in the scoring path:\n$p")
    assert(!p.contains("Join"), s"weights must be literals, not a join:\n$p")
  }

  test("decontam_winnow: bloom membership prunes pre-shuffle; corpus fingerprinted in the scan") {
    val p = plan("decontam_winnow")
    assert(p.contains("might_contain"),
      s"bloom prune missing from the train-side scan:\n$p")
    assert(p.contains("graft_winnow"), s"native expression missing:\n$p")
  }

  test("two-level auto quantizer: hier assignment stays inside whole-stage codegen, no join") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions._
    val corpus = (0 until 300).map { i =>
      (100L + i, Array.tabulate(8)(d =>
        (if (d == i % 4) 5.0 else math.sin(i * 7 + d) * 0.3).toFloat))
    }.toDF("neighbor_id", "embedding").localCheckpoint()
    val cents = graft.operators.Similarity.kmeansCentroidsAuto(
      corpus.select(col("embedding")), hierThreshold = 1)
    val queries = corpus.limit(5)
      .select(col("neighbor_id").as("query_id"), col("embedding"))
      .localCheckpoint()
    val df = graft.operators.Similarity.ivfTopKWithCentroids(
      queries, corpus, cents, k = 3, nProbe = 2, nAssign = 2)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("graft_ivf_assign_hier"),
      s"two-level frame must assign through IvfAssignHier:\n$executed")
    // the corpus-side assignment is a pure map — a generate over the
    // native expression inside a codegen stage, never a centroid join
    assert("\\*\\(\\d+\\) Generate explode\\(graft_ivf_assign_hier".r
      .findFirstIn(executed).isDefined,
      s"hier assignment explode must be codegen'd:\n$executed")
    assert(!executed.contains("BroadcastNestedLoopJoin"),
      s"quantizer must be driver-resident, not joined:\n$executed")
  }

  test("semantic_decontam: nearest-holdout scoring is map-side — broadcast join, no corpus exchange") {
    val p = plan("semantic_decontam")
    // the one join recovers the winning cosine from the driver-sized
    // holdout — it must broadcast; a shuffled join would put a
    // corpus-sized exchange on the scoring path
    assert(p.contains("BroadcastHashJoin"),
      s"holdout recovery must be a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffled join may appear on the corpus side:\n$p")
    // exchanges: Tables.spread's round-robin, the broadcast exchange,
    // and the presentation sort's range exchange (tree+detail
    // double-print => <= 6 string matches = 3 nodes); a groupBy-max
    // formulation would add a corpus-keyed hash exchange
    assert(count(p, "Exchange") <= 6, s"corpus must not shuffle for the argmax:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"the argmax is the native expression, never an aggregate:\n$p")
  }

  test("hex_decode: the schema adapter adds zero exchanges to the Top-100 plan") {
    // adaptedSelect (conditional unhex + renames + casts) is a plain
    // projection — the adapted plan must carry exactly the exchange
    // set of the underlying Top-100 query (latest-bucket broadcast,
    // rank window shuffle, presentation sort), nothing adapter-made
    val adapted = plan("hex_decode")
    val base = plan("top100_domain")
    assert(count(adapted, "Exchange") <= count(base, "Exchange"),
      s"adapter must not add exchanges:\nADAPTED:\n$adapted\nBASE:\n$base")
    // and the decode stays inside whole-stage codegen (built-in
    // unhex, never a UDF or interpreted projection on the hot path)
    // the decode is the codegen'd built-in unhex — never a UDF or an
    // interpreted projection on the hot path (AQE's pre-execution
    // formatted plan doesn't print codegen spans, so the contract is
    // the absence of codegen breakers, not the span marker)
    assert(!adapted.contains("BatchEvalPython") && !adapted.contains("ScalaUDF"),
      s"decode must be the codegen'd built-in:\n$adapted")
  }

  test("reports: every scan of the snapshot and activity reports prunes to the latest bucket_unix") {
    import graft.domain.{MerlStore, Top100}
    import graft.pipelines.Report
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val ss = spark; import ss.implicits._
    val store = new MerlStore(spark,
      java.nio.file.Files.createTempDirectory("explain_report").toString)
    val asOf = java.time.Instant.parse("2024-01-15T12:30:00Z")
    // two buckets of one token, each with its own Top-100 partition
    for (b <- Seq("2024-01-15T06:00:00Z", "2024-01-15T12:00:00Z")) {
      store.upsertHolders(Seq(("t", "0xabc", "0xw1", 18, "5"), ("t", "0xabc", "0xw2", 18, "3"))
        .toDF("trigger_id", "contract_address", "holder_address", "token_decimal", "quantity_raw")
        .withColumn("bucket_start_utc", lit(java.sql.Timestamp.from(java.time.Instant.parse(b))))
        .withColumn("bucket_unix", unix_timestamp(col("bucket_start_utc"))))
      store.refreshTop100(Top100.compute(store.read("holders_raw")))
    }
    Seq(("0xw1", "0xabc", "0xh1", "0xzz", "0xw1", "1000", java.sql.Timestamp.from(asOf)))
      .toDF("wallet_address", "contract_address", "tx_hash", "from_address", "to_address",
        "value_raw", "block_time_utc")
      .withColumn("value_18d", graft.functions.AmountFns.scale18(col("value_raw")))
      .write.partitionBy("contract_address").parquet(store.path("wallet_transactions"))

    val helper = new AdaptiveSparkPlanHelper {}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = helper.collectWithSubqueries(p) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    }.flatten
    def scansOf(report: => Unit): Map[String, Seq[FileSourceScanExec]] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          plans.add(qe.executedPlan)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try { report; org.apache.spark.sql.graftbridge.ListenerBus.drainListeners(spark.sparkContext) }
      finally spark.listenerManager.unregister(l)
      plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(scans)
        .groupBy(_.relation.location.rootPaths.head.getName)
    }
    def pruned(s: FileSourceScanExec): Boolean =
      s.partitionFilters.exists(_.references.exists(_.name == "bucket_unix"))
    val snap = scansOf(Report.snapshotData(spark, store, "0xABC"))
    val act = scansOf(Report.activityData(spark, store, "0xABC", asOf))
    for ((report, got, tables) <- Seq(("snapshot", snap, Seq("holders_raw", "refined_wallet_top100")),
                                      ("activity", act, Seq("refined_wallet_top100")));
         t <- tables) {
      assert(got.get(t).exists(_.nonEmpty), s"$report report never scanned $t: ${got.keys}")
      assert(got(t).forall(pruned),
        s"$report report scans $t without a bucket_unix partition filter:\n${got(t).mkString("\n")}")
    }
  }
}
