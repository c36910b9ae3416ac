package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Data-layout operators — the write-side half of 100 TB efficiency.
  * Read-side pruning (partition pruning, parquet min/max skipping,
  * pushed filters) is only as good as the layout the writers produced:
  * a table of 10 M tiny files or of files whose min/max spans the
  * whole key domain defeats every scan optimization this engine's
  * read paths rely on.
  *
  * Two production rules live here:
  *  - [[Layout.compact]]: size-targeted file compaction (the
  *    small-files problem) — pick the output partition count from the
  *    PLAN's size estimate, narrow-coalesce when shrinking so the fix
  *    itself costs no shuffle.
  *  - [[Layout.clusterByZOrder]]: multi-dimensional clustering — rows
  *    close in ALL clustered dimensions land in the same file, so
  *    min/max skipping prunes on ANY of them (the OPTIMIZE ZORDER
  *    rule; key math in [[graft.plans.ZInterleave]], a codegen'd
  *    native expression).
  *
  * Reference scope: the reference engine delegates layout to Postgres
  * heap tables + btree indexes (schema.sql); on a parquet data lake
  * the same role is played by file sizing + clustering, so these are
  * the Spark-native re-expression of that concern.
  */
object Layout {

  /** Z-address over already-rank-space long columns (each masked to
    * `63/n` low bits by the expression itself). */
  def zOrderKeyRaw(cols: Seq[Column]): Column =
    ColumnBridge.column(graft.plans.ZInterleave(
      cols.map(c => ColumnBridge.expression(c.cast("long")))))

  /** Z-address with affine min→max normalization of each dimension
    * into the full rank space, so dimensions with tiny or huge domains
    * interleave on equal footing. `stats` is one tiny driver-collected
    * row of (min, max) per column — O(dims) longs, never the data.
    *
    * The map runs in double precision: exact for spans < 2^53, and a
    * clustering key (not an answer) beyond — bit-identical layout is
    * not a correctness surface, pruning just degrades smoothly.
    */
  def zOrderKey(cols: Seq[Column], stats: Seq[(Long, Long)]): Column = {
    val bits = 63 / cols.size
    val maxRank = (1L << bits) - 1L
    val ranked = cols.zip(stats).map { case (c, (lo, hi)) =>
      val span = math.max(hi - lo, 1L).toDouble
      floor((c.cast("long") - lit(lo)).cast("double") / span * maxRank)
        .cast("long")
    }
    zOrderKeyRaw(ranked)
  }

  /** Cluster `df` into `nPartitions` z-ordered ranges over `cols`:
    * one min/max aggregate (a map-combinable scan, 2·dims longs to the
    * driver), then ONE range-exchange on the z-address and an in-
    * partition sort — the same cost as sorting by a single column,
    * but every written file gets tight min/max on ALL of `cols`.
    * Rows with a null in any dimension sort first (null z-address).
    */
  def clusterByZOrder(df: DataFrame, cols: Seq[String],
                      nPartitions: Int): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__lo_$c"),
      max(col(c).cast("long")).as(s"__hi_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head
    val stats = cols.indices.map { i =>
      (Option(r.get(2 * i)).fold(0L)(_ => r.getLong(2 * i)),
       Option(r.get(2 * i + 1)).fold(0L)(_ => r.getLong(2 * i + 1)))
    }
    df.withColumn("__z", zOrderKey(cols.map(col), stats))
      .repartitionByRange(nPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** [[clusterByZOrder]] with QUANTILE rank mapping — the skew-robust
    * variant: the affine min→max map hands a hot value most of the
    * rank space (one giant z-range swallows the row mass and range
    * partitioning degenerates), while per-dimension approxQuantile
    * boundaries give every bucket equal row mass by construction, so
    * partitions stay balanced under any value distribution. Boundary
    * computation is one bounded pass (Greenwald–Khanna sketch,
    * O(buckets) doubles to the driver); the per-row map is a
    * codegen'd binary search ([[graft.plans.BucketIndex]]).
    */
  def clusterByZOrderQuantile(df: DataFrame, cols: Seq[String],
                              nPartitions: Int,
                              buckets: Int = 1024): DataFrame = {
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(cols.toArray, probs, 0.001)
    val ranked = cols.zip(bounds).map { case (c, b) =>
      ColumnBridge.column(graft.plans.BucketIndex(
        ColumnBridge.expression(col(c).cast("double")), b.toIndexedSeq))
    }
    df.withColumn("__z", zOrderKeyRaw(ranked))
      .repartitionByRange(nPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Cluster and WRITE: the end-to-end layout pass a table-maintenance
    * job runs — z-order the rows, then write one file per range so
    * every parquet footer carries tight min/max on all clustered
    * columns. `maxRecordsPerFile` is deliberately NOT set: a range
    * partition must stay one file or the in-partition sort's
    * file-level min/max tightness splits unpredictably.
    */
  def writeClustered(df: DataFrame, path: String, cols: Seq[String],
                     nFiles: Int): Unit =
    clusterByZOrder(df, cols, nFiles)
      .write.mode("overwrite").parquet(path)

  /** Re-size `df` to ~`targetBytes` output partitions using the
    * optimizer's size estimate (column-pruned, filter-adjusted — the
    * same number AQE plans with). Shrinking uses `coalesce`, a NARROW
    * dependency: compacting a 100 k-file scan to 1 k files moves no
    * rows between executors. Growing (rare: exploding transforms)
    * needs a real round-robin exchange.
    */
  def compact(df: DataFrame, targetBytes: Long): DataFrame = {
    // stats.sizeInBytes falls back to spark.sql.defaultSizeInBytes
    // (Long.MaxValue by default) on stats-less relations: no basis to
    // re-size, so return the frame unchanged rather than truncating
    // the huge quotient into a 0/negative/absurd partition count
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes))
      return df
    val target = BigInt(math.max(targetBytes, 1L))
    val quot = bytes / target + (if (bytes % target == 0) 0 else 1)
    val n = quot.max(1).min(Int.MaxValue).toInt
    val cur = df.rdd.getNumPartitions
    if (n < cur) df.coalesce(n)
    else if (n == cur) df
    else df.repartition(n)
  }
}
