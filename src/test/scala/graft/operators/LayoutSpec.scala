package graft.operators

import graft.SparkSpec
import graft.plans.ZInterleave
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class LayoutSpec extends SparkSpec {

  test("ZInterleave matches hand-computed Morton addresses") {
    def z(vals: Long*): Any =
      ZInterleave(vals.map(v => Literal(v, LongType))).eval(null)
    // x=5 (101), y=3 (011): bits → z0=x0=1, z1=y0=1, z2=x1=0, z3=y1=1,
    // z4=x2=1, z5=y2=0 → 0b011011 = 27
    assert(z(5L, 3L) == 27L)
    assert(z(0L, 0L) == 0L)
    // 3-dim: (2, 0, 1): z2=c2bit0=1 (4), z3=c0bit1=1 (8) → 12
    assert(z(2L, 0L, 1L) == 12L)
    // interleave is symmetric under argument swap of equal values
    assert(z(7L, 7L) == 63L)
  }

  test("ZInterleave masks to 63/n bits and propagates null") {
    def z(vals: Long*): Any =
      ZInterleave(vals.map(v => Literal(v, LongType))).eval(null)
    // n=2 → 31 bits per key: bit 31 and above of the input drop out
    assert(z(1L << 31 | 5L, 3L) == z(5L, 3L))
    assert(ZInterleave(Seq(Literal(null, LongType), Literal(1L, LongType)))
      .eval(null) == null)
  }

  test("codegen and interpreted paths agree") {
    val ss = spark; import ss.implicits._
    val df = Seq.tabulate(64)(i => (i * 2654435761L % (1L << 31), (i * 40503L) % (1L << 31)))
      .toDF("x", "y")
    val viaDf = df.select(Layout.zOrderKeyRaw(Seq(col("x"), col("y"))).as("z"))
      .collect().map(_.getLong(0)).toSeq
    val direct = df.collect().map { r =>
      ZInterleave(Seq(Literal(r.getLong(0), LongType), Literal(r.getLong(1), LongType)))
        .eval(null).asInstanceOf[Long]
    }.toSeq
    assert(viaDf == direct)
  }

  test("clusterByZOrder yields z-contiguous partitions, tight on both dims") {
    val ss = spark; import ss.implicits._
    // 32×32 grid, shuffled input order
    val pts = scala.util.Random.shuffle(
      (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)).toList)
      .toDF("x", "y")
    val clustered = Layout.clusterByZOrder(pts, Seq("x", "y"), nPartitions = 16)
    assert(clustered.count() == 1024)

    val ranges = clustered
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("x").as("x_lo"), max("x").as("x_hi"),
        min("y").as("y_lo"), max("y").as("y_hi"), count(lit(1)).as("n"))
      .collect()
    // every partition spans ≤ half the domain on BOTH dims — the
    // multi-dimensional locality a single-column sort cannot give
    // (sorting by x alone leaves y spanning 0..31 in every file)
    ranges.foreach { r =>
      assert(r.getLong(2) - r.getLong(1) <= 16,
        s"x-span too wide in partition ${r.getInt(0)}: $r")
      assert(r.getLong(4) - r.getLong(3) <= 16,
        s"y-span too wide in partition ${r.getInt(0)}: $r")
    }
  }

  test("writeClustered produces files with disjoint z-ranges, prunable on both dims") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zorder_write").toString + "/t"
    val pts = scala.util.Random.shuffle(
      (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)).toList)
      .toDF("x", "y")
    Layout.writeClustered(pts, dir, Seq("x", "y"), nFiles = 8)

    val back = ss.read.parquet(dir)
    assert(back.count() == 1024)
    // per-FILE key ranges from the data actually on disk
    val ranges = back
      .withColumn("f", input_file_name())
      .withColumn("z", Layout.zOrderKeyRaw(Seq(col("x"), col("y"))))
      .groupBy("f")
      .agg(min("z").as("z_lo"), max("z").as("z_hi"),
        min("x").as("x_lo"), max("x").as("x_hi"))
      .collect()
    assert(ranges.length == 8, s"expected 8 files, got ${ranges.length}")
    // z-ranges pairwise disjoint: file-level min/max skipping on the
    // clustering key prunes exactly
    val sorted = ranges.sortBy(_.getLong(1))
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) < b.getLong(1),
        s"overlapping z-ranges: $a vs $b")
      case _ =>
    }
    // and each file stays tight on a RAW dimension too (≤ half domain)
    sorted.foreach { r =>
      assert(r.getLong(4) - r.getLong(3) <= 16, s"x-span too wide: $r")
    }
  }

  test("BucketIndex: upper-bound binary search, duplicates, nulls") {
    import graft.plans.BucketIndex
    import org.apache.spark.sql.types.DoubleType
    def b(x: java.lang.Double, bounds: Double*): Any =
      BucketIndex(Literal(x, DoubleType), bounds.toIndexedSeq).eval(null)
    assert(b(0.5, 1.0, 2.0, 3.0) == 0L)
    assert(b(1.0, 1.0, 2.0, 3.0) == 1L)   // boundary ≤ x counts
    assert(b(9.9, 1.0, 2.0, 3.0) == 3L)
    assert(b(2.0, 2.0, 2.0, 2.0) == 3L)   // degenerate duplicates
    assert(b(null, 1.0, 2.0) == null)
  }

  test("quantile z-order keeps x-discrimination under a wide-domain outlier") {
    val ss = spark; import ss.implicits._
    // one wei-scale outlier stretches the affine span to 1e18: every
    // normal x (< 1e6) collapses to rank 0 — the x dimension vanishes
    // from the affine z-address and files stop pruning on x. Quantile
    // buckets are mass-based, immune to the outlier.
    val rnd = new scala.util.Random(17)
    val pts = (1 to 4000).map { i =>
      val x = if (i == 1) 1000000000000000000L else rnd.nextInt(1000000).toLong
      (x, (i % 64).toLong)
    }.toDF("x", "y")
    def medianSpan(df: org.apache.spark.sql.DataFrame): Long = {
      val spans = df.withColumn("pid", spark_partition_id())
        .filter(col("x") < 1000000L)
        .groupBy("pid").agg((max("x") - min("x")).as("span"))
        .select("span").as[Long].collect().sorted
      spans(spans.length / 2)
    }
    val affine = medianSpan(Layout.clusterByZOrder(pts, Seq("x", "y"), 32))
    val quant = medianSpan(Layout.clusterByZOrderQuantile(pts, Seq("x", "y"), 32,
      buckets = 256))
    assert(affine > 900000L,
      s"fixture check: affine should be x-blind under the outlier ($affine)")
    assert(quant < affine / 2,
      s"quantile partitions must stay x-tight: $quant vs affine $affine")
    assert(Layout.clusterByZOrderQuantile(pts, Seq("x", "y"), 8).count() == 4000)
    // NOTE: 32 partitions = 5 z-bits, ~2-3 of them x-bits — the
    // quantile map should cut the median x-span well below half
  }

  test("compact shrinks via narrow coalesce and preserves rows") {
    val ss = spark; import ss.implicits._
    val df = ss.range(0, 10000).toDF("id").repartition(32)
    val compacted = Layout.compact(df, targetBytes = Long.MaxValue)
    assert(compacted.rdd.getNumPartitions == 1)
    assert(compacted.count() == 10000)
    // shrink must not introduce an exchange
    val plan = compacted.queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce"), s"expected narrow coalesce:\n$plan")
    // a tiny target keeps (at least) the current layout rather than
    // exploding the file count
    val kept = Layout.compact(df, targetBytes = 1L)
    assert(kept.rdd.getNumPartitions >= 32)
  }
}
