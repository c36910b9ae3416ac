package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("cosine matches hand-computed values") {
    val ss = spark; import ss.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(2.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(round(Similarity.cosine(col("a"), col("b")), 6))
      .as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, 0.8, 0.0)) // (1,2)·(2,1)=4, norms √5·√5=5
  }

  test("bruteForceTopK ranks neighbors by cosine with id tiebreak") {
    val ss = spark; import ss.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f)),
      (12L, Array(0.0f, 1.0f))).toDF("neighbor_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("query_id", "embedding")
    val got = Similarity.bruteForceTopK(queries, corpus, k = 2)
      .select(col("neighbor_id"), col("rank")).as[(Long, Int)].collect().toSeq
    assert(got.sortBy(_._2) == Seq((10L, 1), (11L, 2)))
  }

  test("bruteForcePartitionCount: pair-bounded, core-floored, hard-capped") {
    import Similarity.{bruteForcePartitionCount => parts, BruteForcePairsPerTask => B}
    // small pair loads stay at the core floor (tiling below cores
    // would only shrink parallelism)
    assert(parts(50L, 2000L, 32) == 32, "gate fixture: core floor")
    assert(parts(0L, 0L, 32) == 32, "empty inputs: core floor")
    // the ×30 media shape that spilled 12.5 GB under 32 fixed tasks:
    // ~3.8k probes × 150k corpus = 562M pairs → ~282 slices of ≤ 2M
    val x30 = parts(3750L, 150000L, 32)
    assert(x30 == 3750L * 150000L / B + 1, s"x30 sizing: got $x30")
    assert(x30 > 200 && x30 < 400, s"x30 slice count sanity: $x30")
    // per-task pairs never exceed the budget below the hard cap
    assert(1000000L * 32768L / parts(1000L, 32768000L, 32) <= B)
    // the 32768-task ceiling: past it, the budget gives, not the grid
    assert(parts(1000000L, 1000000000L, 32) == 32768)
  }

  test("bruteForceTopK is invariant to the corpus-side task grid (tiled ≡ one-shot)") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (1 to 300).map(i =>
      (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat)))
      .toDF("neighbor_id", "embedding")
    val queries = (1 to 5).map(i =>
      (i * 100L, Array.fill(6)(rnd.nextGaussian().toFloat)))
      .toDF("query_id", "embedding")
    def rows(c: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(queries, c, k = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
    // 1-partition and 64-partition corpora must produce the identical
    // ranked set: the per-slice partial limit + global re-rank under
    // the shared (cos DESC, id ASC) comparator is exact at any width
    assert(rows(corpus.coalesce(1)) == rows(corpus.repartition(64)))
  }

  test("graft_signsketch is bit-identical to the composed HOF formulation") {
    val ss = spark; import ss.implicits._
    // mixed dims, signs, magnitudes, zero vectors, an empty vector;
    // fixed seed keeps the fixture reproducible
    val rnd = new scala.util.Random(13)
    val vecs = (1 to 50).map { id =>
      val dim = 1 + rnd.nextInt(96)
      (id.toLong, Array.fill(dim)((rnd.nextGaussian() * 3).toFloat))
    } ++ Seq((98L, Array.fill(8)(0.0f)), (99L, Array.empty[Float]))
    val df = vecs.toDF("id", "embedding")
    for (bits <- Seq(1, 8, 16, 30)) {
      val fast = df.select(col("id"),
          Similarity.signSketch(col("embedding"), bits).as("s"))
        .as[(Long, Long)].collect().toMap
      val slow = df.select(col("id"),
          Similarity.signSketchComposed(col("embedding"), bits).as("s"))
        .as[(Long, Long)].collect().toMap
      assert(fast == slow, s"bits=$bits: native and composed sketches must agree")
    }
  }

  test("lshTopK always finds an exact duplicate vector at rank 1") {
    val ss = spark; import ss.implicits._
    // corpus = shifted copies of the queries: identical vectors share a
    // sketch (distance 0 ≤ probeDist), so the dup is always a candidate.
    val vecs = (0 until 20).map(i =>
      Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat))
    val queries = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "embedding")
    val corpus = vecs.zipWithIndex.map { case (v, i) => (100L + i, v) }
      .toDF("neighbor_id", "embedding")
    val top1 = Similarity.lshTopK(queries, corpus, k = 1, bits = 8, probeDist = 1)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .as[(Long, Long, Double)].collect()
    assert(top1.length == 20)
    assert(top1.forall { case (q, n, c) => n == 100L + q && c == 1.0 })
  }

  test("multi-table lshTopK: recall dominates single-table; full probe ≡ brute force; no dup ranks") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val corpus = vecs.map { case (i, v) => (1000L + i, v) }.toDF("neighbor_id", "embedding")
    val queries = vecs.take(12).toDF("query_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(queries, corpus, k = 3))

    // same plane budget per table; three tables can only add candidates
    val one = pairs(Similarity.lshTopK(queries, corpus, k = 3, bits = 6, probeDist = 1, tables = 1))
    val three = pairs(Similarity.lshTopK(queries, corpus, k = 3, bits = 6, probeDist = 1, tables = 3))
    assert((three & truth).size >= (one & truth).size,
      "multi-table union recall must dominate table 1 alone")

    // probeDist = bits ⇒ every bucket probed in table 0 ⇒ exact, any tables
    val exact = Similarity.lshTopK(queries, corpus, k = 3, bits = 4, probeDist = 4, tables = 2)
    assert(pairs(exact) == truth, "full probe must recover brute force")
    // multi-table collisions must not produce duplicate (query, rank) slots
    val ranks = exact.select("query_id", "rank").as[(Long, Int)].collect().toSeq
    assert(ranks.size == ranks.distinct.size && ranks.groupBy(_._1).forall(_._2.size == 3))
  }

  test("ivfTopK finds an exact duplicate vector at rank 1 through its centroid list") {
    val ss = spark; import ss.implicits._
    val vecs = (0 until 30).map(i =>
      Array.tabulate(8)(d => math.cos(i * 17 + d * 3).toFloat))
    val queries = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "embedding")
    val corpus = vecs.zipWithIndex.map { case (v, i) => (100L + i, v) }
      .toDF("neighbor_id", "embedding")
    // identical vectors share cosines to every centroid, so the query's
    // top probe equals the duplicate's assigned centroid: always found
    val top1 = Similarity.ivfTopK(queries, corpus, k = 1, nCentroids = 8, nProbe = 1)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .as[(Long, Long, Double)].collect()
    assert(top1.length == 30)
    assert(top1.forall { case (q, n, c) => n == 100L + q && c == 1.0 })
  }

  test("IvfAssign matches the composed cosine-argmax semantics, codegen and interpreted") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rnd = new scala.util.Random(7)
    val dims = 8
    val cents = Array.tabulate(6)(j =>
      Array.tabulate(dims)(_ => (rnd.nextFloat() - 0.5f) * 2f))
    val ids = Array(40L, 41L, 42L, 43L, 44L, 45L)
    // include a duplicate centroid (cosine tie -> larger id wins), a
    // zero vector, and an empty vector among the probes
    val dupCents = cents :+ cents(2).clone()
    val dupIds = ids :+ 99L
    val vecs: Seq[Array[Float]] =
      (0 until 40).map(_ => Array.tabulate(dims)(_ => (rnd.nextFloat() - 0.5f) * 2f)) ++
        Seq(Array.fill(dims)(0f), Array.empty[Float], cents(2).clone())
    def reference(v: Array[Float], n: Int): Seq[Long] = {
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        val m = math.min(a.length, b.length)
        while (i < m) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
      }
      def nrm(a: Array[Float]) = math.sqrt(dot(a, a))
      val nv = nrm(v)
      val scored = dupCents.zip(dupIds).map { case (c, id) =>
        val d = nv * nrm(c)
        (if (d == 0.0) 0.0 else dot(v, c) / d, id)
      }
      scored.sortBy { case (cos, id) => (-cos, -id) }.take(n).map(_._2).toSeq
    }
    for (n <- Seq(1, 2, 7)) {
      val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      val expr = graft.plans.IvfAssign(
        ColumnBridge.expression(col("v")), dupIds, dupCents, n)
      val got = df.select(col("i"), ColumnBridge.column(expr).as("a"))
        .as[(Int, Seq[Long])].collect().sortBy(_._1).map(_._2)
      val want = vecs.map(reference(_, math.min(n, dupIds.length)))
      assert(got.toSeq == want.toSeq, s"nAssign=$n mismatch")
      // interpreted eval (the non-codegen fallback) agrees with codegen
      vecs.take(5).zip(got).foreach { case (v, g) =>
        val ev = expr.copy(child = org.apache.spark.sql.catalyst.expressions.Literal
          .create(v, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))
          .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        assert(ev.toLongArray().toSeq == g, "interpreted/codegen divergence")
      }
    }
  }

  test("IVF multi-assignment: full probe equals brute force with no duplicate ranks; recall never drops") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 60).map(_ => Array.tabulate(8)(_ => (rnd.nextFloat() - 0.5f) * 2f))
    val queries = vecs.take(8).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "embedding")
    val corpus = vecs.zipWithIndex.map { case (v, i) => (100L + i, v) }
      .toDF("neighbor_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(queries, corpus, k = 3))
    // spilled index + all lists probed: provably exact, and the
    // (query, neighbor) dedup must leave exactly k ranks per query
    val full = Similarity.ivfTopK(queries, corpus, k = 3,
      nCentroids = 8, nProbe = 8, nAssign = 2)
    assert(pairs(full) == brute)
    val ranks = full.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("rank")).as("d"))
      .as[(Long, Long, Long)].collect()
    assert(ranks.forall { case (_, n, d) => n == 3L && d == 3L })
    // at a fixed narrow probe, spilling can only ADD candidates:
    // recall vs brute force is monotone in nAssign
    def recall(nAssign: Int): Int =
      (pairs(Similarity.ivfTopK(queries, corpus, k = 3,
        nCentroids = 8, nProbe = 2, nAssign = nAssign)) & brute).size
    assert(recall(2) >= recall(1))
  }

  test("kmeansStep: exact assignment + per-dim mean update on a separable corpus") {
    val ss = spark; import ss.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // two axis clusters; seeds 0 and 1 are one member of each
    val corpus = Seq(
      (0L, v(1.0, 0.0)), (2L, v(0.8, 0.2)), (3L, v(0.9, 0.1)),
      (1L, v(0.0, 1.0)), (4L, v(0.2, 0.8))).toDF("vec_id", "embedding")
    val cents = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val got = Similarity.kmeansStep(corpus, cents)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // cluster 0 = {0, 2, 3}: dim-1 mean (1.0+0.8+0.9)/3 = 0.9
    assert(got((0L, 1L)) == (3L, 2700000L, 900000L), s"got $got")
    assert(got((0L, 2L)) == (3L, 300000L, 100000L))
    // cluster 1 = {1, 4}: dim-2 mean (1.0+0.8)/2 = 0.9
    assert(got((1L, 1L)) == (2L, 200000L, 100000L))
    assert(got((1L, 2L)) == (2L, 1800000L, 900000L))
    assert(got.size == 4, "k x dim rows exactly")
  }

  test("diverseSample: per-cluster quota, correct assignment, deterministic, group-limit plan") {
    val ss = spark; import ss.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // separable: ids 0,2,3,5,6 on the x-axis, 1,4 on the y-axis;
    // seeds 0 and 1 are one member of each cluster
    val corpus = Seq(
      (0L, v(1.0, 0.0)), (2L, v(0.8, 0.2)), (3L, v(0.9, 0.1)),
      (5L, v(0.95, 0.05)), (6L, v(0.85, 0.15)),
      (1L, v(0.0, 1.0)), (4L, v(0.2, 0.8))).toDF("vec_id", "embedding")
    val cents = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val sample = Similarity.diverseSample(corpus, cents, quota = 2)
    val got = sample.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // quota binds the dense cluster (5 members -> 2) and the sparse
    // one keeps both members: the cluster-balanced shape
    assert(got.count(_._2 == 0L) == 2, s"x-cluster quota: ${got.toSeq}")
    assert(got.count(_._2 == 1L) == 2, s"y-cluster keeps all: ${got.toSeq}")
    assert(got.forall(_._3 <= 2) && got.map(_._1).distinct.length == got.length)
    // assignment is nearest-centroid: y-ish vectors are in cluster 1
    assert(got.filter(_._2 == 1L).map(_._1).toSet.subsetOf(Set(1L, 4L)))
    // deterministic: a re-run selects the identical rows
    val again = Similarity.diverseSample(corpus, cents, quota = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == again.toSeq)
    // the rank filter must collapse to a WindowGroupLimit so each map
    // task pre-prunes to its local per-cluster top-quota pre-shuffle
    val plan = sample.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter should engage WindowGroupLimit:\n$plan")
  }

  test("kmeansCentroids recovers the centers of a separable corpus") {
    val ss = spark; import ss.implicits._
    // 3 tight clusters around orthogonal axes
    val base = Seq(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    val corpus = (0 until 90).map { i =>
      val c = base(i % 3)
      (i.toLong, c.zipWithIndex.map { case (v, d) => v + ((i * 7 + d) % 5) * 0.01f })
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(corpus, k = 3, maxIter = 10)
      .select(col("centroid_id"), col("centroid"))
      .as[(Long, Array[Float])].collect()
    assert(cents.length == 3 && cents.forall(_._2.length == 3))
    // each true center has a learned centroid within L2 0.5
    base.foreach { b =>
      val nearest = cents.map { case (_, c) =>
        math.sqrt(c.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.min
      assert(nearest < 0.5, s"no centroid near ${b.toSeq}: $nearest")
    }
  }

  test("ivfTopKTrained finds exact duplicates and matches brute force on a clustered corpus") {
    val ss = spark; import ss.implicits._
    val vecs = (0 until 30).map { i =>
      val axis = i % 3
      Array.tabulate(8)(d => (if (d == axis) 10.0 else 0.0 + math.sin(i * 13 + d) * 0.1).toFloat)
    }
    val queries = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "embedding")
    val corpus = vecs.zipWithIndex.map { case (v, i) => (100L + i, v) }
      .toDF("neighbor_id", "embedding")
    val top1 = Similarity.ivfTopKTrained(queries, corpus, k = 1,
      nCentroids = 3, nProbe = 1, maxIter = 10)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .as[(Long, Long, Double)].collect()
    assert(top1.length == 30, s"every query must find its list (got ${top1.length})")
    assert(top1.forall { case (q, n, c) => n == 100L + q && c == 1.0 })
  }

  test("on-disk IVF index: probe equals the in-memory result through partition pruning") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 80).map(_ => Array.tabulate(8)(_ => (rnd.nextFloat() - 0.5f) * 2f))
    val corpus = vecs.zipWithIndex.map { case (v, i) => (100L + i, v) }
      .toDF("neighbor_id", "embedding")
    val queries = vecs.take(6).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "embedding")
    val cents = Similarity.kmeansCentroids(corpus, k = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_index").toString + "/idx"

    Similarity.writeIvfIndex(corpus, cents, dir, nAssign = 2)
    // spilled rows land in their runner-up directories too
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("centroid=")).sorted
    assert(dirs.nonEmpty && dirs.length <= 8, s"partition dirs: ${dirs.toSeq}")
    val indexed = spark.read.parquet(dir)
    assert(indexed.count() > 80, "nAssign=2 must spill rows into second lists")

    val probe = Similarity.probeIvfIndex(spark, dir, queries, cents,
      k = 3, nProbe = 3)
    val inMem = Similarity.ivfTopKWithCentroids(queries, corpus, cents,
      k = 3, nProbe = 3, nAssign = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
    assert(pairs(probe) == pairs(inMem), "on-disk probe diverged from in-memory")

    // the probe plans as partition PRUNING: the probed centroid set is
    // a partition filter on the scan, not a post-scan predicate
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid"),
      s"probe must prune partitions:\n${plan.take(2000)}")
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("IN") || pf.contains("in("),
      s"partition filter must be the probed-id IN list: $pf")
  }

  test("int8 quantization roundtrip is within the symmetric-scale error bound") {
    val ss = spark; import ss.implicits._
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.127f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: exact roundtrip
      (3L, Array(-3.7f, 2.1f, 0.001f, 127.0f)))
      .toDF("vec_id", "embedding")
    val rt = df.select(col("vec_id"), col("embedding"),
      Similarity.dequantizeInt8(Similarity.quantizeInt8(col("embedding"))).as("back"),
      Similarity.quantizeInt8(col("embedding")).getField("q").as("q"))
      .as[(Long, Array[Float], Array[Float], Seq[Byte])].collect()
    rt.foreach { case (id, orig, back, q) =>
      assert(q.length == orig.length && q.forall(b => b >= -127 && b <= 127))
      val maxAbs = orig.map(math.abs).max.toDouble
      val bound = maxAbs / 127.0 / 2.0 + 1e-6 // half a quantization step
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o - b) <= bound + 1e-4,
          s"vec $id: $o -> $b exceeds half-step bound $bound")
      }
    }
    // quantized cosine stays close to exact cosine
    val pair = df.filter(col("vec_id") =!= 2)
      .select(Similarity.dequantizeInt8(Similarity.quantizeInt8(col("embedding"))).as("dq"),
        col("embedding"))
    val both = pair.agg(
      min(Similarity.cosine(col("dq"), col("embedding")))).as[Double].collect()(0)
    assert(both > 0.999, s"dequantized self-cosine degraded to $both")
  }

  test("cosinePairsBlocked only pairs within a block and respects threshold") {
    val ss = spark; import ss.implicits._
    val df = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(1.0f, 0.1f)),  // same block, cos ≈ 0.995
      (3L, 1, Array(1.0f, 0.0f)),  // identical to 1 but different block
      (4L, 0, Array(0.0f, 1.0f))   // same block, cos ≈ 0.1
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.cosinePairsBlocked(df, col("vec_id"), col("embedding"),
      col("label"), threshold = 0.9)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("semanticDedup keeps one LEAST-prototypical survivor per duplicate group, transitively") {
    val ss = spark; import ss.implicits._
    // two well-separated clusters around the axes; centroids = the
    // axis vectors themselves
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f))).toDF("centroid_id", "centroid")
    def v(x: Double, y: Double, z: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat)
    val corpus = Seq(
      // cluster 0: a near-dup CHAIN 10~11~12 (10 and 12 only meet
      // through 11 — group membership must be transitive), plus a
      // distinct singleton 13
      (10L, v(1.0, 0.00, 0.10)),
      (11L, v(1.0, 0.00, 0.25)),
      (12L, v(1.0, 0.00, 0.40)),
      (13L, v(1.0, 0.90, 0.00)),
      // cluster 1: an exact duplicate pair 20~21 and a singleton 22
      (20L, v(0.0, 1.0, 0.0)),
      (21L, v(0.0, 1.0, 0.0)),
      (22L, v(0.6, 1.0, 0.0))).toDF("vec_id", "embedding")
    val res = Similarity.semanticDedup(corpus, cents, eps = 0.97)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap

    // clusters assigned by nearest axis
    assert(Seq(10L, 11L, 12L, 13L).forall(res(_)._1 == 0L))
    assert(Seq(20L, 21L, 22L).forall(res(_)._1 == 1L))
    // the chain is ONE component even though cos(10, 12) < eps
    assert(Seq(10L, 11L, 12L).map(res(_)._2).distinct == Seq(10L))
    // keep rule: the chain's survivor is its least-prototypical
    // member (12 leans furthest off-axis); exact-dup tie keeps the
    // lower id; singletons always survive
    val kept = res.collect { case (id, (_, _, _, true)) => id }.toSet
    assert(kept == Set(12L, 13L, 20L, 22L),
      s"kept set diverged: $kept")
    // exactly one survivor per component
    val perComp = res.values.groupBy(_._2).map { case (c, rs) =>
      c -> rs.count(_._4) }
    assert(perComp.values.forall(_ == 1), s"per-component keeps: $perComp")
  }

  test("autoCentroidCount: constant expected list population, clamped both ends") {
    import Similarity._
    assert(autoCentroidCount(0L) == 16 && autoCentroidCount(2000L) == 16,
      "the sf0.1 gate fixture (2,000 vecs) must resolve to the fixed 16")
    assert(autoCentroidCount(60000L) == 469, "x30: ceil(60000/128)")
    assert(autoCentroidCount(1000000L) ==
      math.ceil(1000000.0 / AutoListSize).toInt, "linear past the floor")
    assert(autoCentroidCount(Long.MaxValue) == (1 << 16), "driver-resident ceiling")
  }

  test("IvfAssignHier covering every supercell is bit-identical to flat IvfAssign") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rnd = new scala.util.Random(11)
    val dims = 8
    // 10 members in 3 supercells (sizes 4/5/1), incl. a duplicate
    // member (tie -> larger id) and a zero member
    val memberVecs = (Array.tabulate(9)(_ =>
      Array.tabulate(dims)(_ => (rnd.nextFloat() - 0.5f) * 2f)) :+
      Array.fill(dims)(0f)).patch(7, Seq(Array.tabulate(dims)(d =>
        (d + 1).toFloat)), 1)
    val dup = memberVecs(2).clone()
    val allVecs = memberVecs :+ dup
    val ids = Array.tabulate(11)(j => 50L + j)
    val starts = Array(0, 4, 9, 11)
    val superVecs = Array.tabulate(3)(_ =>
      Array.tabulate(dims)(_ => (rnd.nextFloat() - 0.5f) * 2f))
    val probes: Seq[Array[Float]] =
      (0 until 30).map(_ => Array.tabulate(dims)(_ => (rnd.nextFloat() - 0.5f) * 2f)) ++
        Seq(Array.fill(dims)(0f), Array.empty[Float], dup.clone())
    for (n <- Seq(1, 2, 5)) {
      val df = probes.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      val flat = df.select(col("i"), ColumnBridge.column(graft.plans.IvfAssign(
        ColumnBridge.expression(col("v")), ids, allVecs, n)).as("a"))
        .as[(Int, Seq[Long])].collect().sortBy(_._1).map(_._2)
      // superProbe = S (3) scans every member -> must equal flat exactly
      val hier = df.select(col("i"), ColumnBridge.column(graft.plans.IvfAssignHier(
        ColumnBridge.expression(col("v")), superVecs, starts, ids, allVecs, 3, n)).as("a"))
        .as[(Int, Seq[Long])].collect().sortBy(_._1).map(_._2)
      assert(hier.toSeq == flat.toSeq, s"nAssign=$n full-probe divergence")
      // interpreted eval agrees with codegen
      probes.take(4).zip(hier).foreach { case (v, g) =>
        val ev = graft.plans.IvfAssignHier(
          org.apache.spark.sql.catalyst.expressions.Literal.create(v,
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
          superVecs, starts, ids, allVecs, 3, n)
          .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        assert(ev.toLongArray().toSeq == g, "interpreted/codegen divergence")
      }
    }
  }

  test("IvfAssignHier at superProbe = 1 restricts the scan to the nearest supercell") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val ss = spark; import ss.implicits._
    // two orthogonal supercells; the probe's EXACT duplicate (id 1)
    // is filed under the X supercell, but the probe ranks the Y
    // supercell first — superProbe = 1 must stay inside Y and return
    // its member (id 2), the documented approximation; superProbe = 2
    // recovers the duplicate
    val superVecs = Array(Array(10f, 0f), Array(0f, 10f))
    val members = Array(Array(1f, 0f), Array(0.1f, 1f), Array(1f, 1f))
    val ids = Array(0L, 1L, 2L)
    val starts = Array(0, 2, 3)
    val probe = Seq((0, Array(0.1f, 1f))).toDF("i", "v")
    def assignWith(sp: Int): Long =
      probe.select(ColumnBridge.column(graft.plans.IvfAssignHier(
        ColumnBridge.expression(col("v")), superVecs, starts, ids, members, sp, 1)))
        .as[Seq[Long]].head().head
    assert(assignWith(1) == 2L, "restricted scan must pick the Y supercell's member")
    assert(assignWith(2) == 1L, "full probe finds the globally nearest member")
  }

  test("kmeansCentroidsHier: deterministic, supercell-grouped, list population near target") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(31)
    // 4 loose clusters x 300 vectors
    val corpus = (0 until 1200).map { i =>
      val axis = i % 4
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == axis * 2) 5.0 else rnd.nextGaussian() * 0.3).toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()
    def train() = Similarity.kmeansCentroidsHier(corpus, k = 10, maxIter = 5)
      .select(col("centroid_id"), col("centroid"), col("supercell"), col("__supervec"))
      .as[(Long, Array[Float], Long, Array[Float])].collect().sortBy(_._1)
    val a = train(); val b = train()
    assert(a.map(r => (r._1, r._2.toSeq, r._3, r._4.toSeq)).toSeq ==
      b.map(r => (r._1, r._2.toSeq, r._3, r._4.toSeq)).toSeq,
      "hier trainer must be deterministic")
    assert(a.nonEmpty && a.length <= 40, s"centroid count ${a.length} off the quota scale")
    // grouped layout: ids ascend with supercell blocks contiguous
    val bySc = a.map(_._3)
    assert(bySc.toSeq == bySc.sorted.toSeq, "members must be grouped by supercell")
    // every supercell id refers to one shared supervec
    a.groupBy(_._3).foreach { case (_, rows) =>
      assert(rows.map(_._4.toSeq).distinct.length == 1) }
    // assignment through the trained frame keeps expected list
    // population within 4x of the target (loose: tiny fixture)
    val q = Similarity.collectQuantizerHier(
      Similarity.kmeansCentroidsHier(corpus, k = 10, maxIter = 5))
    assert(q.hier.nonEmpty, "trained frame must carry the two-level layout")
    val pops = corpus.select(explode(q.assign(col("embedding"), 1)).as("c"))
      .groupBy("c").count().as[(Long, Long)].collect().map(_._2)
    assert(pops.sum == 1200)
  }

  test("kmeansCentroidsAuto: duplicate-heavy corpus caps k at the distinct set and trains on it") {
    val ss = spark; import ss.implicits._
    // 4000 rows, only 6 distinct vectors (the decoded-media shape
    // that collapsed the hash-sample init): the auto rule would ask
    // for 32 centroids; the distinct pre-cap must hand back <= 6,
    // and assignment must still cover the whole corpus exactly
    val distinctVecs = (0 until 6).map(i =>
      Array.tabulate(8)(d => if (d == i) 1f else 0.1f * i))
    val corpus = (0 until 4000).map(i => (i.toLong, distinctVecs(i % 6)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val cents = Similarity.kmeansCentroidsAuto(corpus.select(col("embedding")),
      hierThreshold = 1) // force the hier branch to prove the cap preempts it
    val k = cents.count()
    assert(k == 6, s"the exact quantizer must be the distinct set itself, got $k")
    val q = Similarity.collectQuantizerHier(cents)
    val assignedCount = corpus
      .select(explode(q.assign(col("embedding"), 1)).as("c"))
      .groupBy("c").count().agg(sum("count")).head().getLong(0)
    assert(assignedCount == 4000, "every row must assign to some centroid")
  }

  test("kmeansCentroidsAuto: flat below the threshold, two-level at it, SemDeDup agrees on separable data") {
    val ss = spark; import ss.implicits._
    val base = (0 until 20).map(i =>
      Array.tabulate(20)(d => if (d == i) 1f else 0f))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, v), (100L + i, v)) }
    val corpus = rows.toDF("vec_id", "embedding").localCheckpoint()
    val flatCents = Similarity.kmeansCentroidsAuto(corpus.select(col("embedding")))
    assert(!flatCents.columns.contains("supercell"),
      "below the threshold the auto trainer must stay flat (gate fixtures)")
    val hierCents = Similarity.kmeansCentroidsAuto(corpus.select(col("embedding")),
      hierThreshold = 1)
    assert(hierCents.columns.contains("supercell") &&
      hierCents.columns.contains("__supervec"))
    // the auto production rule must hold through the two-level path:
    // one keeper per exact-dup family (orthogonal one-hot families)
    val dec = Similarity.semanticDedup(corpus, hierCents, eps = 0.99)
      .localCheckpoint()
    assert(dec.count() == 40)
    val split = dec.select(pmod(col("vec_id"), lit(100L)).as("fam"), col("component"))
      .distinct().groupBy("fam").count().filter(col("count") > 1).count()
    assert(split == 0, "exact duplicates must share a component under the hier quantizer")
    assert(dec.filter(col("keep")).count() == 20, "one keeper per family")
  }

  test("ivfTopKWithCentroids over a hier-trained quantizer: exact dups at rank 1, recall floor vs brute force") {
    val ss = spark; import ss.implicits._
    val vecs = (0 until 400).map { i =>
      val axis = i % 4
      Array.tabulate(8)(d =>
        (if (d == axis * 2) 10.0 else math.sin(i * 13 + d) * 0.4).toFloat)
    }
    val queries = vecs.take(40).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "embedding")
    val corpus = vecs.zipWithIndex.map { case (v, i) => (100L + i, v) }
      .toDF("neighbor_id", "embedding").localCheckpoint()
    val cents = Similarity.kmeansCentroidsHier(corpus, k = 8, maxIter = 5,
      vecCol = "embedding")
    val hier = Similarity.ivfTopKWithCentroids(queries, corpus, cents,
      k = 5, nProbe = 2, nAssign = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val got = pairs(hier)
    val top1 = hier.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .as[(Long, Long, Double)].collect()
    assert(top1.length == 40 && top1.forall { case (q, n, c) => n == 100L + q && c == 1.0 },
      "every query's exact duplicate must surface at rank 1")
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k = 5))
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"hier IVF recall@5 $recall below floor")
  }

  test("semanticDedupAuto: the production path keeps one representative per exact-dup family") {
    val ss = spark; import ss.implicits._
    // 20 base vectors, each duplicated exactly (cos = 1 >= eps): every
    // family must share a component and keep exactly one row
    // orthogonal bases (one-hot) so NO cross-family pair can clear eps
    val base = (0 until 20).map(i =>
      Array.tabulate(20)(d => if (d == i) 1f else 0f))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, v), (100L + i, v)) }
    val dec = Similarity.semanticDedupAuto(rows.toDF("vec_id", "embedding"), eps = 0.99)
      .localCheckpoint()
    assert(dec.count() == 40)
    val split = dec.select(pmod(col("vec_id"), lit(100L)).as("fam"), col("component"))
      .distinct().groupBy("fam").count().filter(col("count") > 1).count()
    assert(split == 0, "an exact duplicate must join its base's component")
    assert(dec.filter(col("keep")).count() == 20, "one keeper per family")
  }

  test("semanticDecontam: nearest-holdout argmax, higher-id ties, eps boundary on the rounded cosine") {
    val ss = spark; import ss.implicits._
    val holdout = Seq(
      (100L, Array(1f, 0f)), (200L, Array(1f, 0f)), // exact tie -> 200
      (300L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2f, 0f)),   // cos 1 vs 100/200 -> nearest 200, dropped
      (2L, Array(0f, 3f)),   // cos 1 vs 300 -> dropped
      (3L, Array(1f, 1f)),   // cos .707107 everywhere -> tie -> 300, kept
      (4L, Array(-1f, 0f)))  // best is cos 0 vs 300 -> kept
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontam(corpus, holdout, eps = 0.8)
      .select("vec_id", "nearest_holdout", "max_cos", "kept")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 200L, 1.0, false), (2L, 300L, 1.0, false),
      (3L, 300L, 0.707107, true), (4L, 300L, 0.0, true)), s"got $got")
  }
}
