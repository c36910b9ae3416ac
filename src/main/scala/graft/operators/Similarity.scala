package graft.operators

import graft.store.SegmentStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths per the training-data-pipeline brief:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness
  *    baseline. Queries are broadcast; the corpus is scanned once,
  *    partition-parallel, and per-query top-k is a windowed rank
  *    (small k) — no O(n²) shuffle.
  *  - [[lshTopK]]: random-hyperplane (sign) LSH — the scale path. The
  *    corpus is bucketed by a b-bit sketch; a query only scores
  *    candidates in buckets within `probeDist` Hamming distance of its
  *    own sketch, turning a full scan into a bucket-pruned scan.
  *
  * All vector math is double-precision built-in array expressions
  * (`zip_with` + `aggregate`) — codegen'd, deterministic fold order,
  * portable to any SQL oracle.
  */
object Similarity {

  /** Sequential-fold dot product in double precision — the native
    * codegen'd [[graft.plans.DotProduct]] expression. Bit-identical to
    * the composed `aggregate(zip_with(...))` form but stays inside
    * whole-stage codegen instead of the interpreted
    * higher-order-function path.
    */
  def dot(a: Column, b: Column): Column = ColumnBridge.column(
    graft.plans.DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (0 for zero-norm vectors rather than NaN/error). */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(a, b, norm(a), norm(b))

  /** Cosine with PRE-STAGED norms: per-pair evaluation does one dot
    * fold instead of three. Joins should compute each side's norm once
    * per VECTOR (before the join), not once per pair — at n·m pairs
    * that is the difference between 1 and 3 interpreted array folds in
    * the hot loop. Bit-identical to [[cosine]] (same fold, same
    * guard).
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column = {
    val d = na * nb
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Pair-scoring budget per map task for [[bruteForceTopK]]: each map
    * task materializes and LOCALLY SORTS (its corpus slice × all
    * queries) scored rows ahead of the partial WindowGroupLimit that
    * cuts them to k per query, so per-task sort memory is
    * pairsPerTask · ~24 B ≈ 50 MB at this default — the knob that
    * keeps the exact all-pairs gate memory-bounded (zero spill) at
    * ANY corpus size. With a fixed core-count exchange the per-task
    * pair load grows ∝ corpus·queries: the ×30 media gate put ~17M
    * pairs in each of 32 tasks and spilled 12.5 GB under a crowded
    * heap (BASELINE r14) — quadratic DATA is the gate's documented
    * nature, but quadratic PER-TASK memory was an avoidable artifact
    * of partitioning by cores instead of by pairs.
    */
  val BruteForcePairsPerTask: Long = 2000000L

  /** Corpus-side exchange width for [[bruteForceTopK]]: enough tasks
    * that no task sorts more than [[BruteForcePairsPerTask]] pairs,
    * never fewer than the cluster's cores (tiling is free
    * parallelism), hard-capped at 32768 tasks (scheduling overhead —
    * past that, raise the per-task budget instead). Pure function,
    * spec-pinned.
    */
  def bruteForcePartitionCount(nQueries: Long, nCorpus: Long,
                               minParts: Int): Int = {
    val byPairs = nQueries * nCorpus / BruteForcePairsPerTask + 1
    math.min(32768L, math.max(minParts.toLong, byPairs)).toInt
  }

  /** Exact cosine top-k: for each row of `queries`, the k nearest
    * `corpus` rows. Output: (query_id, neighbor_id, cos, rank).
    * `queries` must be small enough to broadcast (typical: a probe
    * set); `corpus` can be arbitrarily large — it streams through one
    * scan with no shuffle except the final per-query top-k, whose
    * input is already reduced to candidate scores.
    *
    * Memory shape (the tiled-exact gate, round 15): the corpus side
    * is exchanged into [[bruteForcePartitionCount]] slices — sized
    * from two cheap counts so each map task scores and sorts at most
    * [[BruteForcePairsPerTask]] pairs before the map-side partial
    * WindowGroupLimit cuts them to k per query. Tiling changes the
    * task grid, not the answer: the global top-k is the re-rank of
    * the per-slice survivors under the same (cos DESC, id ASC)
    * comparator, so the result is bit-identical at any width (the
    * hash gates pin it). Work is still all-pairs BY DESIGN — this is
    * the exactness gate the approximate family floors against, never
    * the 100 TB production path (that is IVF/LSH).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     queryId: String = "query_id", corpusId: String = "neighbor_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryId), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val c0 = corpus.select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    // two tiny count jobs size the exchange (queries is probe-sized;
    // corpus counts are metadata-cheap on parquet and cache-hit cheap
    // on the memoized vector frames) — the price of a gate that
    // cannot spill regardless of session heap pressure
    val nParts = bruteForcePartitionCount(q.count(), c0.count(),
      queries.sparkSession.sparkContext.defaultParallelism)
    val c = c0.repartition(nParts)
    val scored = c.join(broadcast(q), col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        round(cosineWithNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")), 6).as("cos"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cos").desc, col(corpusId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random unit-ish hyperplane component for
    * (plane p, dimension d): a hash mapped into [−1, 1). Fixed by
    * (p, d) only — no RNG at plan time, reproducible across runs.
    */
  private def planeComponent(p: Int, d: Column): Column =
    (xxhash64(lit(p), d).cast("double") / lit(Long.MaxValue.toDouble))

  /** b-bit sign sketch of a vector under `bits` hashed hyperplanes —
    * the native one-pass codegen'd [[graft.plans.SignSketch]]
    * expression (bit-identical to [[signSketchComposed]], which ran
    * `bits` interpreted HOF folds per vector in the LSH hot loop).
    */
  def signSketch(vec: Column, bits: Int): Column =
    ColumnBridge.column(graft.plans.SignSketch(
      ColumnBridge.expression(vec), bits))

  /** Built-ins-only sign sketch (same planes, same fold — `bits`
    * interpreted passes): the portability fallback and the
    * property-test twin that pins the native expression's contract.
    */
  def signSketchComposed(vec: Column, bits: Int): Column = {
    val dims = sequence(lit(0), size(vec) - 1)
    val bitsCols = (0 until bits).map { p =>
      val proj = aggregate(
        zip_with(vec, dims, (x, d) => x.cast("double") * planeComponent(p, d)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0.0, call_function("shiftleft", lit(1L), lit(p))).otherwise(0L)
    }
    bitsCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF-style approximate cosine top-k — the coarse-quantizer scale
    * path: every corpus vector is assigned to its nearest of
    * `nCentroids` coarse centroids (the inverted file); a query scores
    * only the lists of its `nProbe` nearest centroids, reached by an
    * EQUI-join on centroid id. Recall/latency is (nCentroids, nProbe);
    * nProbe = nCentroids degenerates to exact brute force.
    *
    * Centroids here are a deterministic hash-ordered corpus sample
    * (k-means training is orthogonal to the pipeline shape and would
    * slot in as a better `cents` frame). Assignment is the native
    * [[graft.plans.IvfAssign]] map over the driver-resident quantizer
    * — no corpus-side join or shuffle at all.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, nAssign: Int = 1,
              queryId: String = "query_id", corpusId: String = "neighbor_id",
              vecCol: String = "embedding"): DataFrame = {
    val c = graft.Tables.spread(corpus).select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val cents = c.orderBy(xxhash64(col(corpusId))).limit(nCentroids)
      .select(col(corpusId).as("centroid_id"), col("__cv").as("centroid"))
    ivfProbe(queries, c, cents, k, nProbe, nAssign, queryId, corpusId, vecCol)
  }

  /** Expected cluster population the auto-sized quantizer targets.
    * 128 reproduces the engine's gate fixtures at sf0.1 (2,000
    * embeddings / 128 = 16 centroids — the fixed quantizer the oracle
    * gates were built on), and keeps the per-cluster work constant as
    * the corpus grows.
    */
  val AutoListSize = 128

  /** Production coarse-quantizer sizing — the rule that keeps the
    * cluster-blocked family LINEAR in corpus size:
    * `nCentroids = corpus / targetListSize` (clamped). A FIXED
    * nCentroids means cluster populations grow ∝ corpus, and every
    * within-cluster scan (SemDeDup's pair join ∝ pop², IVF probing
    * ∝ pop·nProbe) goes super-linear — the measured ×30 artifact
    * (45.6×/36.1× at fixed 16). Constant expected population makes
    * within-cluster work per row constant, so totals track corpus
    * size; the quantizer itself stays driver-resident (≤ 2¹⁶ rows —
    * the FAISS coarse-quantizer convention).
    */
  def autoCentroidCount(corpusCount: Long,
                        targetListSize: Int = AutoListSize,
                        minCentroids: Int = 16,
                        maxCentroids: Int = 1 << 16): Int = {
    val t = math.max(1, targetListSize).toLong
    // overflow-safe ceil division (corpusCount + t - 1 wraps at Long.Max)
    val ceilDiv = corpusCount / t + (if (corpusCount % t > 0) 1L else 0L)
    math.max(minCentroids.toLong, math.min(maxCentroids.toLong, ceilDiv)).toInt
  }

  /** Auto-quantizer size at/above which training and assignment go
    * TWO-LEVEL ([[kmeansCentroidsHier]] + [[graft.plans.IvfAssignHier]]).
    * Below it the flat path's N·k assignment is cheap and the trainer
    * is ml.KMeans — every hash/floor gate fixture (k ≤ 16 at sf ≤ 0.1)
    * stays byte-identical. Above it the flat shape is the quadratic
    * term the ×10/×30 media-IVF rehearsals measured: with k ∝
    * corpus/listSize, corpus assignment is O(N²/listSize) flat but
    * O(N·√k) two-level.
    */
  val HierThreshold = 512

  /** [[kmeansCentroids]] at the [[autoCentroidCount]] size — ONE
    * bounded count job, then the trainer. The production default:
    * pass an explicit k only to pin a fixture (the hash/floor gates
    * keep k = 16 so results stay comparable across rounds). At
    * k ≥ `hierThreshold` the trainer and the frame switch to the
    * two-level form (extra `supercell`/`__supervec` columns — every
    * quantizer consumer in this file detects them and assigns through
    * [[graft.plans.IvfAssignHier]]); the auto family is floor-gated,
    * not hash-gated, exactly so the production sizing can evolve.
    */
  def kmeansCentroidsAuto(corpus: DataFrame, maxIter: Int = 5, seed: Long = 42L,
                          vecCol: String = "embedding",
                          hierThreshold: Int = HierThreshold): DataFrame = {
    val n = corpus.count()
    val k0 = autoCentroidCount(n)
    // Duplicate-heavy corpora (decoded media features, quantized
    // embeddings): a quantizer cannot make use of more centroids than
    // DISTINCT vectors, and both trainers degrade when k approaches
    // the distinct count (ml.KMeans converges to duplicated centers;
    // the hier init's expected-quota hash-sample collapses under
    // value collisions — measured on the ×10 media corpus: 25k rows,
    // 32 distinct values). One map-side HLL pass decides; when the
    // distinct set is quantizer-sized, train on it EXACTLY (it is
    // driver-bounded by construction: < 2·k0 ≤ 2¹⁷ rows).
    val approxDistinct = corpus
      .agg(approx_count_distinct(xxhash64(col(vecCol)))).head().getLong(0)
    if (approxDistinct < 2L * k0) {
      // multiplicity is intentionally dropped: a coarse quantizer
      // partitions the SPACE; dedup-before-train is the standard way
      // to keep duplicate mass from pinning every center on one value
      val d = corpus.dropDuplicates(vecCol).localCheckpoint()
      val dn = d.count()
      if (dn <= k0)
        // the EXACT quantizer: every distinct vector is a centroid
        // (k-means over n = k points converges there anyway); ids in
        // deterministic hash order, frame bounded < 2·k0 rows
        d.select(col(vecCol).as("centroid"))
          .withColumn("centroid_id",
            row_number().over(Window.orderBy(xxhash64(col("centroid"))))
              .cast("long") - 1)
          .select(col("centroid_id"), col("centroid"))
      else if (k0 < hierThreshold) kmeansCentroids(d, k0, maxIter, seed, vecCol)
      else kmeansCentroidsHier(d, k0, maxIter, seed, vecCol, knownCount = dn,
        targetList = math.max(1, math.ceil(dn.toDouble / k0).toInt))
    }
    else if (k0 < hierThreshold) kmeansCentroids(corpus, k0, maxIter, seed, vecCol)
    else kmeansCentroidsHier(corpus, k0, maxIter, seed, vecCol, knownCount = n)
  }

  /** Two-level (hierarchical) k-means coarse quantizer — the trainer
    * that keeps the AUTO-sized family tractable once k ∝ corpus makes
    * flat training quadratic (ml.KMeans scans all k centers for all N
    * points every iteration). Standard hierarchical shape (the
    * inverted-multi-index / big-k FAISS convention):
    *
    *  1. level-1: ml.KMeans with S = ⌈√k⌉ supercells, trained on a
    *     deterministic hash-sample of ≤ 256·S vectors (k-means needs
    *     ~O(100) points per center — more adds cost, not quality);
    *  2. every corpus vector maps to its supercell (flat
    *     [[graft.plans.IvfAssign]], S-sized scan — cheap);
    *  3. level-2 init: an expected-quota deterministic hash-sample
    *     inside each supercell (quota = pop/[[AutoListSize]], ≥ 1 —
    *     the constant-list-population rule applied per supercell),
    *     entirely map-side;
    *  4. `lloydIters` distributed Lloyd refinements where each vector
    *     updates only within its NEAREST supercell
    *     ([[graft.plans.IvfAssignHier]] at superProbe = 1 — a pure
    *     map), and the per-(centroid, dim) means aggregate through
    *     micro-rounded longs (the [[kmeansStep]] convention: integer
    *     sums are order-exact, so the trainer is deterministic under
    *     any task schedule).
    *
    * Total cost O(N·√k) per pass vs the flat trainer's O(N·k). The
    * returned frame carries (centroid_id, centroid, supercell,
    * __supervec); consumers without two-level awareness can ignore the
    * extra columns and still assign flat against (centroid_id,
    * centroid) — the hierarchy only ACCELERATES assignment, the
    * centroids are the quantizer. Centroid count tracks the quota sum
    * (≈ k), not exactly k — the auto rule targets list POPULATION,
    * not a centroid census.
    */
  def kmeansCentroidsHier(corpus: DataFrame, k: Int, maxIter: Int = 5,
                          seed: Long = 42L, vecCol: String = "embedding",
                          lloydIters: Int = 2,
                          knownCount: Long = 0L,
                          targetList: Int = AutoListSize): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vcol = col(vecCol)
    val n = if (knownCount > 0) knownCount else corpus.count()
    val nS = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val sampleTarget = 256L * nS
    val l1Corpus = if (n <= sampleTarget) corpus else
      corpus.filter(pmod(xxhash64(vcol), lit(math.max(1L, n / sampleTarget))) === 0)
    val supers = kmeansCentroids(l1Corpus, nS, maxIter, seed, vecCol)
      .orderBy(col("centroid_id")).collect()
    val sIds = supers.map(_.getLong(0))
    val sVecs = supers.map(_.getSeq[Float](1).toArray)
    def toSuper(vec: Column): Column = element_at(ColumnBridge.column(
      graft.plans.IvfAssign(ColumnBridge.expression(vec), sIds, sVecs, 1)), 1)

    val assigned = corpus.select(vcol.as("__v"), toSuper(vcol).as("__sc"))
    // expected-quota init sample per supercell, plus a min-by-hash
    // guarantee row so no non-empty supercell inits empty; dedupe on
    // (supercell, vector hash) collapses the guarantee into the sample
    // when the sample already caught it
    val steps = assigned.groupBy(col("__sc")).agg(count(lit(1)).as("__pop"))
      .withColumn("__quota",
        greatest(lit(1L), round(col("__pop") / lit(targetList.toDouble)).cast("long")))
      .withColumn("__step",
        greatest(lit(1L), (col("__pop") / col("__quota")).cast("long")))
    val sampled = assigned.join(broadcast(steps), Seq("__sc"))
      .filter(pmod(xxhash64(col("__v")), col("__step")) === 0)
      .select(col("__sc"), col("__v"))
    val guaranteed = assigned.groupBy(col("__sc"))
      .agg(min_by(col("__v"), xxhash64(col("__v"))).as("__v"))
    val initRows = sampled.union(guaranteed)
      .withColumn("__h", xxhash64(col("__v")))
      .dropDuplicates("__sc", "__h")
      .orderBy(col("__sc"), col("__h"))
      .select(col("__sc"), col("__v")).collect()
    var scs = initRows.map(_.getLong(0))
    var cvecs = initRows.map(_.getSeq[Float](1).toArray)

    // distributed Lloyd refinements, supercell-restricted
    val d = cvecs.headOption.map(_.length).getOrElse(0)
    var it = 0
    while (it < lloydIters && d > 0) {
      val q = hierArrays(scs, sVecs, cvecs)
      val nearest = element_at(ColumnBridge.column(graft.plans.IvfAssignHier(
        ColumnBridge.expression(vcol), q.superVecs, q.starts, q.ids, q.vecs, 1, 1)), 1)
      val means = corpus
        .select(nearest.as("__cid"), posexplode(vcol).as(Seq("__i", "__x")))
        .groupBy(col("__cid"), col("__i"))
        .agg(count(lit(1)).as("__n"),
          sum(round(col("__x").cast("double") * lit(1e6)).cast("long")).as("__s"))
        .collect()
        .map(r => (r.getLong(0), (r.getInt(1),
          math.round(r.getLong(3).toDouble / r.getLong(2)) / 1e6)))
        .groupBy(_._1)
      val refined = q.ids.indices.map { j =>
        means.get(q.ids(j)) match {
          case Some(dims) =>
            val v = q.vecs(j).clone()
            dims.foreach { case (_, (i, x)) => if (i < v.length) v(i) = x.toFloat }
            v
          case None => q.vecs(j) // empty cluster keeps its vector
        }
      }.toArray
      scs = q.superOf
      cvecs = refined
      it += 1
    }

    val q = hierArrays(scs, sVecs, cvecs)
    q.ids.indices.map { j =>
      (q.ids(j), q.vecs(j), q.superOf(j), sVecs(sIds.indexOf(q.superOf(j))))
    }.toDF("centroid_id", "centroid", "supercell", "__supervec")
  }

  /** Grouped driver layout for the two-level expression: members
    * sorted by supercell (then original order), global centroid ids =
    * the sorted index, empty supercells dropped. `superOf(j)` is the
    * supercell id of member j.
    */
  private final case class HierArrays(ids: Array[Long], vecs: Array[Array[Float]],
                                      superVecs: Array[Array[Float]],
                                      starts: Array[Int], superOf: Array[Long])
  private def hierArrays(memberSupercell: Array[Long],
                         allSuperVecs: Array[Array[Float]],
                         memberVecs: Array[Array[Float]]): HierArrays = {
    val order = memberSupercell.indices.sortBy(j => (memberSupercell(j), j))
    val ids = order.indices.map(_.toLong).toArray
    val vecs = order.map(j => memberVecs(j)).toArray
    val superOf = order.map(j => memberSupercell(j)).toArray
    val present = superOf.distinct.sorted
    val starts = new Array[Int](present.length + 1)
    var j = 0
    for (p <- present.indices) {
      while (j < superOf.length && superOf(j) == present(p)) j += 1
      starts(p + 1) = j
    }
    HierArrays(ids, vecs, present.map(s => allSuperVecs(s.toInt)), starts, superOf)
  }

  /** Lloyd's k-means coarse-quantizer trainer for [[ivfTopK]] — the
    * Spark-first form: `ml.KMeans` (distributed, mini-batch-free
    * Lloyd's with k-means|| init) over the embedding column via the
    * built-in `array_to_vector` bridge, centers back out as
    * `array<float>` rows (the corpus's element type, so the native
    * `graft_dot` scoring path applies unchanged). Deterministic under
    * a fixed seed. Returns (centroid_id: long, centroid: array<float>).
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, maxIter: Int = 5, seed: Long = 42L,
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = corpus.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features")
      .fit(feats)
    val spark = corpus.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toArray.map(_.toFloat)) }
      .toDF("centroid_id", "centroid")
  }

  /** One exact Lloyd iteration over an explicit centroid frame: assign
    * every corpus vector to its nearest centroid (max cosine, ties →
    * higher centroid id — the [[graft.plans.IvfAssign]] comparator),
    * then emit the per-(cluster, dimension) re-estimated mean. This is
    * the hash-gatable core of [[kmeansCentroids]]: the trainer itself
    * is floor-gated through IVF recall (ml.KMeans internals aren't
    * restatable in SQL), but ONE step from deterministic seeds is — so
    * the assignment math and the mean update get an exact cross-engine
    * gate.
    *
    * Scale shape: assignment is the native driver-resident-quantizer
    * map (no join, no corpus shuffle); `posexplode` fans each row into
    * its dims but the per-(cluster, dim) aggregation partial-aggregates
    * map-side down to k·dim groups before the only exchange.
    *
    * Returns `(cluster, i, n_vecs, sum_micro, mean_micro)` — one row
    * per (cluster, 1-based dimension); components are micro-rounded to
    * BIGINT before the cross-row sum (the engine's integer-exact
    * cross-engine convention), and `mean_micro = round(sum/n)`.
    */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame,
                 vecCol: String = "embedding"): DataFrame = {
    val centRows = centroids
      .select(col("centroid_id").cast("long"), col("centroid")).collect()
    val ids = centRows.map(_.getLong(0))
    val vecs = centRows.map(_.getSeq[Float](1).toArray)
    val nearest = element_at(ColumnBridge.column(graft.plans.IvfAssign(
      ColumnBridge.expression(col(vecCol)), ids, vecs, 1)), 1)
    graft.Tables.spread(corpus)
      .select(nearest.as("cluster"), posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col("cluster"), (col("i") + 1).cast("long").as("i"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(round(col("x").cast("double") * lit(1e6)).cast("long")).as("sum_micro"))
      .withColumn("mean_micro",
        round(col("sum_micro").cast("double") / col("n_vecs")).cast("long"))
      .orderBy(col("cluster"), col("i"))
  }

  /** Cluster-balanced diverse sampling — the "diversify" stage of a
    * dedup-then-diversify curation pipeline (D4, Tirumala et al.
    * 2023; DataComp's cluster-based filtering is the same shape):
    * assign every vector to its nearest centroid (same comparator as
    * [[kmeansStep]] — max cosine, ties → higher centroid id), then
    * keep a fixed per-cluster quota in deterministic md5-of-id order,
    * so the selection spreads across the embedding space's regions
    * instead of mirroring its density the way a uniform sample does.
    *
    * Scale shape: assignment is the native driver-resident-quantizer
    * map (no join, no corpus exchange); the per-cluster ranking is ONE
    * shuffle on `cluster`, and because only `rk <= quota` rows are
    * emitted the rank filter collapses to a WindowGroupLimit — each
    * map task pre-prunes to its local per-cluster top-quota before the
    * exchange, so the shuffled volume is ≈ nClusters·quota per task,
    * not the corpus (plan-asserted in SimilaritySpec).
    *
    * Returns `(idCol, cluster, rk)` for the kept rows, rk 1-based
    * within cluster.
    */
  def diverseSample(corpus: DataFrame, centroids: DataFrame, quota: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val centRows = centroids
      .select(col("centroid_id").cast("long"), col("centroid")).collect()
    val ids = centRows.map(_.getLong(0))
    val vecs = centRows.map(_.getSeq[Float](1).toArray)
    val nearest = element_at(ColumnBridge.column(graft.plans.IvfAssign(
      ColumnBridge.expression(col(vecCol)), ids, vecs, 1)), 1)
    // md5 of the decimal id string — portable across engines (DuckDB
    // md5(CAST(id AS VARCHAR)) is bit-identical), deterministic, and
    // uncorrelated with id order; id itself breaks the (impossible
    // for distinct ids) tie to keep the contract total-ordered
    val w = Window.partitionBy(col("cluster"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    graft.Tables.spread(corpus)
      .select(col(idCol), nearest.as("cluster"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= quota)
      .select(col(idCol), col("cluster"), col("rk"))
      .orderBy(col(idCol))
  }

  /** IVF top-k over TRAINED centroids: train with [[kmeansCentroids]],
    * then probe. Same recall/latency contract as [[ivfTopK]], better
    * list balance than the sampled quantizer on clustered corpora (a
    * sampled centroid set mirrors density, k-means spreads it).
    *
    * `nCentroids` DEFAULTS TO AUTO (0 sentinel → [[autoCentroidCount]]
    * of the corpus): a fixed quantizer size is a fixture device, not a
    * production setting — see [[autoCentroidCount]] for why. Gate
    * fixtures pin 16 explicitly.
    */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
                     nCentroids: Int = 0, nProbe: Int = 4, nAssign: Int = 1,
                     maxIter: Int = 5, seed: Long = 42L,
                     queryId: String = "query_id", corpusId: String = "neighbor_id",
                     vecCol: String = "embedding"): DataFrame = {
    val nc = if (nCentroids > 0) nCentroids else autoCentroidCount(corpus.count())
    ivfTopKWithCentroids(queries, corpus,
      kmeansCentroids(corpus, nc, maxIter, seed, vecCol),
      k, nProbe, nAssign, queryId, corpusId, vecCol)
  }

  /** IVF top-k over a PRE-TRAINED centroid frame (`(centroid_id,
    * centroid)` as produced by [[kmeansCentroids]]) — the production
    * shape: the quantizer trains ONCE per corpus and every query
    * batch probes the same frame, instead of re-running k-means per
    * call.
    */
  def ivfTopKWithCentroids(queries: DataFrame, corpus: DataFrame,
                           centroids: DataFrame, k: Int, nProbe: Int = 4,
                           nAssign: Int = 1,
                           queryId: String = "query_id",
                           corpusId: String = "neighbor_id",
                           vecCol: String = "embedding"): DataFrame = {
    val c = graft.Tables.spread(corpus).select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    ivfProbe(queries, c, centroids, k, nProbe, nAssign, queryId, corpusId, vecCol)
  }

  /** Shared IVF probe machinery: assign corpus rows to their
    * `nAssign` best centroids and queries to their `nProbe` best, both
    * through the native [[graft.plans.IvfAssign]] expression over the
    * driver-resident quantizer, then equi-join on centroid id and
    * exact-score within the probed lists.
    *
    * The corpus side is a pure map — scan → assign → explode →
    * broadcast-join — with ZERO corpus-wide exchanges (the previous
    * form paid a broadcast-nested-loop join against the centroid frame
    * plus a `groupBy(corpusId)` shuffle of the whole corpus just to
    * pick each row's argmax list). Both sides rank with the identical
    * comparator (cos desc, id desc), so a duplicate corpus vector and
    * its query land in the same list on cosine ties.
    *
    * `nAssign > 1` is IVF multi-assignment ("spill"): each corpus
    * vector is indexed under its runner-up centroids too, which is
    * where single-assignment IVF loses recall (nearest neighbors
    * sitting just across a Voronoi boundary from the probed cells).
    * Cost is nAssign× index rows; candidates are deduped per
    * (query, neighbor) before ranking.
    */
  private def ivfProbe(queries: DataFrame, c: DataFrame, cents: DataFrame,
                       k: Int, nProbe: Int, nAssign: Int,
                       queryId: String, corpusId: String, vecCol: String): DataFrame = {
    // The quantizer collects to the driver: bounded by nCentroids BY
    // CONSTRUCTION (a coarse quantizer IS driver-sized; FAISS holds it
    // in RAM on every worker for the same reason). A two-level frame
    // ([[kmeansCentroidsHier]]) assigns through IvfAssignHier — the
    // O(√k)-per-row path the auto sizing needs — and both sides use
    // the SAME quantizer object, so probes land exactly where
    // indexing put their candidates.
    val q = collectQuantizerHier(cents)
    val assigned = c.select(col(corpusId), col("__cv"), col("__cn"),
      explode(q.assign(col("__cv"), nAssign)).as("__centroid"))
    val probes = queries.select(col(queryId), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"),
        explode(q.assign(col(vecCol), nProbe)).as("__centroid"))
    scoreProbedLists(assigned, probes, k, dedupe = nAssign > 1,
      queryId, corpusId)
  }

  /** Score an (id, __cv, __cn, __centroid) candidate frame against a
    * small (id, __qv, __qn, __centroid) probe frame and rank per-query
    * top-k — shared by the in-memory probe ([[ivfProbe]]) and the
    * on-disk index probe ([[probeIvfIndex]]).
    */
  private def scoreProbedLists(assigned: DataFrame, probes: DataFrame,
                               k: Int, dedupe: Boolean,
                               queryId: String, corpusId: String): DataFrame = {
    val scored = assigned.join(broadcast(probes), Seq("__centroid"))
      .filter(col(queryId) =!= col(corpusId))
      .select(col(queryId), col(corpusId),
        round(cosineWithNorms(col("__qv"), col("__cv"), col("__qn"), col("__cn")), 6)
          .as("cos"))
    // Spilled indexing can surface the same (query, neighbor) through
    // several probed lists; both copies carry the identical score, so
    // the dedup is a pure duplicate drop, and it rides on the
    // CANDIDATE set (already |q|·probe-fraction-sized), not the corpus.
    val deduped = if (dedupe)
      scored.dropDuplicates(queryId, corpusId) else scored
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cos").desc, col(corpusId).asc)
    deduped.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Materialize the corpus as an ON-DISK IVF index: rows written
    * Hive-partitioned by their assigned coarse-centroid id
    * (`centroid=<id>/` directories; `nAssign ≥ 2` spills each vector
    * into its runner-up partitions too). This is the serving shape
    * for a corpus too large to keep resident: a probe against the
    * written index is PARTITION PRUNING — the scan planner reads only
    * the `nProbe` probed directories and never lists the rest — so
    * ANN candidate pruning costs what a `WHERE partition IN (...)`
    * costs, with no index service beside the table. One narrow
    * map-side pass over the corpus (native assignment + explode) +
    * the partitioned write; no shuffle.
    *
    * The lists are the seed of a [[graft.store.SegmentStore]], so a
    * batch-built index can be seeded and then incrementally
    * maintained in the SAME destDir by the streaming appender
    * ([[graft.streaming.Incremental.ivfIndexStream]]). The quantizer
    * checksum is the store's geometry ([[ivfIndex]]).
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame, path: String,
                    nAssign: Int = 1,
                    corpusId: String = "neighbor_id",
                    vecCol: String = "embedding"): Unit = {
    // the quantizer collects ONCE and serves both the assignment and
    // the geometry checksum (round-17 advisor fix: ivfGeometry used to
    // re-collect the full centroid frame a second time)
    val q = collectQuantizerHier(centroids)
    ivfIndex(corpus.sparkSession, path, ivfGeometryOf(q.ids, q.vecs))
      .build(ivfIndexRowsQ(corpus, q, nAssign, corpusId, vecCol))
  }

  /** The store of the IVF index at `path`, lists by `centroid`, with
    * its sidecar inside `path`. */
  private[graft] def ivfIndex(spark: SparkSession, path: String,
                              geometry: Map[String, String]): SegmentStore =
    SegmentStore(spark, path, "centroid", Some(SegmentStore.Geometry(path, geometry)))

  /** IVF geometry = WHICH quantizer partitioned the lists: a
    * driver-side checksum of the (id, vector) centroid set. A probe
    * whose centroid frame differs from the build's assigns queries
    * to lists the index never populated — the silent-miss class the
    * round-16 sidecars exist for.
    */
  private[graft] def ivfGeometryOf(ids: Array[Long],
                                   vecs: Array[Array[Float]]): Map[String, String] = {
    var h = 1125899906842597L
    ids.zip(vecs).sortBy(_._1).foreach { case (id, v) =>
      h = h * 31 + id
      v.foreach(f => h = h * 31 + java.lang.Float.floatToIntBits(f))
    }
    Map("kind" -> "ivf", "quantizer" -> java.lang.Long.toHexString(h))
  }

  /** The index-layout frame behind [[writeIvfIndex]]: one assigned
    * `centroid` row per (vector, assignment) — shared with the
    * streaming index maintenance ([[graft.streaming.Incremental
    * .ivfIndexStream]]) so batch build and incremental append can
    * never diverge on the assignment.
    */
  def ivfIndexRows(corpus: DataFrame, centroids: DataFrame,
                   nAssign: Int = 1,
                   corpusId: String = "neighbor_id",
                   vecCol: String = "embedding"): DataFrame =
    ivfIndexRowsQ(corpus, collectQuantizerHier(centroids), nAssign, corpusId, vecCol)

  /** Collected-quantizer form of [[ivfIndexRows]] for callers that
    * hold the collected quantizer already — the streaming index loop
    * collects it once at query start instead of once per micro-batch.
    * Batch build and incremental append sharing ONE collected object
    * is also what keeps a two-level quantizer's (approximate)
    * assignment identical on both sides.
    */
  private[graft] def ivfIndexRowsQ(corpus: DataFrame, q: CollectedQuantizer,
                                   nAssign: Int,
                                   corpusId: String, vecCol: String): DataFrame =
    corpus.select(col(corpusId), col(vecCol),
      explode(q.assign(col(vecCol), nAssign)).as("centroid"))

  /** Top-k probe against a [[writeIvfIndex]] layout. The probed
    * centroid set becomes BOTH a literal partition-pruning predicate
    * (`centroid IN (...)` — only those directories are scanned;
    * plan-asserted in SimilaritySpec) and the per-query equi-join
    * that keeps each query scoring only its own lists. Same
    * quantizer + comparator as the write side, so probes land exactly
    * where indexing put their candidates.
    */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, centroids: DataFrame, k: Int,
                    nProbe: Int = 4, dedupe: Boolean = true,
                    queryId: String = "query_id",
                    corpusId: String = "neighbor_id",
                    vecCol: String = "embedding"): DataFrame = {
    // one collect serves both the assignment and the geometry check of
    // the scan (the checksum must not re-collect the centroid frame)
    val q = collectQuantizerHier(centroids)
    // materialized once: the frame feeds BOTH the partition-pruning
    // collect below and the scoring join — without pinning it, a
    // nondeterministic queries frame (sample, unordered limit) could
    // assign different probe centroids in the two evaluations and the
    // scan would prune partitions the join then expects to probe
    val probes = queries.select(col(queryId), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"),
      explode(q.assign(col(vecCol), nProbe)).as("__centroid"))
      .localCheckpoint()
    // the probe list collects driver-side: bounded by |queries|·nProbe
    // BY CONTRACT (queries are a small probe batch — the same premise
    // that lets them broadcast into the scoring join)
    val probedIds = probes.select(col("__centroid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val assigned = ivfIndex(spark, path, ivfGeometryOf(q.ids, q.vecs)).scan(probedIds, None)
      .select(col(corpusId), col(vecCol).as("__cv"), norm(col(vecCol)).as("__cn"),
        col("centroid").cast("long").as("__centroid"))
    scoreProbedLists(assigned, probes, k, dedupe, queryId, corpusId)
  }

  /** Collect a (centroid_id, centroid) quantizer frame to driver
    * arrays — bounded by nCentroids by construction.
    */
  private[graft] def collectQuantizer(centroids: DataFrame): (Array[Long], Array[Array[Float]]) = {
    val rows = centroids
      .select(col("centroid_id").cast("long"), col("centroid")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray))
  }

  /** Number of supercells a two-level assignment scans members of.
    * 4 mirrors the probe-side nProbe default: the true nearest
    * centroid is overwhelmingly inside the 4 nearest supercells (the
    * floor gates measure exactly this — the auto paths are
    * recall/fitness-floored, never hash-gated).
    */
  val SuperProbe = 4

  /** A driver-collected quantizer plus its optional two-level layout.
    * `ids`/`vecs` always hold EVERY centroid (flat consumers — the
    * SemDeDup centroid-cosine broadcast frame, index writers — read
    * them directly); `hier` adds the supercell grouping that
    * [[assign]] routes through [[graft.plans.IvfAssignHier]].
    */
  private[graft] final case class CollectedQuantizer(
      ids: Array[Long], vecs: Array[Array[Float]],
      hier: Option[(Array[Array[Float]], Array[Int])]) {
    def assign(vec: Column, n: Int, superProbe: Int = SuperProbe): Column =
      hier match {
        case Some((sv, starts)) => ColumnBridge.column(graft.plans.IvfAssignHier(
          ColumnBridge.expression(vec), sv, starts, ids, vecs, superProbe, n))
        case None => ColumnBridge.column(graft.plans.IvfAssign(
          ColumnBridge.expression(vec), ids, vecs, n))
      }
  }

  /** [[collectQuantizer]] that detects the two-level columns
    * ([[kmeansCentroidsHier]]'s `supercell`/`__supervec`) and builds
    * the grouped member layout; a plain (centroid_id, centroid) frame
    * collects flat. Members sort by (supercell, centroid_id) — ids are
    * PRESERVED, only the scan layout reorders — and supercells with no
    * members are dropped (they could win the level-1 rank and offer
    * nothing).
    */
  private[graft] def collectQuantizerHier(centroids: DataFrame): CollectedQuantizer =
    if (!centroids.columns.contains("supercell"))
      collectQuantizer(centroids) match { case (ids, vecs) => CollectedQuantizer(ids, vecs, None) }
    else {
      val rows = centroids.select(col("centroid_id").cast("long"), col("centroid"),
          col("supercell").cast("long"), col("__supervec"))
        .collect()
        .sortBy(r => (r.getLong(2), r.getLong(0)))
      val ids = rows.map(_.getLong(0))
      val vecs = rows.map(_.getSeq[Float](1).toArray)
      val superOf = rows.map(_.getLong(2))
      val present = superOf.distinct
      val superVecs = present.map { s =>
        rows(superOf.indexOf(s)).getSeq[Float](3).toArray
      }
      val starts = new Array[Int](present.length + 1)
      var j = 0
      for (p <- present.indices) {
        while (j < superOf.length && superOf(j) == present(p)) j += 1
        starts(p + 1) = j
      }
      CollectedQuantizer(ids, vecs, Some((superVecs, starts)))
    }

  // ---- int8 quantization --------------------------------------------

  /** Symmetric per-vector int8 quantization of an embedding column:
    * scale = max(|x|)/127, q_i = round(x_i/scale) ∈ [−127, 127].
    * Returns a struct(scale: double, q: array<tinyint>) — a 4×
    * storage/shuffle cut for similarity workloads where coarse scoring
    * tolerates ~1% error (exact re-ranking stays on the float column).
    * Zero vectors quantize to scale 0 + zeros and dequantize exactly.
    * Built-in array expressions only — stays codegen-adjacent, no UDF.
    */
  def quantizeInt8(vec: Column): Column =
    // The max-|x| pass runs ONCE as the aggregate; the quantizing
    // transform reads it through the finish-lambda's bound variable.
    // (Referencing a free-standing aggregate expression inside the
    // lambda would re-evaluate it per element — the interpreted-HOF
    // re-evaluation trap.)
    aggregate(vec, lit(0.0d),
      (acc, v) => greatest(acc, abs(v.cast("double"))),
      m => struct(
        (m / 127.0d).as("scale"),
        when(m === 0.0d, transform(vec, _ => lit(0).cast("tinyint")))
          .otherwise(transform(vec,
            v => round(v.cast("double") * 127.0d / m).cast("int").cast("tinyint")))
          .as("q")))

  /** Inverse of [[quantizeInt8]]: x̂_i = q_i · scale, back to float. */
  def dequantizeInt8(qv: Column): Column =
    transform(qv.getField("q"),
      q => (q.cast("double") * qv.getField("scale")).cast("float"))

  /** SemDeDup semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a coarse
    * quantizer, find within-cluster near-duplicate groups at cosine ≥
    * `eps`, and keep ONE representative per group — the paper's rule:
    * the example with the LOWEST cosine to its cluster centroid (the
    * least prototypical survivor preserves diversity; ties → lowest
    * id). Composed entirely from gated parts, each already shaped for
    * scale:
    *
    *  1. assignment is the native zero-shuffle [[graft.plans.IvfAssign]]
    *     pass (nAssign = 1) — the corpus is never joined to pick a
    *     cluster;
    *  2. centroid similarity rides a BROADCAST join against the
    *     nCentroids-row quantizer frame;
    *  3. candidate pairs come from [[cosinePairsBlocked]] with the
    *     cluster as the block — an equi-join, never all-pairs, pinned
    *     shuffled;
    *  4. duplicate GROUPS (not just pairs) come from
    *     [[Dedup.connectedComponents]] — log-diameter contraction, so
    *     a chain a~b~c dedups as one group even when cos(a,c) < eps;
    *  5. the keep rule is one groupBy-min over (cent_cos, vec_id).
    *
    * Returns one row per corpus vector: (vec_id, cluster, component,
    * cent_cos, keep).
    */
  /** One-shot form: the staged scored pin is NOT released (it lives
    * until session end) — fine for a single invocation per session
    * (specs, one-off jobs); anything called repeatedly uses
    * [[semanticDedupReleasable]] and releases after materializing
    * (the semanticDedupQ / semanticDedupStream lifecycle).
    */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame, eps: Double,
                    corpusId: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    semanticDedupReleasable(corpus, centroids, eps, corpusId, vecCol)._1

  /** [[semanticDedup]] with the quantizer trained at the production
    * [[autoCentroidCount]] size — the default path for a corpus of
    * unknown scale. The within-cluster pair scan is ∝ population² per
    * cluster; constant expected population (not constant nCentroids)
    * is what keeps the total linear in corpus size. The hash-gated
    * fixture keeps an explicit 16-centroid quantizer so its oracle
    * stays restatable.
    */
  def semanticDedupAuto(corpus: DataFrame, eps: Double,
                        corpusId: String = "vec_id",
                        vecCol: String = "embedding",
                        maxIter: Int = 5, seed: Long = 42L): DataFrame =
    semanticDedup(corpus,
      kmeansCentroidsAuto(corpus.select(col(vecCol)), maxIter, seed, vecCol),
      eps, corpusId, vecCol)

  /** Driver-side row ceiling for [[semanticDecontam]]'s holdout —
    * the coarse-quantizer bound ([[autoCentroidCount]] maxCentroids):
    * past it the "eval-set-sized" premise is false and the caller
    * should swap sides or pre-reduce, not broadcast harder.
    */
  val MaxHoldoutRows: Int = 1 << 16

  /** Semantic (embedding-level) cross-split decontamination — the
    * embedding sibling of the n-gram family ([[graft.operators
    * .Decontam]]): a training document is DROPPED when its embedding
    * sits within cosine `eps` of ANY holdout (benchmark/eval)
    * document — the paraphrase leak the verbatim k-gram and winnow
    * filters can't see. Returns one row per corpus vector:
    * `(idCol, nearest_holdout, max_cos, kept)` with
    * `kept = max_cos < eps` — the caller filters or audits.
    *
    * Scale shape: the holdout side is DRIVER-SIZED BY CONSTRUCTION
    * (an eval set is thousands of rows where the corpus is billions —
    * the same boundedness argument as the coarse quantizer), so it
    * collects once and scores through the native codegen'd
    * [[graft.plans.IvfAssign]] — nearest holdout (max cosine, ties →
    * higher id) is a pure MAP over the corpus, and the one broadcast
    * join that recovers the winning cosine value is map-side too:
    * ZERO corpus-side exchanges at any corpus size. `max_cos` is
    * micro-rounded to 6dp BEFORE the eps comparison (the engine's
    * cross-engine boundary convention).
    *
    * Rows whose `vecCol` is NULL are EXCLUDED from the output (the
    * nearest-holdout expression is null for them and the recovery
    * join drops the row) — callers that must not lose unembeddable
    * rows route them around the scorer explicitly (the streaming
    * firewall passes them through as admitted).
    */
  def semanticDecontam(corpus: DataFrame, holdout: DataFrame, eps: Double,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    // The "driver-sized by construction" assumption is ENFORCED, not
    // assumed: collect through a limit one past the quantizer bound
    // (2^16 — the FAISS coarse-quantizer convention, the same ceiling
    // as autoCentroidCount's maxCentroids) so an oversized holdout
    // fails with a sized message instead of an opaque driver OOM.
    val rows = holdout.select(col(idCol).cast("long"), col(vecCol))
      .limit(MaxHoldoutRows + 1).collect()
    require(rows.nonEmpty, "semanticDecontam: empty holdout")
    require(rows.length <= MaxHoldoutRows,
      s"semanticDecontam: holdout exceeds $MaxHoldoutRows rows — the " +
        "holdout side must be driver-sized (an eval set, not a corpus); " +
        "swap the sides or pre-reduce the holdout")
    rows.foreach { r =>
      require(!r.isNullAt(1),
        s"semanticDecontam: null $vecCol in holdout row " +
          s"($idCol=${if (r.isNullAt(0)) "null" else r.getLong(0)}) — " +
          "every holdout document must carry an embedding")
    }
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val nearest = element_at(ColumnBridge.column(graft.plans.IvfAssign(
      ColumnBridge.expression(col(vecCol)), ids, vecs, 1)), 1)
    val hFrame = holdout.select(col(idCol).as("nearest_holdout"),
      col(vecCol).as("__hv"), norm(col(vecCol)).as("__hn"))
    graft.Tables.spread(corpus)
      .select(col(idCol), col(vecCol).as("__v"), norm(col(vecCol)).as("__n"),
        nearest.as("nearest_holdout"))
      .join(broadcast(hFrame), Seq("nearest_holdout"))
      .select(col(idCol), col("nearest_holdout"),
        round(cosineWithNorms(col("__v"), col("__hv"),
          col("__n"), col("__hn")), 6).as("max_cos"))
      .withColumn("kept", col("max_cos") < lit(eps))
  }

  /** [[semanticDedup]] plus a release handle that unpersists the
    * staged scored frame — repeated callers (the streaming twin runs
    * this once per micro-batch) must release after materializing the
    * result or cached corpus-sized blocks accumulate for the life of
    * the session.
    */
  def semanticDedupReleasable(corpus: DataFrame, centroids: DataFrame,
                              eps: Double, corpusId: String = "vec_id",
                              vecCol: String = "embedding")
      : (DataFrame, () => Unit) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = collectQuantizerHier(centroids)
    val assigned = corpus.select(col(corpusId).cast("long").as("vec_id"),
      col(vecCol).as("__v"), norm(col(vecCol)).as("__n"),
      explode(q.assign(col(vecCol), 1)).as("cluster"))
    val centDf = q.ids.zip(q.vecs).toSeq.toDF("cluster", "__cv")
      .withColumn("__cn", norm(col("__cv")))
    val scored = assigned.join(broadcast(centDf), Seq("cluster"))
      .withColumn("cent_cos", round(cosineWithNorms(col("__v"), col("__cv"),
        col("__n"), col("__cn")), 6))
      .select(col("vec_id"), col("cluster"), col("__v"), col("cent_cos"))
      // pinned: THREE consumers (pair join, keepers aggregate, final
      // join) would otherwise each re-run assignment + centroid
      // cosine over the whole corpus. persist, NOT localCheckpoint:
      // this frame is corpus-sized AND carries the full vectors, and
      // localCheckpoint's truncated lineage would make one executor
      // loss (or a dynamic-allocation scale-down) unrecoverable at
      // the 100 TB target. persist keeps the short deterministic
      // lineage (scan → IvfAssign → broadcast join) so lost blocks
      // recompute; MEMORY_AND_DISK bounds memory. At production scale
      // the assignment belongs on storage anyway ([[writeIvfIndex]]
      // layout) — then this pin disappears entirely.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = cosinePairsBlocked(scored, col("vec_id"), col("__v"),
      col("cluster"), eps)
    val comps = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")))
    val labeled = scored.select(col("vec_id"), col("cluster"), col("cent_cos"))
      .join(comps.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      // unpaired vectors are their own (kept) group
      .withColumn("component", coalesce(col("component"), col("vec_id")))
    val keepers = labeled.groupBy(col("component"))
      .agg(min(struct(col("cent_cos"), col("vec_id"))).as("__k"))
    (labeled.join(keepers, Seq("component"))
      .withColumn("keep",
        struct(col("cent_cos"), col("vec_id")) === col("__k"))
      .select(col("vec_id"), col("cluster"), col("component"),
        col("cent_cos"), col("keep")),
      () => { scored.unpersist(false); () })
  }

  /** Embedding near-duplicate pairs within blocks: all (a, b) pairs
    * sharing `blockCol` with cosine ≥ threshold. The block key is the
    * IVF-coarse-quantizer pattern — at 100 TB the key is the nearest
    * coarse centroid (or an LSH bucket) so candidate generation is an
    * equi-join, never an all-pairs cross join; here any precomputed
    * cluster/label column serves. Within-block pairing is exact.
    */
  def cosinePairsBlocked(df: DataFrame, idCol: Column, vecCol: Column,
                         blockCol: Column, threshold: Double): DataFrame = {
    val a = df.select(blockCol.as("block"), idCol.as("id_a"), vecCol.as("__va"),
      norm(vecCol).as("__na"))
    val b = df.select(blockCol.as("block"), idCol.as("id_b"), vecCol.as("__vb"),
      norm(vecCol).as("__nb"))
    // Pinned shuffled self-join: both sides are the full vector table;
    // a stats misestimate must never turn this into a driver broadcast
    // of every embedding (see Dedup.minhashCandidates).
    a.hint("shuffle_hash").join(b, Seq("block")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosineWithNorms(col("__va"), col("__vb"),
        col("__na"), col("__nb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"), col("cos"))
  }

  /** All XOR masks of width `bits` with popcount ≤ dist — the
    * multi-probe expansion set. For (16, 2) that is 1+16+120 = 137
    * masks, a plan-time literal array.
    */
  private def probeMasks(bits: Int, dist: Int): Seq[Long] =
    (0 to dist).flatMap(d =>
      (0 until bits).combinations(d).map(_.foldLeft(0L)((m, b) => m | (1L << b))))

  /** Approximate cosine top-k via sign-LSH bucket pruning, multi-probe
    * and multi-table:
    *  - each of `tables` tables is an independent `bits`-wide slice of
    *    ONE wide native sketch ([[graft.plans.SignSketch]] — all
    *    tables' hyperplanes fold in a single codegen'd pass);
    *  - within a table, each query sketch expands into every sketch
    *    within `probeDist` Hamming distance (XOR with the precomputed
    *    mask set), and candidates come from an EQUI-join
    *    `(table, probe) == (table, corpus_slice)` — a hash join on a
    *    compact key, never a nested-loop filter over all (query,
    *    corpus) pairs;
    *  - a near pair missed by one table's planes is caught by
    *    another's: union recall ≈ 1 − (1 − p)^L for per-table recall
    *    p (the standard LSH amplification), at L× candidate cost.
    * A pair can collide in several tables, so candidates dedup through
    * a tiny (query, neighbor) aggregate before ranking. Trade-off
    * surface is (bits, probeDist, tables); exactness is recovered as
    * probeDist → bits (any tables).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bits: Int = 16, probeDist: Int = 2, tables: Int = 1,
              queryId: String = "query_id", corpusId: String = "neighbor_id",
              vecCol: String = "embedding"): DataFrame = {
    require(tables >= 1 && bits * tables <= 30,
      s"sign sketch wider than 30 bits (${bits}x$tables) explodes the probe set")
    val masks = probeMasks(bits, probeDist)
    val tableIds = array((0 until tables).map(t => lit(t)): _*)
    val sliceMask = lit((1L << bits) - 1)
    def tableSlice(sketch: Column, t: Column): Column =
      call_function("shiftright", sketch, t * lit(bits)).bitwiseAND(sliceMask)
    val q = queries.select(col(queryId), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"), signSketch(col(vecCol), bits * tables).as("__qs"))
      .withColumn("__t", explode(tableIds))
      .withColumn("__mask", explode(array(masks.map(m => lit(m)): _*)))
      .withColumn("__probe", col("__mask").bitwiseXOR(tableSlice(col("__qs"), col("__t"))))
      .drop("__mask", "__qs")
    val c = graft.Tables.spread(corpus).select(col(corpusId), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"), signSketch(col(vecCol), bits * tables).as("__cs"))
      .withColumn("__ct", explode(tableIds))
      .withColumn("__cslice", tableSlice(col("__cs"), col("__ct")))
      .drop("__cs")
    val cand = c.join(broadcast(q),
      col("__ct") === col("__t") && col("__probe") === col("__cslice") &&
        col(queryId) =!= col(corpusId))
    // score pre-dedup (one cheap native dot per candidate row), then
    // collapse multi-table collisions: values are identical per pair,
    // max() keeps the aggregate deterministic
    val scored = cand.select(col(queryId), col(corpusId),
      round(cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")), 6).as("cos"))
      .groupBy(col(queryId), col(corpusId)).agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cos").desc, col(corpusId).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
