package graft

import org.apache.spark.sql.SparkSession

/** One place that knows how to build a correctly-configured session
  * for this engine (Bench, Verify, tests, CLI). Config set here, not
  * mutated mid-query:
  *
  *  - `spark.sql.shuffle.partitions` sized to the core count as the
  *    builder default (at local[32] with sub-GB inputs, 200 partitions
  *    is pure scheduling overhead; on a real cluster this would be set
  *    to ~2-3× total cores by the launcher). [[local]] replaces it
  *    with the INPUT-SIZE-derived count ([[derivedShufflePartitions]])
  *    so the task grid follows data, not cores.
  *  - UTC session timezone (reference stores/format everything UTC).
  *  - `parquet.nanosAsLong`: the driver's events fixture carries
  *    INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects
  *    unless read as raw longs (converted back in [[Tables.table]]).
  *  - AQE is on by default in Spark 4 (adaptive shuffle coalescing +
  *    skew-join splitting) — left enabled deliberately.
  */
object GraftSession {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // AQE's coalescing floor is 1 MB per partition — right for
      // byte-bound scans, wrong for CPU-dense small shuffles (text
      // tokenization, signature aggregates, pair joins over hashed
      // keys), where it was measured collapsing 32-way stages onto 1-2
      // cores. 64 KB lets `parallelismFirst` (default on) actually
      // reach default parallelism; at PB scale partitions are far
      // above either floor, so this only affects the small-shuffle
      // regime it is meant to fix.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Let AQE convert sort-merge joins to shuffled hash joins when
      // every map partition is small (runtime-measured): the hashed
      // pair-generation joins (shingle blocking, LSH buckets) pay an
      // unnecessary double sort under SMJ. Genuinely large joins
      // exceed the threshold and keep the SMJ spill path — the
      // conversion is size-gated per partition, so it is safe at any
      // scale.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // The store's write paths are many small parquet jobs (cursor /
      // audit rewrites); _SUCCESS markers are driver-side fs round
      // trips nothing reads. Commit protocol stays v1 (job-commit
      // rename) — v2's task-commit visibility would let a failed
      // append leave partial files, which the store's idempotent-key
      // design does not tolerate.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // The generated-class cache defaults to 100 entries; a workload
      // with ~50 query shapes × several codegen stages each overflows
      // it, so steady-state execution silently RE-RUNS Janino
      // compilation for evicted shapes on every query. Measured on the
      // full bench: 32.4 s → 22.5 s steady total from this one line. A
      // long-lived service with a wide query inventory wants the same.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Id-free generated class names: the codegen stage id in the
      // class name is debugging sugar that makes otherwise-identical
      // sources unequal, defeating the source-keyed generated-class
      // cache across queries sharing a subtree shape.
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Long-running streaming preset: RocksDB state store, so unbounded
    * keyed state (streamingTop100's holder maps, stream-stream join
    * buffers) lives off-heap/on-disk instead of executor heap, with
    * changelog checkpointing to keep commits incremental. Batch jobs
    * don't need it; streaming jobs at scale should not run without it.
    */
  def streamingBuilder(cpus: String): SparkSession.Builder =
    builder(cpus)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  /** Initial shuffle-partition count derived from the INPUT size —
    * guide §2's "make partitioning scale-adaptive (derive from input
    * size) rather than a constant tuned for either local mode or the
    * cluster". Round-19 measurement (full bench at sf0.1, local[32]):
    * the core-count-sized default (32) pays ~10-20 ms of fixed
    * scheduler/task cost per reduce task, and at 17 MB of input every
    * reduce stage is overhead-bound — an 8-wide grid ran the SAME
    * suite in 47.8 s vs 71.0 s steady (value_overhead_adj 39.7 vs
    * 61.2), with zero per-query regressions above 0.04 s. AQE cannot
    * recover this from a core-sized initial count: its
    * parallelism-first coalescing targets defaultParallelism by
    * design, and the hot pair-join/probe exchanges sit above the
    * size floor anyway (measured: stock 1 MB minPartitionSize moved
    * the suite 71.0 → 70.1 s — nothing).
    *
    * Derivation: one reduce partition per ~4 MiB of raw input,
    * clamped to [1, 3×cores]. The full grid curve at sf0.1 (steady /
    * overhead-adjusted seconds): 32 → 70.97/61.15, 9 → 52.05/44.20,
    * 8 → 47.84/39.72, 5 → 45.10/36.75, 3 → 47.71/39.16, 2 →
    * 45.32/34.35 — flat within band noise across 2-8 with the
    * CPU-dense composition pipelines (corpus_prepare 2.35 → 2.77 s
    * from grid 5 to grid 2) preferring 5, so 4 MiB (→ 5 at sf0.1)
    * is the chosen balance. 4 MiB of fixture input expands to
    * ~20-80 MB per partition through the explode-heavy text stages —
    * i.e. 100+ ms of real work per task, safely above the per-task
    * floor on any hardware. The 3×cores ceiling is the standard
    * cluster launcher rule (2-3× total cores, guide §9 shape); a real
    * 100 TB deployment hits the ceiling immediately and relies on AQE
    * size-based coalescing below it, exactly as stock Spark does.
    * The count is data-derived, NOT core-derived, so a lower-core
    * bench run (the driver's scaling probe) measures compute scaling
    * on the same task grid instead of a different scheduler-overhead
    * regime. Per-operator upscale paths (Corpus.prepare pairParts,
    * MediaCorpus probeParts) already widen their own exchanges when
    * their derived width exceeds the session count, and AQE skew
    * splitting still divides oversized partitions at runtime.
    */
  private[graft] def derivedShufflePartitions(cpus: Int, inputBytes: Long): Int = {
    val perPartition = 4L << 20 // 4 MiB of raw input per reduce partition
    val bySize = (inputBytes + perPartition - 1) / perPartition
    math.max(1L, math.min(bySize, 3L * math.max(1, cpus))).toInt
  }

  /** Total bytes of the parquet inputs under `dir` (flat fixture
    * layout; directory-dataset parts counted recursively). 0 when the
    * dir is absent — callers fall back to the core-count default.
    */
  private[graft] def inputBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root, 3)
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }

  /** Session for driver-run mains: core count from SPARK_GRAFT_CPUS,
    * initial shuffle partitioning derived from the SPARK_GRAFT_SF_DIR
    * input size (see [[derivedShufflePartitions]]; core-count default
    * when the dir is absent).
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val base = builder(cpus)
    val sized = {
      val bytes = inputBytes(sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.1"))
      val nCpus = scala.util.Try(cpus.toInt).getOrElse(4)
      if (bytes <= 0L) base
      else base.config("spark.sql.shuffle.partitions",
        derivedShufflePartitions(nCpus, bytes).toString)
    }
    val s = sized.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
