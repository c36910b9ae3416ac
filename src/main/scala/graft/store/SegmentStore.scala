package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** An append-only table stored as segments:
  * `dir/<partCol>=<p>/__batch=<n>/`. Every append-only table in the
  * engine uses this layout: the MinHash bands/sigs, Hamming bands, BM25
  * postings, IVF lists, exact-fingerprint store and SemDeDup keepers of
  * the firewalls, and the bookkeeping logs and `wallet_transactions` of
  * [[graft.domain.MerlStore]].
  *
  *  - A batch build is the seed segment, `__batch=-1` ([[build]]).
  *    Micro-batch ids are ≥ 0, so the seed never collides with a
  *    replayed batch's overwrite, and a batch-built index can be
  *    maintained in place by a streaming appender.
  *  - Each append is one segment, `__batch=<batchId>`, written with
  *    dynamic partition overwrite ([[append]]): a batch replayed after
  *    a crash between its write and its checkpoint commit rewrites its
  *    own segment instead of duplicating rows.
  *  - A probe leaves out the replaying batch's own segment
  *    ([[scan]]), so a replay reproduces its original decisions.
  *  - Compaction merges every segment below the newest into the seed,
  *    through a crash-resumable swap ([[compact]], [[recover]]). Every
  *    read ([[read]], [[scan]]) first completes a pending crashed
  *    swap, so no probe reads a live tree missing the merged segments.
  *
  * An index store carries its `geometry`: the build parameters its
  * probes prune by (parts, band shape, radius, quantizer, eps). A
  * probe run with other parameters prunes to the wrong partitions and
  * silently misses matches, the worst failure an exactness-gated index
  * can have. So [[build]] writes the geometry to the sidecar
  * `<geometry.dir>/_graft_geometry.json` (underscore-prefixed,
  * invisible to parquet readers), [[scan]] fails loud on a mismatch,
  * and [[append]] checks before any rows land, then (re)writes the
  * sidecar: an appender that skipped the check would append under the
  * wrong partitioning and relabel the sidecar, so later probes with
  * its parameters would pass the check while missing every row indexed
  * before. With no sidecar yet (an index built before sidecars
  * existed, or an unseeded stream's first append) the caller is
  * trusted. The stores of one index share one sidecar.
  *
  * Filesystem calls go through `sparkContext.hadoopConfiguration`.
  * Parquet readers see `__batch` as a partition column; probes select
  * explicit columns, so it is invisible to them.
  */
final case class SegmentStore(spark: SparkSession, dir: String, partCol: String,
                              geometry: Option[SegmentStore.Geometry] = None) {
  import SegmentStore._

  private val root = new Path(dir)
  // the merge's temp tree, a sibling of the live tree
  private val tmp = new Path(dir + "__compacting")
  private lazy val fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether the store holds a partition, through the Hadoop
    * FileSystem API (on HDFS/S3 an existing index must never read as
    * absent, or its probe would silently admit duplicates). A
    * directory holding only a geometry sidecar or a crashed write's
    * staging directory, as a crash before the first append leaves it,
    * reads as absent: a probe of it could not infer a schema, and the
    * replay would fail the same way every time.
    */
  def exists: Boolean = fs.exists(root) && partitions(root).nonEmpty

  /** Replace the whole store with `df` as its seed segment
    * (`__batch=-1`), one file per partition (for [[append]]'s reason),
    * sorted within each file by `sortBy`, then write the geometry
    * sidecar.
    */
  def build(df: DataFrame, sortBy: Column*): Unit = {
    writeSeed(clustered(df, sortBy), dir)
    geometry.foreach(writeGeometry)
  }

  /** Append `df` as segment `batchId`, replay-safe (see
    * [[SegmentStore.writeBatch]]), one file per partition, sorted
    * within each file by `sortBy`.
    *
    * One file per partition per batch: without the repartition on
    * `partCol` every write task lands a file in every partition
    * directory, so each append writes up to tasks × partitions files
    * (the ×30 rehearsal measured 8,192 files for a 100 MB index after
    * four waves, 12 KB a file), and every later probe pays listing,
    * footer and tiny-split scheduling over all of them. At corpus
    * scale the file count, not the byte count, becomes the probe's
    * wall. One batch-sized shuffle buys one file per partition.
    */
  def append(df: DataFrame, batchId: Long, sortBy: Column*): Unit = {
    geometry.foreach { g => requireGeometry(g); writeGeometry(g) }
    writeBatch(clustered(df, sortBy), dir, batchId, partCol)
  }

  private def clustered(df: DataFrame, sortBy: Seq[Column]): DataFrame = {
    val byPart = df.repartition(col(partCol))
    if (sortBy.isEmpty) byPart else byPart.sortWithinPartitions(sortBy: _*)
  }

  private def writeSeed(df: DataFrame, to: String): Unit =
    df.withColumn(BatchCol, lit(SeedBatch))
      .write.mode("overwrite").partitionBy(partCol, BatchCol).parquet(to)

  /** Every row of the store, read with `schema` if given (else
    * inferred), after completing a pending crashed swap.
    */
  def read(schema: Option[StructType] = None): DataFrame = {
    recover()
    schema.fold(spark.read)(spark.read.schema).parquet(dir)
  }

  /** The store's rows in partitions `parts`, without segment
    * `excludeBatch`: a replayed micro-batch must not see the rows its
    * first attempt appended. Both are partition filters, so the scan
    * prunes directories and reads no other file. Fails loud on a
    * geometry mismatch, even when `parts` is empty.
    */
  def scan(parts: Seq[Any], excludeBatch: Option[Long]): DataFrame = {
    geometry.foreach(requireGeometry)
    val pruned = read().filter(col(partCol).isin(parts: _*))
    excludeBatch.fold(pruned)(b => pruned.filter(col(BatchCol) =!= b))
  }

  /** Complete a pending crashed compaction swap without starting a new
    * merge: a probe of a live tree missing the merged segments (a
    * crash left them only in the temp tree) would silently miss
    * matches, and a replayed micro-batch would decide differently from
    * its first attempt. A ready-marked temp tree completes its swap; a
    * partial (unmarked) one is discarded, since the live tree is
    * untouched in that case. The JVM-wide lock is taken only when a
    * temp tree exists, so a read never waits on another store's merge.
    * Returns true iff a swap completed.
    */
  def recover(): Boolean = fs.exists(tmp) && Maintenance.synchronized {
    if (!fs.exists(tmp)) false // completed meanwhile by another thread
    else if (fs.exists(new Path(tmp, SwapReadyMarker))) {
      if (!fs.exists(root)) fs.mkdirs(root) // the swap can recreate partitions
      completeSwap()
      true
    } else {
      fs.delete(tmp, true)
      false
    }
  }

  /** Merge the committed segments into the seed, so a long-running
    * firewall's per-probe listing cost stops growing with batch count:
    * at most one seed file per partition plus the recent tail, the
    * segment merge an LSM index runs, as one partition-parallel
    * rewrite.
    *
    * The highest batch id present is always left out: with
    * `Trigger.AvailableNow` and checkpointing only the latest batch
    * can replay after a crash, and a replayed batch excludes exactly
    * its own segment from probes. Folding it into the seed would let a
    * replay see its own first attempt's rows. Everything below it is
    * committed and merges safely. Must run at a stream-quiescent point
    * (between AvailableNow invocations). The swap is not atomic for
    * concurrent readers, but it is crash-resumable: the merged rows
    * materialize fully in the temp tree, a manifest of the superseded
    * segment ids and then a ready marker land there before any live
    * segment is touched, and [[recover]] after a crash at any point
    * completes the pending swap. The geometry sidecar is untouched.
    *
    * Returns the number of segments merged (0 = nothing to do).
    */
  def compact(): Int = Maintenance.synchronized {
    if (!exists) 0
    else {
      recover()
      merge(batches())
    }
  }

  /** [[compact]] once the segment count reaches
    * [[AutoCompactSegmentsKey]] (default 16; ≤ 0 disables). The
    * streaming firewalls call this after each invocation, and
    * [[graft.domain.MerlStore]] after each log append, so a
    * long-running deployment stays compacted without an operator
    * remembering the chore. A pending crashed swap always triggers, so
    * auto mode is self-healing. Below the threshold the cost is one
    * shallow listing and no Spark job.
    */
  def autoCompact(): Int = Maintenance.synchronized {
    val thresh = spark.conf
      .get(AutoCompactSegmentsKey, DefaultAutoCompactSegments.toString).toInt
    if (thresh <= 0 || !exists) 0
    else {
      val pending = recover()
      val present = batches()
      if (pending || present.length >= thresh) merge(present) else 0
    }
  }

  /** Every segment directory of the live tree with its id, from one
    * shallow listing (no Spark job).
    */
  private def segments(): Seq[(Path, Long)] =
    partitions(root).flatMap(p => fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith(BatchPrefix))
      .map(b => b -> b.getName.stripPrefix(BatchPrefix).toLong))

  /** The segment ids present; this listing alone decides a compaction. */
  private def batches(): Seq[Long] = segments().map(_._2).distinct.sorted

  private def merge(batches: Seq[Long]): Int = {
    // keep the replay tail; everything else, the seed included, merges
    val toMerge = batches.dropRight(1)
    if (toMerge.isEmpty || toMerge == Seq(SeedBatch)) return 0
    writeSeed(clustered(spark.read.parquet(dir).filter(col(BatchCol).isin(toMerge: _*))
      .drop(BatchCol), Nil), tmp.toString)
    // manifest BEFORE the ready marker: recovery must know exactly
    // which live segments the temp tree supersedes, so the marker's
    // presence implies the manifest is complete
    writeSwapFile(MergedManifest, toMerge.mkString("\n"))
    writeSwapFile(SwapReadyMarker, "")
    completeSwap()
    toMerge.length
  }

  private def writeSwapFile(name: String, body: String): Unit = {
    val out = fs.create(new Path(tmp, name), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The swap, idempotent so a rerun after a crash at any point
    * finishes it: (1) delete the superseded segments named by the
    * manifest (skipped once `_DELETES_DONE` is down: re-deleting after
    * any rename landed would destroy a renamed-in seed); (2) rename
    * each merged seed into the live tree (a seed already renamed is
    * gone from the temp tree, so reruns skip it; a surviving
    * destination seed at that point is impossible by the manifest
    * discipline and fails loud rather than overwrite); (3) drop the
    * temp tree. Every delete and rename result is checked.
    */
  private def completeSwap(): Unit = {
    val in = fs.open(new Path(tmp, MergedManifest))
    val manifest =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(_.toLong).toSet
      finally in.close()
    val deletesDone = new Path(tmp, DeletesDoneMarker)
    if (!fs.exists(deletesDone)) {
      segments().collect { case (b, id) if manifest.contains(id) => b }.foreach { b =>
        if (!fs.delete(b, true)) throw new java.io.IOException(
          s"compaction: failed to delete superseded segment $b")
      }
      writeSwapFile(DeletesDoneMarker, "")
    }
    partitions(tmp).foreach { p =>
      val seed = new Path(p, s"$BatchPrefix$SeedBatch")
      if (fs.exists(seed)) {
        val destPart = new Path(root, p.getName)
        if (!fs.exists(destPart)) fs.mkdirs(destPart)
        val dest = new Path(destPart, seed.getName)
        if (fs.exists(dest)) throw new java.io.IOException(
          s"compaction: $dest exists while the temp tree still holds a merged " +
            s"seed for the same partition — refusing to overwrite; inspect $tmp")
        if (!fs.rename(seed, dest)) throw new java.io.IOException(
          s"compaction: rename $seed -> $dest failed")
      }
    }
    fs.delete(tmp, true)
  }

  private def writeGeometry(g: Geometry): Unit = {
    // a real JSON writer (Jackson, on the Spark classpath): a value
    // with a quote or comma (a Hamming alignCols name, say) must
    // round-trip exactly, or the check can spuriously fail or, worse,
    // silently pass a real mismatch
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    g.params.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    val out = fs.create(g.path, true)
    try out.write(mapper.writeValueAsString(node).getBytes("UTF-8"))
    finally out.close()
  }

  private def requireGeometry(g: Geometry): Unit =
    if (fs.exists(g.path)) {
      val in = fs.open(g.path)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      g.params.foreach { case (k, v) =>
        val stored = Option(node.get(k)).map(_.asText())
        require(stored.forall(_ == v),
          s"index at ${g.dir} was built with $k=${stored.getOrElse("?")} but probed/" +
            s"appended with $k=$v — a geometry mismatch prunes to (or appends " +
            "under) the wrong partitions and silently misses matches; use the " +
            "build's parameters or rebuild")
      }
    }

  private def partitions(tree: Path): Seq[Path] =
    fs.listStatus(tree).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(s"$partCol=")).toSeq
}

object SegmentStore {
  /** The segment id column: a partition column to parquet readers. */
  val BatchCol = "__batch"
  private val BatchPrefix = s"$BatchCol="
  private val SeedBatch = -1L

  // swap-state files inside the `<dir>__compacting` temp tree
  // (underscore-prefixed, so parquet readers never see them)
  private val MergedManifest = "_MERGED_BATCHES"   // superseded segment ids
  private val SwapReadyMarker = "_SWAP_READY"      // merge write completed
  private val DeletesDoneMarker = "_DELETES_DONE"  // delete phase completed

  /** Serializes swap recovery and compaction in the JVM: the swap
    * assumes one maintainer per store.
    */
  private object Maintenance

  /** Segment count at which [[SegmentStore.autoCompact]] merges. */
  val AutoCompactSegmentsKey = "spark.graft.index.autoCompactSegments"
  val DefaultAutoCompactSegments = 16

  /** The replay-safe segment write: `df` lands under
    * `dir/<partCols>/__batch=<batchId>/` with dynamic partition
    * overwrite, replacing only its own segment. Also the sink write of
    * the streams whose output is not a [[SegmentStore]] of its own
    * (no partition column, or one file per task).
    */
  def writeBatch(df: DataFrame, dir: String, batchId: Long, partCols: String*): Unit =
    df.withColumn(BatchCol, lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols :+ BatchCol: _*).parquet(dir)

  /** The two stores of the MinHash band index at `path`: slim band
    * rows by `part`, per-doc signatures by `spart`. A non-empty
    * `geometry` is kept in the sidecar at `path`.
    */
  def minhash(spark: SparkSession, path: String,
              geometry: Map[String, String] = Map.empty): Seq[SegmentStore] = {
    val g = sidecar(path, geometry)
    Seq(SegmentStore(spark, s"$path/bands", "part", g),
      SegmentStore(spark, s"$path/sigs", "spart", g))
  }

  /** The one store of the Hamming index at `path`: banded rows by
    * `part`. A non-empty `geometry` is kept in the sidecar at `path`.
    */
  def hamming(spark: SparkSession, path: String,
              geometry: Map[String, String] = Map.empty): SegmentStore =
    SegmentStore(spark, s"$path/bands", "part", sidecar(path, geometry))

  private def sidecar(path: String, geometry: Map[String, String]): Option[Geometry] =
    Option.when(geometry.nonEmpty)(Geometry(path, geometry))

  /** [[SegmentStore.compact]] over both stores of the MinHash index. */
  def compactMinhashIndex(spark: SparkSession, path: String): Int =
    minhash(spark, path).map(_.compact()).max

  /** An index's build parameters and the directory of its sidecar,
    * `<dir>/_graft_geometry.json` (see the class doc).
    */
  final case class Geometry(dir: String, params: Map[String, String]) {
    private[SegmentStore] def path: Path = new Path(s"$dir/_graft_geometry.json")
  }
}
