package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A small table replaced whole on every refresh, stored as versions
  * `dir/__v=<n>/`: the streaming weighted reservoir, the certified
  * top-K summaries and a BM25 index's df/corpus stats.
  *
  * A version is committed once the marker `_graft_committed` is
  * written after its files, so no reader sees half a refresh.
  * [[commit]] writes a NEW version and never touches the committed one
  * it was built from: an in-place overwrite has a delete-then-write
  * window in which a crash loses the table for good, since committed
  * source batches are never re-read. After a crash at any step the
  * previous version is intact and a rerun rebuilds the new one from
  * it. A commit keeps exactly two versions, itself and the one it was
  * built from, so a replayed micro-batch re-derives its version from
  * the kept predecessor. A directory that is not a version (an older
  * layout's unmarked `v=<n>`) fails every operation: state written
  * under another layout is never silently ignored. Every operation is
  * a shallow Hadoop-FS listing, no Spark job.
  */
final case class VersionStore(spark: SparkSession, dir: String) {
  private val Prefix = "__v="
  private val CommitMarker = "_graft_committed"
  private lazy val fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The directory of version `v`. */
  def path(v: Long): String = s"$dir/$Prefix$v"

  /** The newest committed version. */
  def latest: Option[Long] = committed().lastOption

  /** The newest committed version below `n`. Fails loud when a
    * committed version above `n` exists: the caller's sequence (a
    * streaming checkpoint) was reset while the store survived, and
    * building `n` would drop or double-count what those versions hold.
    */
  def before(n: Long): Option[Long] = {
    val (below, above) = committed().partition(_ < n)
    above.find(_ > n).foreach(v => throw new IllegalStateException(
      s"version store $dir: committed version $v is ahead of version $n being built; " +
        "the caller and the store are out of sync (a checkpoint reset or loss with " +
        "surviving state). Clear the store or restore the matching checkpoint."))
    below.lastOption
  }

  /** Write version `n` in full through `write` (given the version's
    * directory to create), replacing an uncommitted or same-numbered
    * one; then write the marker; then delete every version older than
    * the one `n` was built from.
    */
  def commit(n: Long)(write: String => Unit): Unit = {
    val base = before(n)
    val target = new Path(path(n))
    if (fs.exists(target) && !fs.delete(target, true))
      throw new java.io.IOException(s"version store: failed to clear $target")
    write(target.toString)
    fs.create(new Path(target, CommitMarker), true).close()
    base.foreach(b => versions().filter(_._2 < b).foreach(v => fs.delete(v._1, true)))
  }

  private def versions(): Seq[(Path, Long)] =
    if (!fs.exists(new Path(dir))) Nil
    else fs.listStatus(new Path(dir)).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith(Prefix) || !"._".contains(p.getName.head))
      .map { p =>
        if (!p.getName.startsWith(Prefix)) throw new IllegalStateException(
          s"version store $dir holds '${p.getName}', which is not a version directory " +
            s"($Prefix<n>); state written under another layout is never read. Move it " +
            "aside or clear the store.")
        p -> p.getName.stripPrefix(Prefix).toLong
      }

  private def committed(): Seq[Long] =
    versions().collect { case (p, v) if fs.exists(new Path(p, CommitMarker)) => v }.sorted
}
