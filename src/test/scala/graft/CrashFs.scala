package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** A local filesystem under the `crashfs:` scheme that simulates a
  * process crash: once armed, a chosen mutating call (create, mkdirs,
  * rename, delete) and every one after it throw, as if the process had
  * died there. Reads always pass.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    CrashFs.creating(f)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  // `FileSystem.create(path, overwrite)` reaches this overload, not the one above
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    CrashFs.creating(f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def mkdirs(f: Path): Boolean = { CrashFs.step(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CrashFs.step(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { CrashFs.step(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step(); super.delete(p, recursive)
  }
}

object CrashFs {
  @volatile private var failAt = Long.MaxValue
  @volatile private var marker: Option[String] = None
  private val calls = new java.util.concurrent.atomic.AtomicLong

  /** `dir` under the `crashfs:` scheme, registered on `spark`'s
    * Hadoop configuration.
    */
  def root(spark: SparkSession, dir: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    s"crashfs://$dir"
  }

  /** Crash at the k-th mutating call from now. */
  def arm(k: Long): Unit = { calls.set(0); failAt = k }

  /** Crash at the first mutating call after a file named `name` is
    * created.
    */
  def armAfter(name: String): Unit = { disarm(); marker = Some(name) }

  def disarm(): Unit = { failAt = Long.MaxValue; marker = None }

  def step(): Unit =
    if (calls.incrementAndGet() >= failAt) throw new java.io.IOException("simulated crash")

  private def creating(f: Path)(create: => FSDataOutputStream): FSDataOutputStream = {
    step()
    val out = create
    if (marker.contains(f.getName)) failAt = calls.get() + 1
    out
  }
}
