package graft.domain

import graft.SparkSpec
import graft.operators.Dedup
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

/** A local filesystem under the `crashfs:` scheme that simulates a
  * process crash: once armed at step k, the k-th mutating call
  * (create, mkdirs, rename, delete) and every one after it throw, as
  * if the process had died there. Reads always pass.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.step(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
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
  private val calls = new java.util.concurrent.atomic.AtomicLong
  def arm(k: Long): Unit = { calls.set(0); failAt = k }
  def disarm(): Unit = failAt = Long.MaxValue
  def step(): Unit =
    if (calls.incrementAndGet() >= failAt) throw new java.io.IOException("simulated crash")
}

/** The bookkeeping tables (cursors, job audit) under crashes at every
  * filesystem step of a mutation, under concurrent writers, and over
  * many mutations.
  */
class MerlStoreLogSpec extends SparkSpec {

  private def copyTree(from: JPath, to: JPath): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  private def cursors(st: MerlStore): Map[String, (Long, Int, String)] =
    if (!st.exists("ingestion_cursors")) Map.empty
    else st.read("ingestion_cursors").collect().map(r =>
      r.getAs[String]("stream") -> ((r.getAs[Long]("last_scanned_block"),
        r.getAs[Int]("last_page"), r.getAs[String]("metadata")))).toMap

  private def jobs(st: MerlStore): Map[String, (String, String)] =
    if (!st.exists("job_runs")) Map.empty
    else st.read("job_runs").collect().map(r =>
      r.getAs[String]("job_name") -> ((r.getAs[String]("status"), r.getAs[String]("stats")))).toMap

  /** Build `setup`'s state once, then for k = 1, 2, … replay
    * `mutation` on a copy of it with a crash at its k-th filesystem
    * step, until a run completes uncrashed. After each crash a fresh
    * store over the same root must read the state before the mutation
    * or the state after it. Returns the number of crash points.
    */
  private def sweep[S](setup: MerlStore => Unit, mutation: MerlStore => Unit,
                       state: MerlStore => S): Int = {
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val template = Files.createTempDirectory("crash_template")
    setup(new MerlStore(spark, s"crashfs://$template"))
    val before = state(new MerlStore(spark, s"crashfs://$template"))
    val done = Files.createTempDirectory("crash_done")
    Files.delete(done); copyTree(template, done)
    mutation(new MerlStore(spark, s"crashfs://$done"))
    val after = state(new MerlStore(spark, s"crashfs://$done"))
    assert(after != before, "the mutation must change the state")
    var k = 1
    var crashed = true
    while (crashed) {
      assert(k <= 500, "the mutation never completed uncrashed")
      val dir = Files.createTempDirectory("crash_k")
      Files.delete(dir); copyTree(template, dir)
      val root = s"crashfs://$dir"
      CrashFs.arm(k)
      crashed =
        try { mutation(new MerlStore(spark, root)); false }
        catch { case _: Exception => true }
        finally CrashFs.disarm()
      val got = state(new MerlStore(spark, root))
      assert(got == before || got == after,
        s"crash at filesystem step $k: read $got, want $before or $after")
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
      k += 1
    }
    Seq(template, done).foreach(d => new scala.reflect.io.Directory(d.toFile).deleteRecursively())
    k - 1
  }

  private def withThreshold[T](n: Int)(body: => T): T = {
    val prev = spark.conf.getOption(Dedup.AutoCompactSegmentsKey)
    spark.conf.set(Dedup.AutoCompactSegmentsKey, n.toLong)
    try body
    finally prev.fold(spark.conf.unset(Dedup.AutoCompactSegmentsKey))(
      spark.conf.set(Dedup.AutoCompactSegmentsKey, _))
  }

  test("a crash at any filesystem step of a cursor merge or a job finish keeps the history") {
    withThreshold(3) {
      // the third merge reaches the threshold, so its sweep also
      // crosses every step of the segment compaction it triggers
      val cursorSteps = sweep(
        setup = { st =>
          st.cursorUpsert("s1", Some(10L), Some(1), """{"v":1}""")
          st.cursorUpsert("s2", Some(20L), Some(2), """{"v":1}""")
        },
        mutation = _.cursorUpsert("s1", Some(15L), Some(3), """{"v":2}"""),
        state = cursors)
      val jobSteps = sweep(
        setup = { st =>
          st.jobFinish(st.jobStart("alpha"), "success", stats = Some("""{"rows":1}"""))
          st.jobStart("beta")
        },
        mutation = { st =>
          val beta = st.read("job_runs").filter(col("job_name") === "beta")
            .select("job_id").collect().head.getString(0)
          st.jobFinish(beta, "error", error = Some("boom"))
        },
        state = jobs)
      info(s"crash points swept: cursor merge $cursorSteps, job finish $jobSteps")
      assert(cursorSteps > 1 && jobSteps > 1)
    }
  }

  test("a compaction crashed before or during its swap completes on the next read") {
    for (failpoint <- Seq("before-swap", "mid-swap")) {
      val root = Files.createTempDirectory("graft_log").toString
      val store = new MerlStore(spark, root)
      for (i <- 1 to 4) store.cursorUpsert("s", Some(i * 10L), Some(i), s"""{"v":$i}""")
      store.jobFinish(store.jobStart("alpha"), "success")
      val (cur, job) = (cursors(store), jobs(store))
      for (table <- Seq("ingestion_cursors", "job_runs")) {
        val e = intercept[IllegalStateException] {
          Dedup.compactIndexSegmentsImpl(spark, store.path(table), "__log", failpoint)
        }
        assert(e.getMessage.contains(failpoint))
      }
      val restarted = new MerlStore(spark, root)
      assert(cursors(restarted) == cur, s"$failpoint: cursors")
      assert(jobs(restarted) == job, s"$failpoint: job history")
      assert(restarted.cursorGet("s").contains((40L, 4)))
    }
  }

  test("two stores over one root bracket jobs concurrently and lose no row") {
    val root = Files.createTempDirectory("graft_concurrent").toString
    val perThread = 12
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq("a", "b").map { name =>
      new Thread(() => {
        val st = new MerlStore(spark, root)
        try for (i <- 1 to perThread)
          st.jobFinish(st.jobStart(s"$name$i"), "success", stats = Some(s"""{"i":$i}"""))
        catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"writer failures: ${errors.toArray.mkString("; ")}")
    val got = jobs(new MerlStore(spark, root))
    val want = for (name <- Seq("a", "b"); i <- 1 to perThread)
      yield s"$name$i" -> (("success", s"""{"i":$i}"""))
    assert(got == want.toMap)
  }

  test("40 cursor merges on one stream leave at most threshold + 1 segments") {
    val threshold = spark.conf.get(Dedup.AutoCompactSegmentsKey,
      Dedup.DefaultAutoCompactSegments.toString).toInt
    val store = new MerlStore(spark, Files.createTempDirectory("graft_log").toString)
    val part = new java.io.File(store.path("ingestion_cursors"), "__log=0")
    var most = 0
    for (i <- 1 to 40) {
      // blocks rise and fall; the cursor keeps the running maximum
      store.cursorUpsert("s", Some((i % 7) * 100L + i), Some(i % 5), s"""{"i":$i}""")
      most = math.max(most, part.list().count(_.startsWith("__batch=")))
      if (i == 20) assert(store.cursorGet("s").contains((620L, 4)))
    }
    assert(most <= threshold + 1, s"$most segments, threshold $threshold")
    assert(store.cursorGet("s").contains((634L, 4)))
    assert(cursors(store)("s")._3 == """{"i":40}""")
  }
}
