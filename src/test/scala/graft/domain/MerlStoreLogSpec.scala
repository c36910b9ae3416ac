package graft.domain

import graft.{CrashFs, SparkSpec}
import graft.store.SegmentStore
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.functions._

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
    val template = Files.createTempDirectory("crash_template")
    setup(new MerlStore(spark, CrashFs.root(spark, template.toString)))
    val before = state(new MerlStore(spark, CrashFs.root(spark, template.toString)))
    val done = Files.createTempDirectory("crash_done")
    Files.delete(done); copyTree(template, done)
    mutation(new MerlStore(spark, CrashFs.root(spark, done.toString)))
    val after = state(new MerlStore(spark, CrashFs.root(spark, done.toString)))
    assert(after != before, "the mutation must change the state")
    var k = 1
    var crashed = true
    while (crashed) {
      assert(k <= 500, "the mutation never completed uncrashed")
      val dir = Files.createTempDirectory("crash_k")
      Files.delete(dir); copyTree(template, dir)
      val root = CrashFs.root(spark, dir.toString)
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
    val prev = spark.conf.getOption(SegmentStore.AutoCompactSegmentsKey)
    spark.conf.set(SegmentStore.AutoCompactSegmentsKey, n.toLong)
    try body
    finally prev.fold(spark.conf.unset(SegmentStore.AutoCompactSegmentsKey))(
      spark.conf.set(SegmentStore.AutoCompactSegmentsKey, _))
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
    // before-swap: the merge and its markers are down, no live segment
    // touched; mid-swap: the superseded segments are deleted and the
    // merged seed is not yet renamed in
    for ((failpoint, marker) <- Seq("before-swap" -> "_SWAP_READY", "mid-swap" -> "_DELETES_DONE")) {
      val root = CrashFs.root(spark, Files.createTempDirectory("graft_log").toString)
      val store = new MerlStore(spark, root)
      for (i <- 1 to 4) store.cursorUpsert("s", Some(i * 10L), Some(i), s"""{"v":$i}""")
      store.jobFinish(store.jobStart("alpha"), "success")
      val (cur, job) = (cursors(store), jobs(store))
      for (table <- Seq("ingestion_cursors", "job_runs")) {
        val dir = new org.apache.hadoop.fs.Path(store.path(table))
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def segments() = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "__log=0"))
          .map(_.getPath.getName.stripPrefix("__batch=").toLong).toSet
        val live = segments()
        CrashFs.armAfter(marker)
        try intercept[java.io.IOException](SegmentStore(spark, store.path(table), "__log").compact())
        finally CrashFs.disarm()
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"${store.path(table)}__compacting/$marker")),
          s"$failpoint: the crash must land after $marker")
        if (failpoint == "before-swap") assert(segments() == live, s"$failpoint: live segments")
        else assert(segments() == Set(live.max), s"$failpoint: only the tail must be left")
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
    val threshold = spark.conf.get(SegmentStore.AutoCompactSegmentsKey,
      SegmentStore.DefaultAutoCompactSegments.toString).toInt
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
