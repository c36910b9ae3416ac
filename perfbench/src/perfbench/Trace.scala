package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spans recorded by the benchmark around its calls into the engine:
  * {name, start, end, parent, op}. Kept in memory, written out when the
  * run ends. Disabled, [[span]] only runs its body.
  */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
                        parent: Int, op: Int)
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else synchronized {
      val s = Span(done.size, name, System.nanoTime(), 0L,
        stack.headOption.map(_.id).getOrElse(-1), op)
      done += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Per op and span name: (total seconds, self seconds). Self time is a
    * span's duration minus the part its child spans cover.
    */
  def byOp: Map[Int, Map[String, (Double, Double)]] = synchronized {
    val kids = done.groupBy(_.parent)
    done.groupBy(_.op).map { case (op, ss) =>
      op -> ss.groupBy(_.name).map { case (n, xs) =>
        val tot = xs.map(s => s.endNs - s.startNs).sum
        val self = xs.map(s => (s.endNs - s.startNs) -
          Intervals.union(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq)).sum
        n -> (tot / 1e9, self / 1e9)
      }
    }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Largest task peak execution memory; the one listener the
  * end-to-end runs register.
  */
final class PeakMemory extends SparkListener {
  @volatile var peakBytes: Long = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      peakBytes = math.max(peakBytes, e.taskMetrics.peakExecutionMemory)
}

/** The traced run's view of Spark from outside: scheduler, executor,
  * shuffle, spill, I/O and Catalyst-phase events with their own
  * timestamps, attributed afterwards to the op whose wall-clock
  * interval contains them (exact, because ops run one at a time).
  */
final class Observed extends SparkListener with QueryExecutionListener {
  final case class Task(finishMs: Long, run: Long, cpuNs: Long, gc: Long, deser: Long,
                        shW: Long, shR: Long, fetchWait: Long, spillMem: Long,
                        spillDisk: Long, inB: Long, inR: Long, outB: Long, outR: Long)
  val jobs = ArrayBuffer.empty[Long]
  final case class Stage(submitMs: Long, completeMs: Long, tasks: Int)
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[(Long, String, Long)] // (end ms, phase, duration ms)
  val progress = ArrayBuffer.empty[(Long, Map[String, Long])] // (trigger start ms, durations)
  @volatile var lastEventMs: Long = System.currentTimeMillis()
  @volatile var jobsStarted = 0
  @volatile var jobsEnded = 0

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time; jobsStarted += 1; touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsEnded += 1; touch() }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages += Stage(s, c, i.numTasks)
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    touch()
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += ((p.endTimeMs, name, p.durationMs)) }
    touch()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Observed.this.synchronized {
        val p = e.progress
        progress += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        touch()
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  /** Wait until the listener bus has delivered every event of the ops
    * run so far.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
      (jobsEnded < jobsStarted || System.currentTimeMillis() - lastEventMs < 500))
      Thread.sleep(50)
  }

  def jobsIn(startMs: Long, endMs: Long): Double = synchronized {
    jobs.count(t => t >= startMs && t <= endMs).toDouble
  }

  /** Scheduler, executor, shuffle, spill, I/O and Catalyst metrics of
    * the op that ran over [startMs, endMs], leaving out the
    * benchmark's own `untimed` work inside it.
    */
  def forOp(startMs: Long, endMs: Long, untimed: Seq[(Long, Long)]): Map[String, Double] = synchronized {
    def in(t: Long) = t >= startMs && t <= endMs && !untimed.exists(u => t >= u._1 && t <= u._2)
    val ts = tasks.filter(t => in(t.finishMs))
    val st = stages.filter(s => in(s.submitMs))
    val ph = phases.filter(p => in(p._1))
    def phase(n: String) = ph.filter(_._2 == n).map(_._3).sum / 1e3
    val covered = Intervals.union(st.map(s => (math.max(s.submitMs, startMs), math.min(s.completeMs, endMs))).toSeq)
    val pr = progress.filter(p => in(p._1)).map(_._2)
    def dur(k: String) = pr.map(_.getOrElse(k, 0L)).sum / 1e3
    Map(
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimize_s" -> phase("optimization"),
      "plan.physical_s" -> phase("planning"),
      "sched.jobs" -> jobs.count(in).toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> st.map(_.tasks).sum.toDouble,
      "sched.driver_gap_s" ->
        math.max(0L, (endMs - startMs) - untimed.map(u => u._2 - u._1).sum - covered) / 1e3,
      "exec.task_s" -> ts.map(_.run).sum / 1e3,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gc).sum / 1e3,
      "exec.deser_s" -> ts.map(_.deser).sum / 1e3,
      "shuffle.write_bytes" -> ts.map(_.shW).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shR).sum.toDouble,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWait).sum / 1e3,
      "spill.mem_bytes" -> ts.map(_.spillMem).sum.toDouble,
      "spill.disk_bytes" -> ts.map(_.spillDisk).sum.toDouble,
      "scan.bytes" -> ts.map(_.inB).sum.toDouble,
      "scan.rows" -> ts.map(_.inR).sum.toDouble,
      "write.bytes" -> ts.map(_.outB).sum.toDouble,
      "write.rows" -> ts.map(_.outR).sum.toDouble,
      "stream.trigger_s" -> dur("triggerExecution"),
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.planning_s" -> dur("queryPlanning"),
      "stream.commit_s" -> dur("commitOffsets"))
  }
}
