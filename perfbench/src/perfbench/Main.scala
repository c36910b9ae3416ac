package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM main (launched by perfbench/run.py). One
  * process, local[nproc], one closed-loop client: each op starts only
  * after the previous one finished.
  *
  *  - set-up: session build, frozen-model training where the workload
  *    has any, and the workload's warm-up ops (op 0, …) on fresh state.
  *    `setup_s` runs from main start to the end of the warm-up, without
  *    the benchmark's own input generation and checking;
  *  - `--trace 0` then times the next ops on the set-up's state until
  *    their latencies sum to `--seconds`;
  *  - `--trace 1` runs those ops untraced (with half the time), then as
  *    many ops again traced, and reports per-layer medians per op over
  *    the traced ops;
  *  - every op is checked. Set-up ops count as attempted ops but not in
  *    the latency figures.
  */
object Main {
  private val mainStartNs = System.nanoTime()
  private val WallGuardS = 140.0

  final case class OpRecord(i: Int, latS: Double, rows: Long, ok: Boolean, error: String,
                            startMs: Long, endMs: Long,
                            untimedMs: Seq[(Long, Long)], layers: Map[String, Double],
                            intervals: Map[String, (Long, Long)], ownS: Double)

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "lat_p50_s" -> "s",
    "lat_tail_s" -> "s", "ops_per_s" -> "ops/s", "rows_per_s" -> "rows/s",
    "peak_exec_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "plan.analysis_s" -> "s", "plan.optimize_s" -> "s", "plan.physical_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_s" -> "s",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.deser_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "spill.mem_bytes" -> "bytes", "spill.disk_bytes" -> "bytes",
    "scan.bytes" -> "bytes", "scan.rows" -> "rows", "write.bytes" -> "bytes",
    "write.rows" -> "rows", "session.build_s" -> "s",
    "sources.pages" -> "count", "sources.get_s" -> "s",
    "ingest.holders_s" -> "s", "ingest.tokentx_s" -> "s", "report.s" -> "s",
    "store.files" -> "count", "store.bytes" -> "bytes", "store.bytes_per_row" -> "bytes/row",
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s", "stream.planning_s" -> "s",
    "stream.commit_s" -> "s", "stream.jobs" -> "count",
    "index.files" -> "count", "index.bytes" -> "bytes",
    "trace.overhead_frac" -> "ratio", "ops_failed_frac" -> "ratio")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def elapsed: Double = secs(mainStartNs)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile, samples). With fewer than 11 samples, the max.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 100.0, 0)
    else if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = graft.GraftSession.builder(cpus.toString).appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Per-job floor in ms, probed the `graft.Bench` way: 50 one-task jobs. */
  def jobFloorMs(spark: SparkSession): Double = {
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val t0 = System.nanoTime()
    for (_ <- 0 until 50) spark.sparkContext.parallelize(Seq(1), 1).count()
    secs(t0) * 1000 / 50
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\n\\r\\t]", " ") + "\""

  /** Runs ops `from`, `from + 1`, … closed-loop until their latencies
    * sum to `budgetS` and at least `minOps` ran (always at least one).
    */
  def loop(wl: Workload, from: Int, budgetS: Double, spans: Spans, minOps: Int = 1): Seq[OpRecord] = {
    val out = ArrayBuffer.empty[OpRecord]
    var timed = 0.0
    var i = from
    while (i == from || ((timed < budgetS || i - from < minOps) && elapsed < WallGuardS)) {
      val s0 = System.nanoTime()
      wl.stage(i)
      val stageS = secs(s0)
      spans.op = i
      val ctx = new OpCtx(spans)
      val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val res = try Right(wl.op(i, ctx)) catch { case e: Exception => Left(e.toString) }
      val lat = (System.nanoTime() - n0 - ctx.untimedNs) / 1e9
      val m1 = System.currentTimeMillis()
      val c0 = System.nanoTime()
      val checked = res.flatMap(_ => try wl.check(i) catch { case e: Exception => Left(e.toString) })
      val disk = if (spans.enabled) wl.onDisk(i) else Map.empty[String, Double]
      out += OpRecord(i, lat, res.getOrElse(0L), checked.isRight,
        checked.left.getOrElse(""), m0, m1,
        ctx.untimedMs.toSeq, disk, wl.intervals(i), stageS + ctx.untimedNs / 1e9 + secs(c0))
      timed += lat
      i += 1
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val work = opts("--work")
    val resultPath = java.nio.file.Paths.get(opts("--result"))
    val line =
      if (args.contains("--selftest")) SelfTest.run(work)
      else run(opts("--workload"), opts("--seed").toLong, opts("--seconds").toDouble,
        opts("--trace") == "1", work, opts("--trace-dir"))
    java.nio.file.Files.write(resultPath, line.getBytes("UTF-8"))
    System.exit(0)
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean,
          work: String, traceDir: String): String = {
    val b0 = System.nanoTime()
    val spark = session(work)
    val buildS = secs(b0)
    val wl = Workload(name, spark, seed, s"$work/state")
    val t0 = System.nanoTime()
    val genS = wl.train()
    val trainS = secs(t0) - genS
    wl.begin("setup")
    val warm = loop(wl, 0, 0.0, new Spans(false), wl.warmupOps)
    val setupS = elapsed - genS - warm.map(_.ownS).sum
    val env = Seq("nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> str(spark.version), "job_floor_ms" -> num(jobFloorMs(spark)))
    val peak = new PeakMemory
    spark.sparkContext.addSparkListener(peak)

    val (ops, metrics, notes) =
      if (!traced) {
        // the timed ops continue on the set-up's state
        val all = loop(wl, warm.size, seconds, new Spans(false))
        val okOps = all.filter(_.ok)
        val wall = all.map(_.latS).sum
        val (tv, tp, tn) = tail(all.map(_.latS))
        (warm ++ all, Seq("setup_s" -> setupS, "lat_p50_s" -> median(all.map(_.latS)),
          "lat_tail_s" -> tv, "ops_per_s" -> okOps.size / wall,
          "rows_per_s" -> all.map(_.rows).sum / wall,
          "peak_exec_mb" -> peak.peakBytes / 1048576.0),
          Seq("lat_tail_percentile" -> num(tp), "lat_tail_samples" -> tn.toString))
      } else {
        // untraced: the ops of a `--trace 0` run; traced: as many ops
        // again, continuing on the same state
        val plain = loop(wl, warm.size, seconds / 2, new Spans(false))
        val obs = new Observed
        obs.register(spark)
        val spans = new Spans(true)
        val tracedOps = loop(wl, warm.size + plain.size, 0.0, spans, plain.size)
        obs.drain()
        spans.write(java.nio.file.Paths.get(traceDir, s"$name-seed$seed.spans.jsonl"))
        val bySpan = spans.byOp
        val perOp = tracedOps.map { r =>
          val observed = obs.forOp(r.startMs, r.endMs, r.untimedMs) ++
            r.intervals.map { case (n, (a, b)) => n -> obs.jobsIn(a, b) }
          observed ++ r.layers ++ wl.layers(r.i, bySpan.getOrElse(r.i, Map.empty), observed)
        }
        val overhead = median(tracedOps.map(_.latS)) / median(plain.map(_.latS)) - 1
        val all = warm ++ plain ++ tracedOps
        val layerMetrics = PerLayer.map { case (n, _) =>
          n -> (n match {
            case "session.build_s" => buildS
            case "trace.overhead_frac" => overhead
            case "ops_failed_frac" => all.count(!_.ok).toDouble / all.size
            case _ => median(perOp.map(_.getOrElse(n, 0.0)))
          })
        }
        (all, layerMetrics, Seq("traced_ops" -> tracedOps.size.toString,
          "untraced_ops" -> plain.size.toString))
      }
    val runS = elapsed
    spark.stop()

    val failed = ops.filterNot(_.ok)
    val units = (if (traced) PerLayer else EndToEnd).toMap
    val info = Seq("workload" -> str(name), "seed" -> seed.toString, "ops" -> ops.size.toString,
      "ops_failed_frac" -> num(failed.size.toDouble / math.max(1, ops.size)),
      "setup_s" -> num(setupS), "session_build_s" -> num(buildS),
      "train_s" -> num(trainS), "warmup_ops" -> warm.size.toString, "run_s" -> num(runS),
      "op_lat_s" -> ops.map(r => num(r.latS)).mkString("[", ",", "]")) ++ notes ++
      Seq("env" -> env.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}"),
        "failures" -> failed.take(3).map(r => str(s"op ${r.i}: ${r.error}")).mkString("[", ",", "]"))
    println(info.map { case (k, v) => str(k) + ":" + v }.mkString("{\"info\":{", ",", "}}"))
    val m = metrics.map { case (n, v) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(units(n))}}" }
    s"""{"correct":${failed.isEmpty},"attempted":${ops.size},"failed":${failed.size},"metrics":${m.mkString("{", ",", "}")}}"""
  }
}
