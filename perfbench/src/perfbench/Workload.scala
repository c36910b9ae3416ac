package perfbench

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. [[Main]] calls [[train]] once,
  * [[begin]] to start on fresh state (new directories, op 0 again), then for each op [[stage]] (untimed input staging),
  * [[op]] (timed), [[check]] (untimed verification) and, in a traced
  * run, [[onDisk]] (untimed on-disk layer metrics).
  */
trait Workload {
  /** Trains the workload's frozen models, if any; returns the seconds
    * spent in the benchmark's own input generation, which set-up time
    * excludes.
    */
  def train(): Double = 0.0
  def begin(phase: String): Unit
  /** Ops 0, 1, … run in set-up as the warm-up: enough that the first
    * timed op takes no code path for the first time.
    */
  def warmupOps: Int = 1
  def stage(i: Int): Unit = ()
  /** Runs op `i`; returns the generated input rows it consumed. */
  def op(i: Int, ctx: OpCtx): Long
  /** Verifies op `i`'s outputs: Left(reason) or Right(digest). */
  def check(i: Int): Either[String, String]
  def onDisk(i: Int): Map[String, Double] = Map.empty
  /** Named wall-clock intervals (ms) inside op `i`; a traced run
    * reports the Spark jobs started in each under its name.
    */
  def intervals(i: Int): Map[String, (Long, Long)] = Map.empty
  /** Layer metrics the workload computes from its own spans, its
    * outputs and the op's observed Spark metrics.
    */
  def layers(i: Int, spanTimes: Map[String, (Double, Double)],
             observed: Map[String, Double]): Map[String, Double]
  /** A copy of op `i`'s checked output with one value changed, run
    * through the same check (the self-test expects Left).
    */
  def corruptedCheck(i: Int): Either[String, String]
}

/** Per-op context: the span recorder, and the benchmark's own work
  * inside an op (output capture for checks), which the op's latency
  * and the traced layer attribution both exclude.
  */
final class OpCtx(val spans: Spans) {
  var untimedNs = 0L
  val untimedMs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  def untimed[T](body: => T): T = {
    val n0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try body
    finally {
      untimedNs += System.nanoTime() - n0
      untimedMs += ((m0, System.currentTimeMillis()))
    }
  }
}

object Workload {
  val Names: Seq[String] = Seq("merl_cycle", "firewall_stream")

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "merl_cycle" => new MerlCycle(spark, seed, work)
      case "firewall_stream" => new FirewallStream(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Bytes and parquet files under `dir`, and rows per the parquet
    * footers (no Spark job).
    */
  def parquetStats(dir: String): (Long, Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L, 0L)
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
    val conf = new org.apache.hadoop.conf.Configuration()
    val rows = files.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum, rows)
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}
