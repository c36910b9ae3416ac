package perfbench

import graft.operators.LanguageModel
import graft.streaming.Incremental
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `firewall_stream`: `Incremental.curationFirewallStream` with every
  * stage on, one seeded document batch per op appended to its source
  * directory and drained with `Trigger.AvailableNow`. The frozen bigram
  * model, quantizer and holdout are built in set-up. Later batches
  * carry planted copies of earlier ones, and the indexes and the kept
  * set grow across ops.
  *
  * A batch is 250 documents, a twentieth of sf0.1's: a micro-batch
  * costs about 130 Spark jobs whatever its size, and the rehearsal's
  * 1,250-document wave made an op only about 30% slower, so the smaller
  * batch keeps the op's shape at a cost the run budget allows.
  */
final class FirewallStream(spark: SparkSession, seed: Long, work: String) extends Workload {
  private val gen = new DocGen(seed)
  private val N = 250
  private val ExactRate = 0.05
  private val NearRate = 0.05
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))
  private var model: LanguageModel.BigramModel = _
  private var holdout: DataFrame = _
  private var centroids: DataFrame = _
  private var root: String = _
  private var history = IndexedSeq.empty[Doc]
  private var batch = IndexedSeq.empty[Doc]
  private var admitted = Set.empty[Long]
  private var kept: Seq[Long] = Nil
  private var chain: Seq[Long] = Nil

  /** Op 0 creates the indexes and op 1 is the first to probe them. */
  override def warmupOps: Int = 2

  private def src = s"$root/src"
  private def index = s"$root/index"
  private def dest = s"$root/kept"

  def begin(phase: String): Unit = {
    root = s"$work/firewall-$phase"
    Workload.deleteTree(root)
    history = IndexedSeq.empty; admitted = Set.empty
  }

  private def frame(rows: Seq[Row], st: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, st)

  /** The frozen side inputs, at the engine's stream rehearsal sizes: a
    * 500-document reference slice (a tenth of sf0.1's documents) for
    * the bigram model and a 64-vector holdout. The quantizer is 16
    * seeded vectors, the `corpus_prepare_semantic` convention of taking
    * sample vectors as centroids, so set-up does not train a k-means.
    */
  override def train(): Double = {
    val g0 = System.nanoTime()
    val reference = gen.batch(-1, -1000000L, 500, 0.0, 0.0)
    val quantizer = gen.vectors(1, 16)
    val evalSet = gen.vectors(2, 64)
    val genS = (System.nanoTime() - g0) / 1e9
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    model = LanguageModel.trainBigramModel(
      frame(reference.map(d => Row(d.id, d.text)), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
        .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__toks")),
      v = 1024)
    centroids = frame(quantizer.zipWithIndex.map { case (v, k) => Row(k.toLong, v.toSeq) },
      StructType(Seq(StructField("centroid_id", LongType),
        StructField("centroid", ArrayType(FloatType))))).localCheckpoint()
    holdout = frame(evalSet.zipWithIndex.map { case (v, k) => Row(k.toLong, v.toSeq) }, vecSchema)
      .localCheckpoint()
    genS
  }

  /** Generates op `i`'s batch (copies drawn from this batch and all
    * earlier ones) and appends it to the stream's source directory.
    */
  override def stage(i: Int): Unit = {
    batch = gen.batch(1000 + i, i.toLong * 1000000L, N, ExactRate, NearRate, history)
    history ++= batch
    frame(batch.map(d => Row(d.id, d.text, if (d.emb == null) null else d.emb.toSeq)), schema)
      .coalesce(1).write.mode("append").parquet(src)
  }

  private var streamMs = (0L, 0L)

  def op(i: Int, ctx: OpCtx): Long = {
    val m0 = System.currentTimeMillis()
    ctx.spans.span("streaming.Incremental.curationFirewallStream") {
      Incremental.curationFirewallStream(spark, src, index, dest, s"$root/checkpoint",
        semanticEps = 0.4, semanticCentroids = centroids,
        pplModel = model, maxPpl = 1e5,
        decontamHoldout = holdout, decontamEps = 0.8)
    }
    streamMs = (m0, System.currentTimeMillis())
    N.toLong
  }

  private def verify(i: Int, chain: Seq[Long], kept: Seq[Long]): Either[String, String] = {
    val keptSet = kept.toSet
    val leaked = batch.filter(d => d.exact && admitted(d.copyOf) && keptSet(d.id))
    val live = chain.filter(_ >= 0)
    if (chain.isEmpty) Left(s"op $i: no accounting row for micro-batch $i")
    else if (chain.head != N) Left(s"op $i: accounted input ${chain.head}, appended $N")
    else if (live.sliding(2).exists(p => p(1) > p(0)))
      Left(s"op $i: stage tallies increase: ${live.mkString(" > ")}")
    else if (live.last != kept.size) Left(s"op $i: kept tally ${live.last}, kept rows ${kept.size}")
    else if (leaked.nonEmpty)
      Left(s"op $i: ${leaked.size} copies of admitted documents admitted, e.g. doc ${leaked.head.id}")
    else Right(Rng.sha256(kept.sorted.mkString(",").getBytes("UTF-8")))
  }

  def check(i: Int): Either[String, String] = {
    val acct = spark.read.parquet(s"$dest/_accounting").filter(col("__batch") === i).collect()
    chain = acct.headOption.toSeq.flatMap(r => Seq("input", "after_exact", "after_neardup",
      "after_semdedup", "after_quality", "after_ppl", "after_semantic", "kept")
      .map(f => r.getAs[Long](f)))
    kept = spark.read.parquet(dest).filter(col("__batch") === i)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val res = verify(i, chain, kept)
    admitted ++= kept
    res
  }

  def corruptedCheck(i: Int): Either[String, String] =
    // the tally of one stage raised above the stage before it
    verify(i, chain.updated(2, chain.head + 1), kept)

  override def onDisk(i: Int): Map[String, Double] = {
    val (files, bytes, _) = Workload.parquetStats(index)
    Map("index.files" -> files.toDouble, "index.bytes" -> bytes.toDouble)
  }

  override def intervals(i: Int): Map[String, (Long, Long)] = Map("stream.jobs" -> streamMs)

  def layers(i: Int, spanTimes: Map[String, (Double, Double)],
             observed: Map[String, Double]): Map[String, Double] = Map.empty
}
