package graft

import java.nio.file.{Files, OpenOption, Paths}

import org.apache.spark.sql.SparkSession

/** Per-round quality dump for the approximate queries: writes the
  * [[graft.queries.QualityMetrics]] table as one JSON file (default
  * QUALITY_r{N}.json at the repo root) so recall/error regressions
  * leave a numeric, diffable artifact next to BENCH/CORRECTNESS —
  * a silent recall drop becomes as loud as a hash mismatch.
  *
  * Usage: `Quality <sfDir> <outPath>`.
  *
  * [[graft.Bench]] also calls [[writeArtifact]] at the end of every
  * run (round 11): the driver runs Bench each round, so the artifact
  * chain can no longer skip a round by relying on a manually-launched
  * main (the rounds 9 and 10 failure mode).
  */
object Quality {

  /** Compute the metrics table at `sfDir`, write it as JSON to
    * `outPath` (opened with `options`), and return (allPass,
    * renderedJson).
    */
  def writeArtifact(spark: SparkSession, sfDir: String, outPath: String,
                    options: OpenOption*): (Boolean, String) = {
    val rows = graft.queries.QualityMetrics.metrics(spark, sfDir).collect()
    val body = rows.map { r =>
      val numer = if (r.isNullAt(2)) "null" else r.getLong(2).toString
      s"""    "${r.getString(0)}": {"value": ${r.getDouble(1)}, """ +
        s""""numer": $numer, "denom": ${r.getLong(3)}, """ +
        s""""floor": ${r.getDouble(4)}, "pass": ${r.getBoolean(5)}}"""
    }.mkString(",\n")
    val allPass = rows.forall(_.getBoolean(5))
    val json =
      s"""{
         |  "sf": "$sfDir",
         |  "all_pass": $allPass,
         |  "metrics": {
         |$body
         |  }
         |}
         |""".stripMargin
    Files.writeString(Paths.get(outPath), json, options: _*)
    (allPass, json)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outPath = if (args.length > 1) args(1) else "QUALITY.json"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val (allPass, json) = writeArtifact(spark, sfDir, outPath)
    println(json)
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
