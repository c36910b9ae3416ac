package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Subset hook (dev, round-14): SPARK_GRAFT_VERIFY_ONLY=a,b,c dumps
    // only those queries AND filters oracle_sql.json to match, so
    // check_oracle.py sweeps exactly the subset — used for the ×R
    // fixture hash sweeps, where a handful of oracle restatements
    // (pair CTEs) are quadratic on the DuckDB side. Unknown names
    // fail fast. The driver's per-round gate never sets this.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    def wanted(n: String): Boolean = only.forall(_.contains(n))
    var dumped = 0; var failed = 0
    val failedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        failed += 1; failedNames += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val oracles = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
    val json = oracles
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // one machine-readable summary line on BOTH streams (round 18):
    // the driver's CORRECTNESS artifact arrived empty two rounds in a
    // row while the run itself was green — a second scrape path lets
    // a parse failure be reconstructed from either log
    val summary = s"""{"metric":"verify","dumped":$dumped,"failed":$failed,""" +
      s""""oracles":${oracles.size},"failed_names":${failedNames
        .map(Json.str).mkString("[", ",", "]")}}"""
    println(summary)
    System.err.println(summary)
  }
}
