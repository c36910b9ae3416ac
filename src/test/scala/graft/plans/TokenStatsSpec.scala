package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class TokenStatsSpec extends SparkSpec {

  private def tokStats(toks: Column): Column =
    ColumnBridge.column(TokenStats(ColumnBridge.expression(toks)))

  test("graft_tok_stats: counts, distinct, top multiplicity; empty → null") {
    val ss = spark; import ss.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "a", "a", "c")),   // n=5 d=3 top=3
      (2L, Seq("x")),                        // n=1 d=1 top=1
      (3L, Seq.empty[String]))               // null
      .toDF("doc_id", "toks")
      .select(col("doc_id"), tokStats(col("toks")).as("s"))
    val rows = df.select(col("doc_id"), col("s.n"), col("s.d"), col("s.top"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((5L, 3L, 3L)))
    assert(rows(2L) == ((1L, 1L, 1L)))
    assert(rows(3L) == null)
  }

  test("graft_tok_stats agrees with the explode/groupBy formulation") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(5)
    val docs = (1 to 30).map { id =>
      (id.toLong, Seq.fill(1 + rnd.nextInt(50))(s"t${rnd.nextInt(12)}"))
    }.toDF("doc_id", "toks")
    val fast = docs.select(col("doc_id"),
        tokStats(col("toks")).as("s"))
      .select(col("doc_id"), col("s.n"), col("s.d"), col("s.top"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val slow = docs.select(col("doc_id"), explode(col("toks")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("d"), max(col("c")).as("top"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fast == slow)
  }
}
