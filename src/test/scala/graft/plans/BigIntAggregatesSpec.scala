package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** [[SumBigUInt]] (`graft_sum_uint`): exact integer SUM past the
  * Decimal(38) cliff, with SQL-SUM null handling and map-side partial
  * aggregation (the shuffle carries merged buffers, so multi-partition
  * grouping must be exact too).
  */
class BigIntAggregatesSpec extends SparkSpec {
  import spark.implicits._

  private def sumUint(c: Column): Column =
    ColumnBridge.column(SumBigUInt(ColumnBridge.expression(c)).toAggregateExpression())

  test("exact past Decimal(38): 40-digit whale + small values sum digit-perfectly") {
    val whale = "9" * 40 // 10^40 - 1
    val df = Seq(("a", whale), ("a", "1"), ("a", "2"), ("b", "0"), ("b", "5"))
      .toDF("k", "v")
    val got = df.groupBy($"k")
      .agg(sumUint($"v").as("total"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // 10^40 - 1 + 3 = 10^40 + 2
    assert(got == Map("a" -> ("1" + "0" * 39 + "2"), "b" -> "5"))

    // the same sum through Decimal(38,0) silently DROPS the whale
    // (try_cast nulls the 40-digit value, SUM skips it) — the silent
    // data loss this aggregate closes
    val dec = df.filter($"k" === "a")
      .agg(sum(expr("try_cast(v as decimal(38,0))")).as("s")).collect()(0)
    assert(dec.getDecimal(0).longValueExact() == 3L,
      "Decimal(38) path silently loses the whale (documents the gap)")
  }

  test("null inputs skipped; all-null/empty group yields \"0\"; negatives supported") {
    val df = Seq(("a", "10"), ("a", null), ("b", null), ("c", "-7"), ("c", "3"))
      .toDF("k", "v")
    val got = df.groupBy($"k")
      .agg(sumUint($"v").as("total"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "10", "b" -> "0", "c" -> "-4"))
  }

  test("partial aggregation across many partitions is exact (merge path)") {
    // 64 partitions each holding 10^38-scale values: every partition
    // must pre-merge (partial agg) and the final merge must carry
    // exact BigInteger buffers through the shuffle.
    val big = "1" + "0" * 38
    val df = spark.range(0, 1024).repartition(64)
      .select(lit("g").as("k"), lit(big).as("v"))
    val got = df.groupBy($"k")
      .agg(sumUint($"v").as("total"))
      .collect()(0).getString(1)
    assert(got == "1024" + "0" * 38)

    // plan-shape: partial_graft_sum_uint before the exchange proves
    // map-side combine (shuffle is O(groups), not O(rows))
    val plan = df.groupBy($"k")
      .agg(sumUint($"v")).queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_sum_uint"),
      s"expected map-side partial aggregation in plan:\n$plan")
  }
}
