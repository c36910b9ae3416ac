package graft.domain

import graft.functions.AmountFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's refine step (`sql/top100_compute.sql:4-35`): rank
  * every holder of each token in its latest 6h snapshot bucket and
  * keep the Top-K.
  *
  * Scale/exactness decisions:
  *  - The RANK window partitions by (contract_address, bucket_unix) —
  *    the reference's window is global only because its input is
  *    pre-filtered to one token (SURVEY W1 note c); partitioning lets
  *    one job rank every token in parallel with a single shuffle.
  *  - The ordering key is (length(quantity_raw) DESC, quantity_raw
  *    DESC): for canonical non-negative decimal strings (no leading
  *    zeros — the ingest boundary guarantees this) that is EXACTLY
  *    numeric descending order, valid for the full NUMERIC(78,0)
  *    uint256 range — no Decimal(38) overflow, no precision cliff.
  *    The displayed `balance` (raw / 10^token_decimal,
  *    top100_compute.sql:16) is computed wide
  *    ([[AmountFns.scaleByDecimalsWide]]) and is only display — never
  *    the ranking key.
  *  - `lower()` normalization (top100_compute.sql:13-14) is applied
  *    here defensively even though ingest lowercases too.
  */
object Top100 {

  /** Rank holders of every (token, latest bucket) and keep rnk ≤ k.
    * Input must be holders_raw-shaped (Schemas.holdersRaw, incl.
    * bucket_unix); output is refined_wallet_top100-shaped.
    */
  def compute(holders: DataFrame, k: Int = 100): DataFrame = {
    val h = holders.select(
      col("bucket_start_utc"),
      col("bucket_unix"),
      lower(col("contract_address")).as("contract_address"),
      lower(col("holder_address")).as("holder_address"),
      col("token_decimal"),
      col("quantity_raw"))
    val latest = h.groupBy(col("contract_address"))
      .agg(max(col("bucket_unix")).as("__latest"))
    val current = h.join(broadcast(latest), Seq("contract_address"))
      .filter(col("bucket_unix") === col("__latest")).drop("__latest")
    val w = Window.partitionBy(col("contract_address"), col("bucket_unix"))
      .orderBy(length(col("quantity_raw")).desc, col("quantity_raw").desc,
        col("holder_address").asc)
    current.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= k)
      .select(
        col("bucket_start_utc"),
        col("contract_address"),
        col("rnk").cast(IntegerType).as("rnk"),
        col("holder_address"),
        col("token_decimal"),
        col("quantity_raw").as("balance_raw"),
        AmountFns.scaleByDecimalsWide(col("quantity_raw"), col("token_decimal"))
          .as("balance"),
        current_timestamp().as("inserted_at"),
        col("bucket_unix"))
  }
}
