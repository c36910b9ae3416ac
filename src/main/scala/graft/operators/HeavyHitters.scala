package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Exact top-K frequent items without a full-cardinality shuffle —
  * the 100 TB answer to "top 50 tokens over a billion-word
  * vocabulary", built on the [[graft.plans.MisraGriesSketch]]
  * candidate generator.
  *
  * The plain `groupBy(item).count().orderBy(desc).limit(k)` is exact
  * but its exchange carries one row per DISTINCT item (the whole
  * vocabulary). Here:
  *
  *  1. ONE scan reduces each partition to ≤ `capacity` (item, weight)
  *     pairs (MG partials, map-side), merged into one summary — a
  *     driver-side frame of at most `capacity` rows, shuffle volume
  *     O(capacity · partitions) regardless of vocabulary size.
  *  2. A second scan recounts ONLY the candidates exactly: broadcast
  *     hash semi-join (no shuffle of the corpus), map-side-combined
  *     counts of ≤ `capacity` groups.
  *  3. The MG bound certifies exactness: every item with true
  *     frequency > N/capacity is a candidate, so if the k-th confirmed
  *     count clears that bar, the true top-K is a subset of the
  *     candidates and the recount makes it exact. The composition
  *     REFUSES (IllegalStateException, with the capacity to retry at)
  *     rather than silently returning approximate ranks when the
  *     distribution is too flat for the bound — same contract shape as
  *     [[Decontam]]'s Bloom stage: the sketch moves cost, never the
  *     answer.
  *
  * Capacity AUTO-ESCALATION (round 11, found by the ×10 scale
  * rehearsal: a fixed 4096 stopped certifying top-50 at N ≈ 3.3M
  * tokens): on a certification refusal the pass retries with a
  * larger capacity — at least 4×, or past the refusal's own
  * suggested bound when it carries one — up to `maxCapacity`
  * (default 2^18 entries, an explicit driver-bounded summary size in
  * the CC-small-graph class). A distribution too flat for
  * `maxCapacity` still refuses. Pass `maxCapacity = capacity` to pin
  * the capacity (the refusal-contract tests do).
  */
object HeavyHitters {

  /** Certification refusal carrying the capacity bound the data
    * itself suggests (N / k-th-count), so escalation can jump
    * straight past it instead of doubling blindly.
    */
  final class CapacityTooSmall(msg: String, val suggested: Long)
      extends IllegalStateException(msg)

  private def escalate[A](capacity: Int, maxCapacity: Int)
                         (attempt: Int => A): A = {
    var cap = capacity
    while (true) {
      try return attempt(cap)
      catch {
        case e: CapacityTooSmall if cap < maxCapacity =>
          cap = math.min(maxCapacity.toLong,
            math.max(cap * 4L, e.suggested * 2L)).toInt
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Misra-Gries summary aggregate ([[graft.plans.MisraGriesSketch]])
    * of a string item column: map<item, lower-bound weight> of at most
    * `capacity` entries.
    */
  def mgSketch(item: Column, capacity: Int): Column =
    ColumnBridge.column(graft.plans.MisraGriesSketch(
      ColumnBridge.expression(item), Literal(capacity)).toAggregateExpression())

  /** Exact (item, n) top-K by frequency, ties broken by item asc.
    * Output columns: `item` (string), `n` (long), ordered by
    * (n desc, item asc), exactly `k` rows (fewer if < k distinct).
    */
  def exactTopK(items: DataFrame, itemCol: Column, k: Int,
                capacity: Int = 4096,
                maxCapacity: Int = 1 << 18): DataFrame =
    escalate(capacity, math.max(capacity, maxCapacity))(
      exactTopKAt(items, itemCol, k, _))

  private def exactTopKAt(items: DataFrame, itemCol: Column, k: Int,
                          capacity: Int): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    // nulls are skipped by the MG sketch AND by the recount — drop
    // them here too so the certification's N matches the bound's N
    val it = items.select(itemCol.cast("string").as("item"))
      .filter(col("item").isNotNull)

    // pass 1: N and the merged MG summary in one scan
    val row = it.agg(
      count(lit(1)).as("n"),
      mgSketch(col("item"), capacity).as("mg")).head()
    val n = row.getLong(0)
    val cands = row.getMap[String, Long](1).keys.toSeq

    // pass 2: exact recount of ALL candidates (≤ capacity groups,
    // broadcast semi-join — tiny, collected for certification anyway)
    val confirmed = it
      .join(broadcast(cands.toDF("item")), Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("item").asc)
      .collect()

    // certify exactness, two sufficient conditions:
    //  (a) full coverage: confirmed counts sum to N ⇒ the candidates
    //      ARE the whole item population (distinct ≤ capacity) — any
    //      k is exact;
    //  (b) bound clearance: the k-th confirmed count exceeds N/m, the
    //      MG survival threshold ⇒ every true top-k item is a
    //      candidate. Anything else (including < k surviving
    //      candidates over a flatter-than-N/m distribution) REFUSES.
    val covered = confirmed.iterator.map(_.getLong(1)).sum == n
    val certified = covered || (confirmed.length >= k &&
      confirmed(k - 1).getLong(1) * capacity.toLong > n)
    if (!certified) {
      val kth = if (confirmed.length >= k) confirmed(k - 1).getLong(1) else 0L
      val suggested = if (kth > 0) n / kth else n
      throw new CapacityTooSmall(
        s"MG capacity $capacity cannot certify exact top-$k: k-th count " +
          s"$kth ≤ N/m = $n/$capacity. Retry with capacity > $suggested.",
        suggested)
    }
    confirmed.take(k).map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("item", "n")
      .orderBy(col("n").desc, col("item").asc)
  }

  /** Per-GROUP certified-exact top-K — the grouped shape where the
    * mergeable MG buffer earns its keep: ONE aggregate produces every
    * group's candidate summary (map-side partials merge per group, ≤
    * `capacity` state each), candidates explode back to (group, item)
    * rows and recount in ONE more pass — fully distributed, nothing
    * group-cardinality-sized ever reaches the driver (unlike
    * [[exactTopK]]'s single global summary, which is one row by
    * construction). Certification is per group, the same two
    * sufficient conditions; any uncertified group REFUSES with the
    * offending groups named.
    *
    * Output: (grp, item, n, rnk) for rnk ≤ k, ordered by
    * (grp, rnk, item).
    */
  def exactTopKPerGroup(items: DataFrame, groupCol: Column, itemCol: Column,
                        k: Int, capacity: Int = 4096,
                        maxCapacity: Int = 1 << 18): DataFrame =
    escalate(capacity, math.max(capacity, maxCapacity))(
      exactTopKPerGroupAt(items, groupCol, itemCol, k, _))

  private def exactTopKPerGroupAt(items: DataFrame, groupCol: Column,
                                  itemCol: Column, k: Int,
                                  capacity: Int): DataFrame = {
    val spark = items.sparkSession
    val it = items.select(groupCol.cast("string").as("grp"),
      itemCol.cast("string").as("item"))
      .filter(col("item").isNotNull) // keep certification N ≡ MG's N

    // pass 1: per-group N + MG summary; candidates stay distributed
    val summaries = it.groupBy(col("grp")).agg(
      count(lit(1)).as("__n"),
      mgSketch(col("item"), capacity).as("__mg"))
      .localCheckpoint() // group-count-sized; feeds candidates AND certification
    val cands = summaries.select(col("grp"),
      explode(map_keys(col("__mg"))).as("item"))

    // pass 2: exact recount of candidates per group; the frame is
    // candidate-sized (≤ groups·capacity) and feeds both the
    // certification scan and the returned ranking — checkpoint so the
    // corpus recount runs once
    val confirmed = it.join(cands, Seq("grp", "item"), "left_semi")
      .groupBy(col("grp"), col("item")).agg(count(lit(1)).as("n"))
      .localCheckpoint()

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("grp")).orderBy(col("n").desc, col("item").asc)
    val ranked = confirmed.withColumn("rnk", row_number().over(w))

    // certify per group: full coverage (Σ confirmed = N) or k-th
    // count clears N/m — evaluated over the candidate-sized frame
    val cert = ranked.groupBy(col("grp"))
      .agg(sum(col("n")).as("__sum"),
        max(when(col("rnk") === k, col("n"))).as("__kth"),
        count(lit(1)).as("__cand"))
      .join(summaries.select(col("grp"), col("__n")), "grp")
      .withColumn("__ok",
        col("__sum") === col("__n") ||
          (col("__cand") >= k && col("__kth") * capacity > col("__n")))
    // worst group's N/kth suggests the capacity to jump to (0-safe:
    // a group with < k candidates suggests its full N)
    val bad = cert.filter(!col("__ok"))
      .select(col("grp"),
        when(col("__kth").isNotNull && col("__kth") > 0,
          col("__n") / col("__kth")).otherwise(col("__n")).cast("long")
          .as("__suggest"))
      .collect()
    if (bad.nonEmpty)
      throw new CapacityTooSmall(
        s"MG capacity $capacity cannot certify exact top-$k for groups: " +
          bad.map(_.getString(0)).sorted.mkString(", ") +
          ". Retry with a larger capacity.",
        bad.map(_.getLong(1)).max)

    ranked.filter(col("rnk") <= k)
      .select(col("grp"), col("item"), col("n"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("grp"), col("rnk"), col("item"))
  }
}
