package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based aggregates for crawl-scale cardinality and rank questions
  * — the queries a frontier/doc-store operator asks constantly ("distinct
  * URLs per host", "p99 fetch latency per status") where the EXACT answer
  * forces the full key set through an exchange.
  *
  * Exact `count(DISTINCT v)` per group is planned by Spark as a two-level
  * expand-aggregate: the partial stage dedups map-side, but the exchange
  * still carries every distinct (group, value) pair — at 100 TB a head
  * host's distinct URL set IS the data. The HyperLogLog++ form
  * (`approx_count_distinct`) carries a fixed few-KB register array per
  * group through the exchange regardless of cardinality, and its merge is
  * a per-register max — commutative and associative, so the estimate is
  * invariant to partitioning and cluster size (the property the
  * scaling-criterion rule cares about: same answer at N and 4N cores).
  *
  * Pairing discipline (the engine's `hashLines`/histogram-quantiles
  * pattern): the exact form is the DuckDB-oracle-checkable twin; the
  * sketch form is the scale path, sbt-bounded against the exact answer
  * (relative error ≤ a multiple of the configured rsd) and
  * partition-invariance-tested.
  */
object Sketches {

  /** Exact distinct-value count per group (the oracle twin). */
  def distinctPerGroup(df: DataFrame, groupCol: String, valueCol: String,
      outCol: String = "distinct_n"): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count_distinct(col(valueCol)).as(outCol),
        count(lit(1)).as("n"))

  /** HyperLogLog++ distinct-value estimate per group (the scale path).
    * `rsd` is the target relative standard deviation (Spark default 5%;
    * 2% costs ~4× the register space — still KBs).
    */
  def distinctPerGroupApprox(df: DataFrame, groupCol: String,
      valueCol: String, rsd: Double = 0.02,
      outCol: String = "distinct_n"): DataFrame =
    df.groupBy(col(groupCol))
      .agg(approx_count_distinct(col(valueCol), rsd).as(outCol),
        count(lit(1)).as("n"))

  /** Exact heavy hitters: the `k` most frequent values per group (ties
    * broken by the value ascending) — "hottest URLs per host", "top error
    * pages per status". One count aggregation (map-side partials, the
    * exchange carries distinct (group, value) pairs once) then the
    * per-group top-k window ([[Sampling.bottomK]]'s shape): a group with
    * millions of distinct values ships at most k of them per map task
    * through the partial group limit. For a sketch-only pass at extreme
    * cardinality, compose
    * [[distinctPerGroupApprox]] to size groups first; the count exchange
    * here is already the minimal exact form.
    */
  def heavyHitters(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("n").desc, col(valueCol).asc)
    counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Approximate per-group percentiles via the PercentileDigest sketch
    * (`approx_percentile`) — the scale twin of
    * [[EventOps.valueQuantiles]]: where the exact form needs the
    * histogram two-pass (or a per-group sort), the sketch is one pass
    * with a bounded-size buffer per group, mergeable across partitions.
    * `accuracy` trades buffer size for error (guarantee: rank error ≤
    * 1/accuracy · n).
    */
  def quantilesApprox(df: DataFrame, groupCol: String, valueCol: String,
      percentiles: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val pcts = percentiles.map(p => s"${p}D").mkString("array(", ", ", ")")
    df.groupBy(col(groupCol))
      .agg(expr(s"approx_percentile(`$valueCol`, $pcts, $accuracy)")
        .as("quantiles"))
  }
}
