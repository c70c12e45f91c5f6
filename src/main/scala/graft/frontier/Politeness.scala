package graft.frontier

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Politeness claim (W2/Z1) — the reference's time-based per-thread pacing
  * (WebRiverIntervalController.java:5-13, RiverWeb.java:437-439) translated
  * into the testable per-round invariant: at most `hostBudget` fetches per
  * host per round, claimed in the canonical crawl order
  * `(depth asc, urlHash asc, url asc)` (BFS within-depth, W1), then globally
  * capped by the remaining `max_access_count` budget (A2/Z4).
  *
  * Skew: hosts are zipf-distributed (BASELINE.md), so the per-host rank
  * must not funnel the hottest host's frontier rows through one task. It
  * is one `row_number()` window per host, filtered on the literal
  * `hostBudget`: Spark's `InsertWindowGroupLimit` then plans a partial
  * `WindowGroupLimit` below the single hash exchange, so every map task
  * ships at most `hostBudget` rows per host and a hot host's reducer
  * sees at most (map tasks × budget) rows. Spark inserts the partial
  * limit only while the budget is at most
  * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000); a
  * larger budget ranks each host in one sort task.
  */
object Politeness {

  val OrderCols = Seq("depth", "urlHash", "url")

  /** Claim up to `hostBudget` rows per host and `remaining` rows overall,
    * in the canonical BFS order (depth, urlHash, url). `saltBuckets` is
    * ignored: the per-host window needs no salting (see the object doc);
    * the parameter stays for callers that pass it by name.
    */
  def claim(
      frontier: DataFrame,
      hostBudget: Int,
      remaining: Long,
      saltBuckets: Int = 16): DataFrame =
    claimOrdered(frontier,
      Seq(col("depth").asc, col("urlHash").asc, col("url").asc),
      hostBudget, remaining)

  /** Priority-aware claim — frontier prioritization, the reason a crawler
    * computes link authority at all (see [[graft.ops.GraphOps.pageRank]]):
    * under a politeness-limited fetch budget, high-`priorityCol` URLs are
    * claimed first (descending), ties broken by the canonical BFS order so
    * the claim stays fully deterministic. The caller attaches the priority
    * column (typically a broadcast join against the node-count-sized rank
    * table — ranks are one row per node, orders smaller than the
    * frontier). Same per-host window as [[claim]], over this order.
    */
  def claimPrioritized(
      frontier: DataFrame,
      hostBudget: Int,
      remaining: Long,
      priorityCol: String = "priority"): DataFrame =
    claimOrdered(frontier,
      Seq(col(priorityCol).desc, col("depth").asc, col("urlHash").asc,
        col("url").asc),
      hostBudget, remaining)

  /** Per-host budget overrides (robots.txt Crawl-delay, Z1/Z2): hosts in
    * `hostBudgets` ("host", "budget") claim at most min(budget,
    * hostBudget) rows this round; absent hosts get the default. The
    * override table is one row per DISTINCT host with a delay directive —
    * orders smaller than the frontier — so it rides in as a broadcast
    * left join ahead of the same per-host window. The rank filter keeps
    * the literal `hostBudget` conjunct next to the per-host one, so the
    * partial group limit still applies. A budget ≤ 0 claims nothing from
    * that host.
    */
  def claimWithHostBudgets(
      frontier: DataFrame,
      hostBudget: Int,
      hostBudgets: DataFrame,
      remaining: Long): DataFrame = {
    val joined = frontier.join(
      broadcast(hostBudgets.select(col("host"), col("budget").as("__hb"))),
      Seq("host"), "left")
    claimOrdered(joined,
      Seq(col("depth").asc, col("urlHash").asc, col("url").asc),
      hostBudget, remaining,
      budget = coalesce(col("__hb"), lit(hostBudget)))
      .select(frontier.columns.map(col): _*) // the join put host first
  }

  /** [[claimWithHostBudgets]] on the driver, for a frontier whose rows are
    * already there (no overrides: [[claim]]): per host, the first
    * min(`hostBudget`, `budgets(host)`) rows in canonical order, then the
    * first `remaining` of those in the same order, which is the order they
    * come back in. A budget ≤ 0 claims nothing from its host; a null host
    * is one host with the default budget. Rows need non-null `depth`,
    * `urlHash` and `url` fields and a `host` field.
    */
  def claimRows(rows: Seq[Row], hostBudget: Int, budgets: Map[String, Int],
      remaining: Long): Seq[Row] = {
    val perHost = rows.groupBy(r => Option(r.getAs[String]("host"))).toSeq
      .flatMap { case (host, hostRows) =>
        val budget = host.flatMap(budgets.get).fold(hostBudget)(math.min(_, hostBudget))
        canonicalOrder(hostRows).take(budget)
      }
    canonicalOrder(perHost).take(math.min(remaining, Int.MaxValue.toLong).toInt)
  }

  /** rows in canonical crawl order, as Spark's `orderBy(depth, urlHash,
    * url)` sorts them: `urlHash` as a signed long, `url` by its UTF-8 bytes
    * (not by Java's UTF-16 `compareTo`).
    */
  def canonicalOrder(rows: Seq[Row]): Seq[Row] = {
    implicit val utf8Order: Ordering[UTF8String] = (a, b) => a.compareTo(b)
    rows.sortBy(r => (r.getAs[Int]("depth"), r.getAs[Long]("urlHash"),
      UTF8String.fromString(r.getAs[String]("url"))))
  }

  private def claimOrdered(
      frontier: DataFrame,
      order: Seq[org.apache.spark.sql.Column],
      hostBudget: Int,
      remaining: Long,
      budget: org.apache.spark.sql.Column = null): DataFrame = {
    val w = Window.partitionBy(col("host")).orderBy(order: _*)
    // the literal bound is what lets Spark plan the partial group limit
    // below the exchange; a per-host `budget` can only tighten it
    val keep = col("__r") <= hostBudget
    val perHost = frontier.withColumn("__r", row_number().over(w))
      .filter(Option(budget).fold(keep)(b => keep && col("__r") <= b))
      .drop("__r")

    // global budget cap in canonical order — planned as
    // TakeOrderedAndProject (no full global sort materialization). When
    // `remaining` exceeds Int.MaxValue the cap is skipped: a single round
    // cannot claim 2^31 rows through per-host budgets, and limit()/
    // TakeOrderedAndProject are Int-bounded anyway — overshoot is bounded
    // by one round and the loop's budget check ends the crawl at the next
    // round boundary (same at-most-one-overshoot the reference's
    // CrawlerContext counter gives its threads).
    if (remaining > Int.MaxValue.toLong) perHost
    else perHost.orderBy(order: _*).limit(remaining.toInt)
  }
}
