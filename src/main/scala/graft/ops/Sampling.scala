package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting for training-data pipelines:
  * hash-bucket a stable id and threshold the bucket — reproducible across
  * runs, cluster sizes, and partitionings (no `rand()`), and a pure
  * map-side projection (no shuffle, no state).
  *
  * The bucket hash is Knuth's multiplicative scheme over the numeric id
  * (`(id · 2654435761) mod 2^32`, then mod `Buckets`) — chosen over
  * xxhash64 because the arithmetic is expressible in ANSI SQL, so every
  * split/sample is DuckDB-oracle-checkable end to end. 10^4 buckets bound
  * the split-fraction granularity at 0.01%.
  */
object Sampling {

  val Buckets = 10000

  /** stable bucket in [0, Buckets) for a numeric id column. */
  def bucketOf(id: Column): Column =
    pmod(pmod(id.cast("long") * 2654435761L, lit(4294967296L)), lit(Buckets))

  /** Add a `split` column assigning each row to the first label whose
    * cumulative weight covers its bucket — e.g.
    * `Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01)`. Weights are
    * taken as fractions of [[Buckets]] (floor), remainder goes to the last
    * label, so the assignment is exact integer arithmetic.
    */
  def deterministicSplit(df: DataFrame, idCol: String,
      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val bounds = weights.init.scanLeft(0L) {
      case (acc, (_, w)) => acc + math.floor(w * Buckets).toLong
    }.tail
    val b = bucketOf(col(idCol))
    val branches = weights.init.zip(bounds).foldLeft(Option.empty[Column]) {
      case (acc, ((label, _), hi)) =>
        Some(acc.fold(when(b < hi, label))(_.when(b < hi, label)))
    }
    df.withColumn("split",
      branches.fold(lit(weights.last._1): Column)(_.otherwise(weights.last._1)))
  }

  /** Keep a per-stratum deterministic fraction of rows (e.g. downsample
    * per language): row kept iff its bucket < fraction·Buckets for its
    * stratum; strata absent from `fractions` fall back to `defaultFraction`.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    val thresholds = fractions.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (stratum, f)) =>
        val hit = col(strataCol) === stratum
        val th = lit(math.floor(f * Buckets).toLong)
        Some(acc.fold(when(hit, th))(_.when(hit, th)))
    }
    val th = thresholds.fold(lit(math.floor(defaultFraction * Buckets).toLong): Column)(
      _.otherwise(math.floor(defaultFraction * Buckets).toLong))
    df.filter(bucketOf(col(idCol)) < th)
  }

  /** Apply a target domain MIXTURE (desired share of the output corpus per
    * stratum — the Pile/DoReMi-style mixing step) as deterministic
    * per-stratum downsampling: the output is the LARGEST corpus achieving
    * the requested shares without upsampling — total T = min over s of
    * n_s/share_s, stratum s keeps share_s·T rows via
    * [[stratifiedSample]]'s integer bucket threshold. Strata not in
    * `shares` are dropped (share 0); every requested stratum must exist in
    * the data. One tiny counts aggregation (rows = #strata) collects to
    * the driver; the applied filter stays a pure map-side projection, so
    * the op is reproducible across runs, partitionings, and cluster sizes.
    */
  def mixtureSample(df: DataFrame, idCol: String, strataCol: String,
      shares: Map[String, Double]): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "mixture shares must be positive")
    val counts = df
      .filter(col(strataCol).isin(shares.keys.toSeq: _*))
      .groupBy(strataCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(shares.keys.forall(counts.contains),
      s"requested strata missing from data: ${shares.keySet -- counts.keySet}")
    val t = shares.map { case (s, share) => counts(s).toDouble / share }.min
    val fractions = shares.map { case (s, share) =>
      s -> (share * t) / counts(s).toDouble
    }
    stratifiedSample(df, idCol, strataCol, fractions, defaultFraction = 0.0)
  }

  /** Sequence packing (the concat-and-chunk step every LLM training
    * pipeline runs last): documents concatenate in `idCol` order into one
    * token stream chunked into fixed `seqLen`-token training sequences;
    * each doc reports its whitespace token count, its exclusive-prefix
    * start position in the stream, and the sequence id its first token
    * lands in (`start_pos / seqLen`). Deterministic — a pure function of
    * the (id → token count) mapping, independent of partitioning or
    * cluster size.
    *
    * Scale shape — a distributed two-pass prefix sum, NOT the naive
    * `Window.orderBy` with no partition key (which funnels the entire
    * corpus through ONE task): range-partition by id (so partition p holds
    * a contiguous id range), per-partition token totals collect to the
    * driver (one row per partition — bounded), prefix there, and ride back
    * as a broadcast-literal offset map; the within-partition running sum
    * is a window PARTITIONED BY the physical partition id, so every
    * partition computes its local prefix in parallel and adds its offset.
    * The counted frame is persisted so the offsets pass and the output
    * pass see the SAME sampled range boundaries.
    */
  def packSequences(docs: DataFrame, seqLen: Long, idCol: String = "doc_id",
      textCol: String = "text", partitions: Int = 0): DataFrame =
    packSequencesReleasable(docs, seqLen, idCol, textCol, partitions)._1

  /** Exact per-stratum bottom-k sample: the k rows with the smallest
    * `md5(id)` in each stratum. Unlike [[stratifiedSample]] (a FRACTION —
    * the kept count varies with stratum size), this yields exactly
    * `min(k, |stratum|)` rows per stratum, the shape needed for per-domain
    * spot-check sets, eval-holdout carving, and bounded per-host URL
    * sampling at crawl scale. md5 as the priority makes the choice a
    * deterministic uniform draw — stable across runs, partitionings, and
    * engines (md5 of the decimal id string is bit-identical in ANSI SQL),
    * with no `rand()` and no seed plumbing.
    *
    * Scale shape — the politeness claim's per-group window
    * ([[graft.frontier.Politeness.claim]]): one `row_number()` per
    * stratum filtered on the literal k, which Spark plans with a partial
    * `WindowGroupLimit` below the exchange, so a hot stratum ships at
    * most k rows per map task rather than the whole stratum into one
    * task (for k up to `spark.sql.optimizer.windowGroupLimitThreshold`,
    * default 1000).
    */
  def bottomK(df: DataFrame, idCol: String, strataCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("__pri").asc, col(idCol).asc)
    df.withColumn("__pri", md5(col(idCol).cast("string")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .drop("__r", "__pri")
  }

  /** [[packSequences]] plus a release handle for the internal persisted
    * counts frame (same discipline as
    * [[Dedup.ngramContaminationReleasable]] — the plain form leans on LRU
    * eviction, which accumulates cached blocks across repeated calls in a
    * long-lived session).
    */
  def packSequencesReleasable(docs: DataFrame, seqLen: Long,
      idCol: String = "doc_id", textCol: String = "text",
      partitions: Int = 0): (DataFrame, () => Unit) = {
    require(seqLen > 0, "seqLen must be positive")
    val spark = docs.sparkSession
    val nPart =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val counted = docs
      .select(col(idCol), size(split(col(textCol), "\\s+")).cast("long").as("n_tokens"))
      .repartitionByRange(nPart, col(idCol))
      .withColumn("__pid", spark_partition_id())
      .persist()
    // pass 1: per-partition totals (rows = nPart, trivially collectable)
    val totals = counted.groupBy("__pid").agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = totals.scanLeft((0, 0L)) {
      case ((_, acc), (pid, t)) => (pid, acc + t)
    }.sliding(2).collect { case Array((_, acc), (pid, _)) => pid -> acc }.toMap
    // pass 2: within-partition exclusive prefix + broadcast offset
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsetCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(offsets), col("__pid")), lit(0L))
    val out = counted
      .withColumn("start_pos", coalesce(sum("n_tokens").over(w), lit(0L)) + offsetCol)
      // `div` = exact integral division on longs; the `/`-then-cast form
      // goes through DoubleType and can land one sequence off past 2^53
      .select(col(idCol), col("n_tokens"), col("start_pos"),
        expr(s"start_pos div ${seqLen}L").as("seq_id"))
    (out, () => { counted.unpersist(blocking = false); () })
  }

  /** Budget-capped corpus selection — "the best B tokens": order the
    * corpus by a caller-chosen priority (quality score, dedup-cluster
    * rank, domain weight …) and keep documents while the INCLUSIVE
    * cumulative token count stays ≤ `budget`. This is the selection step
    * every token-budgeted training run performs after scoring/dedup.
    *
    * The naive form is a global `Window.orderBy()` cumulative sum — one
    * task sorts and scans the corpus. This is the scale form: a range
    * exchange on the priority order (each task sorts its slice),
    * per-partition token totals (one row per partition) prefix-summed on
    * the driver, and the cumulative count = within-partition running sum
    * + broadcast partition offset — the [[packSequences]] recipe over an
    * arbitrary total order. `order` must be total (include a unique
    * tiebreaker, e.g. the doc id, last).
    *
    * Returns the input columns + `n_tokens` + `cum_tokens` (inclusive),
    * filtered to `cum_tokens <= budget`.
    */
  def selectByTokenBudget(docs: DataFrame, order: Seq[Column], budget: Long,
      textCol: String = "text", partitions: Int = 0,
      weight: Option[Column] = None): DataFrame =
    selectByTokenBudgetReleasable(docs, order, budget, textCol, partitions,
      weight)._1

  /** [[selectByTokenBudget]] plus a release handle for the internal
    * persisted ranged frame (the totals pass and the output pass must see
    * the same range split).
    */
  def selectByTokenBudgetReleasable(docs: DataFrame, order: Seq[Column],
      budget: Long, textCol: String = "text",
      partitions: Int = 0,
      weight: Option[Column] = None): (DataFrame, () => Unit) = {
    require(budget > 0, "budget must be positive")
    val (cum, release) = cumTokens(docs, order, textCol, partitions, weight)
    (cum.filter(col("cum_tokens") <= budget), release)
  }

  /** Equal-token export SHARDS over a caller-chosen total order — the step
    * that turns a curated corpus into the fixed-size training-ingest files
    * a data loader expects: whole documents assigned to consecutive shards
    * of ~`shardTokens` tokens each (a doc never splits; shard boundaries
    * land where its cumulative START crosses a multiple — exactly
    * [[packSequences]]' `seq_id` rule, applied to an arbitrary order).
    * Same distributed prefix-sum as [[selectByTokenBudget]] — never a
    * single-task cumulative window. Returns input + `n_tokens` +
    * `cum_tokens` (inclusive) + `shard_id` (0-based); downstream, write
    * with `.partitionBy("shard_id")` or repartition on it.
    */
  def shardByTokens(docs: DataFrame, order: Seq[Column], shardTokens: Long,
      textCol: String = "text", partitions: Int = 0,
      weight: Option[Column] = None): DataFrame =
    shardByTokensReleasable(docs, order, shardTokens, textCol, partitions,
      weight)._1

  def shardByTokensReleasable(docs: DataFrame, order: Seq[Column],
      shardTokens: Long, textCol: String = "text",
      partitions: Int = 0,
      weight: Option[Column] = None): (DataFrame, () => Unit) = {
    require(shardTokens > 0, "shardTokens must be positive")
    val (cum, release) = cumTokens(docs, order, textCol, partitions, weight)
    (cum.withColumn("shard_id",
      expr(s"(cum_tokens - n_tokens) div ${shardTokens}L")), release)
  }

  /** Shared prefix-sum core: input + `n_tokens` + inclusive `cum_tokens`
    * over the given total order — range exchange (each task sorts its
    * slice), per-partition token totals prefix-summed on the driver, the
    * cumulative count = within-partition running sum + broadcast offset.
    * `order` must be total (unique tiebreaker last). `weight` overrides
    * the whitespace-token count with a caller-supplied cost column (e.g.
    * [[Multimodal.interleavedTokens]]' `total_tokens`, where media token
    * cost is not derivable from text).
    */
  private def cumTokens(docs: DataFrame, order: Seq[Column],
      textCol: String, partitions: Int,
      weight: Option[Column] = None): (DataFrame, () => Unit) = {
    require(order.nonEmpty, "need at least one priority column")
    val spark = docs.sparkSession
    val nPart =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = docs
      .withColumn("n_tokens", weight.getOrElse(
        size(split(col(textCol), "\\s+")).cast("long")).cast("long"))
      .repartitionByRange(nPart, order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    val totals = ranged.groupBy("__pid").agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = totals.scanLeft((0, 0L)) {
      case ((_, acc), (pid, t)) => (pid, acc + t)
    }.sliding(2).collect { case Array((_, acc), (pid, _)) => pid -> acc }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val offsetCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(offsets), col("__pid")), lit(0L))
    val out = ranged
      .withColumn("cum_tokens", sum("n_tokens").over(w) + offsetCol)
      .drop("__pid")
    (out, () => { ranged.unpersist(blocking = false); () })
  }

  /** Epoch-weighted mixture MATERIALIZATION — the repeat-factor step of a
    * training data recipe ("Wikipedia ×3.2, CommonCrawl ×0.8"): each row
    * replicates `w = epochs(stratum)` times, where fractional weights
    * resolve per-row — `floor(w)` guaranteed copies plus one more iff the
    * row's deterministic bucket draw falls below `frac(w)` (the same
    * integer [[bucketOf]] threshold as [[deterministicSplit]], so the
    * extra-copy set is stable across runs, partitionings, engines, and
    * cluster sizes — and for a given id it NESTS as the weight grows).
    * Unlike [[mixtureSample]] (which only DOWN-samples to hit shares),
    * this is the upsampling form training ingest actually consumes; the
    * output carries `copy_idx` (0-based) so downstream shuffles/packing
    * see distinct rows. Strata without a weight take `defaultEpochs`.
    *
    * Scale shape: pure map-side — weight lookup folds into the plan as a
    * literal map, the replication is `explode(sequence(0, reps-1))` (rows
    * expand in place, no exchange, whole-stage codegen), and a `reps=0`
    * row drops before the explode. The output inherits the input's
    * partitioning; nothing collects to the driver.
    */
  def epochMixture(df: DataFrame, idCol: String, strataCol: String,
      epochs: Map[String, Double], defaultEpochs: Double = 1.0): DataFrame = {
    require(epochs.values.forall(_ >= 0) && defaultEpochs >= 0,
      "epoch weights must be non-negative")
    require((epochs.values ++ Seq(defaultEpochs)).forall(_ < 1000),
      "epoch weights ≥ 1000 are almost certainly a unit error")
    def parts(w: Double): (Long, Long) =
      (math.floor(w).toLong, math.round((w - math.floor(w)) * Buckets))
    replicateByParts(df, idCol, strataCol,
      epochs.map { case (s, w) => s -> parts(w) }, Some(parts(defaultEpochs)))
  }

  /** Shared replication core for [[epochMixture]] / [[mixtureToTarget]]:
    * per-stratum (floor copies, extra-copy bucket threshold) fold into
    * the plan as literal maps; rows in strata with no entry take
    * `default` (or drop when None). Pure map-side explode, zero exchange.
    */
  private def replicateByParts(df: DataFrame, idCol: String,
      strataCol: String, parts: Map[String, (Long, Long)],
      default: Option[(Long, Long)]): DataFrame = {
    val (defFloor, defThr) = default.getOrElse((0L, 0L))
    val floorCol =
      if (parts.isEmpty) lit(defFloor)
      else coalesce(
        element_at(typedlit(parts.map { case (s, p) => s -> p._1 }),
          col(strataCol)), lit(defFloor))
    val fracCol =
      if (parts.isEmpty) lit(defThr)
      else coalesce(
        element_at(typedlit(parts.map { case (s, p) => s -> p._2 }),
          col(strataCol)), lit(defThr))
    df.withColumn("__reps",
        floorCol + when(bucketOf(col(idCol)) < fracCol, 1L).otherwise(0L))
      .filter(col("__reps") > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col("__reps") - 1)))
      .drop("__reps")
  }

  /** SOLVE the repeat factors for a target token-share recipe, then
    * materialize ([[epochMixture]]'s front half automated): `targets`
    * gives each stratum's intended share of the output token budget in
    * integer PPM (parts per million — "wiki 400000, cc 350000, code
    * 250000" = 40/35/25%), `tokenBudget` the intended output token count
    * B. For a stratum with `T` input tokens the recipe needs weight
    * `w = ppm·B / (10⁶·T)`, held EXACTLY as the integer rational
    * (num = ppm·B, den = 10⁶·T): floor copies = num div den, extra-copy
    * bucket threshold = (num mod den)·Buckets div den — BigInt driver
    * arithmetic, no doubles anywhere, so the materialized set is
    * bit-identical across engines and the DuckDB oracle replays the same
    * integer formula. Strata absent from `targets` are DROPPED (share 0).
    *
    * Achieved token shares equal the targets in expectation; per-stratum
    * granularity is one document (whole docs replicate) and one bucket
    * (Buckets = 10⁴ quantizes the fractional part) — both documented,
    * neither engine-dependent.
    *
    * Scale shape: one token-count aggregation over the TARGET strata only
    * (rows collected = |targets|, trivially driver-safe), then the
    * [[epochMixture]] map-side replication — the solve adds no exchange
    * beyond the bounded counts pass.
    */
  def mixtureToTarget(df: DataFrame, idCol: String, strataCol: String,
      targets: Map[String, Long], tokenBudget: Long,
      textCol: String = "text"): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "target shares must be positive ppm")
    require(targets.values.sum <= 1000000L,
      "target shares exceed 1e6 ppm (100%)")
    require(tokenBudget > 0, "tokenBudget must be positive")
    val counts = df
      .filter(col(strataCol).isin(targets.keys.toSeq: _*))
      .groupBy(strataCol)
      // literal-space split, matching the q_sample_target oracle's
      // string_split(…, ' ') exactly (round-5 ADVICE: the regex \s+ form
      // diverges on runs of whitespace — a latent parity break)
      .agg(sum(size(split(lower(col(textCol)), " "))).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(targets.keys.forall(s => counts.getOrElse(s, 0L) > 0L),
      s"target strata missing or empty: ${targets.keySet -- counts.keySet}")
    val parts = targets.map { case (s, ppm) =>
      val num = BigInt(ppm) * tokenBudget
      val den = BigInt(1000000L) * counts(s)
      s -> ((num / den).toLong, ((num % den) * Buckets / den).toLong)
    }
    replicateByParts(df, idCol, strataCol, parts, default = None)
  }
}
