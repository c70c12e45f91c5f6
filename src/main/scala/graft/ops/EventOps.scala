package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the crawl/usage event log. The reference
  * stores raw crawl events and leaves analysis to Elasticsearch queries
  * (`ScrapingTransformer.java` writes per-access docs); here the engine
  * owns the canonical first step — gap-based sessionization — as a batch
  * operator built on Spark's native `session_window`, which is the same
  * construct Structured Streaming executes incrementally with watermark
  * state, so the batch and streaming forms share semantics by definition.
  */
object EventOps {

  /** Gap-based sessionization: consecutive events of one user belong to
    * the same session while the gap to the previous event is at most
    * `gapSeconds` (Spark session-window semantics — per-event windows
    * `[t, t+gap]` merge when they touch, so an event EXACTLY `gapSeconds`
    * after its predecessor still extends the session; only a strictly
    * larger gap starts a new one). Returns one row per session:
    * (userCol, start_us, end_us, n_events) with microsecond-exact integer
    * bounds (`unix_micros` — no float time arithmetic, so results are
    * bit-identical across engines and partitionings; ties in ts can't
    * flip anything: a zero gap is always the same session and
    * min/max/count are order-invariant).
    *
    * Scale shape: ONE shuffle keyed on the user (the session windows are
    * derived by an in-partition sort-merge, not a second exchange). The
    * per-user partition is the sequential unit — measured on the bench's
    * hot-user probe (one user owning 50% of 4M events), this form runs
    * 5.16× the uniform leg while [[sessionizeBucketed]] stays at 1.07×;
    * on the uniform sf0.1 events table the bucketed form runs ~2× this
    * form's wall. So this entry point
    * always runs the single-shuffle plan and no eager job: call
    * [[sessionizeBucketed]] by name when one user can own a large share
    * of the log. The streaming form
    * ([[graft.streaming.StreamingOps.sessionizeStream]]) delegates here;
    * its watermark bounds the per-user state.
    *
    * `hotUserThreshold` is ignored. It stays in the signature only so that
    * callers passing it by name keep compiling; a caller with a hot key
    * should call [[sessionizeBucketed]].
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L,
      userCol: String = "user_id", tsCol: String = "ts",
      hotUserThreshold: Long = 1048576L): DataFrame = {
    // parquet event times arrive as TIMESTAMP_NTZ; with the engine-wide
    // UTC session zone this cast is wall-clock exact, and unix_micros /
    // session_window require TIMESTAMP. An already-TIMESTAMP column is
    // left untouched — re-projecting it would strip the event-time
    // watermark metadata in the streaming path (sessionizeStream).
    val evs =
      if (events.schema(tsCol).dataType ==
        org.apache.spark.sql.types.TimestampType) events
      else events.withColumn(tsCol, col(tsCol).cast("timestamp"))
    evs
      .groupBy(col(userCol),
        session_window(col(tsCol), s"$gapSeconds seconds").as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        unix_micros(col("__w.start")).as("start_us"),
        // session_window.end = last event + gap; subtract it back so the
        // bound is the last OBSERVED event, exact in integer µs
        (unix_micros(col("__w.end")) - gapSeconds * 1000000L).as("end_us"),
        col("n_events"))
  }

  /** Skew-safe sessionization — identical output to [[sessionize]] for
    * ANY input (the property spec proves equality on random logs), with
    * the per-task sequential unit bounded by events per (user,
    * `bucketSeconds`-bucket) instead of events per user. The answer to
    * the pathological hot key (one user with billions of events) that
    * [[sessionize]]'s docstring defers:
    *
    * Pass 1 sessionizes WITHIN each (user, tumbling bucket) — the same
    * `session_window` construct with the bucket as an extra group key, so
    * the sort unit is the bucket's events. Because buckets partition
    * time, a user's per-bucket sessions are disjoint, time-ordered
    * intervals. Pass 2 merges intervals across bucket boundaries with
    * the lag + flag + conditional-cumsum construction over the COMPRESSED
    * interval stream (per-user interval count ≪ event count): consecutive
    * intervals merge when start − prev_end ≤ gap — exactly when the
    * boundary events would have merged under the global window (touching
    * windows merge; strictly larger gaps split), and a session spanning
    * k buckets merges through k−1 such links. Cost: one extra (small)
    * exchange over the compressed intervals. Choose `bucketSeconds` ≫
    * `gapSeconds` so pass-2 interval counts stay tiny.
    */
  def sessionizeBucketed(events: DataFrame, gapSeconds: Long = 1800L,
      bucketSeconds: Long = 86400L, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(bucketSeconds > gapSeconds,
      "bucketSeconds must exceed gapSeconds (one session never spans a full bucket silently)")
    val gapUs = gapSeconds * 1000000L
    val intervals = events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withColumn("__b",
        expr(s"unix_micros(`$tsCol`) div ${bucketSeconds * 1000000L}"))
      .groupBy(col(userCol), col("__b"),
        session_window(col(tsCol), s"$gapSeconds seconds").as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        unix_micros(col("__w.start")).as("s"),
        (unix_micros(col("__w.end")) - gapUs).as("e"),
        col("n_events"))
    val byUser = Window.partitionBy(col(userCol)).orderBy(col("s"))
    val prevEnd = lag(col("e"), 1).over(byUser)
    intervals
      .withColumn("__nf",
        when(col("s") - prevEnd > gapUs || prevEnd.isNull, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__nf")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("__sid"))
      .agg(min(col("s")).as("start_us"), max(col("e")).as("end_us"),
        sum(col("n_events")).as("n_events"))
      .select(col(userCol), col("start_us"), col("end_us"), col("n_events"))
  }

  /** Event-time tumbling-window rollup — the batch twin of
    * [[graft.streaming.StreamingOps.hostWindowCounts]] (same `window`
    * construct; the streaming form only adds the watermark): per
    * (window, event type), the event count and the exact value sum in
    * integer cents (floor(value·100 + 0.5) — identical IEEE rounding on
    * any engine, summed as longs). Windows are epoch-aligned with FLOOR
    * semantics: window_start_us = floor(µs / windowSeconds·10⁶) ·
    * windowSeconds·10⁶ — replayable in SQL with a flooring division
    * (DuckDB `//` floors; a truncating `div` replay matches only for
    * events at or after the epoch). One shuffle on the (window, type) key;
    * partial aggregation collapses map-side, output is windows × types.
    */
  def timeWindowCounts(events: DataFrame, windowSeconds: Long = 3600L,
      typeCol: String = "event_type", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .groupBy(window(col(tsCol), s"$windowSeconds seconds").as("__w"),
        col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("sum_cents"))
      .select(unix_micros(col("__w.start")).as("window_start_us"),
        col(typeCol), col("n_events"), col("sum_cents"))

  /** Hopping (sliding) window rollup — [[timeWindowCounts]] with a slide
    * shorter than the window, so each event lands in exactly
    * windowSeconds/slideSeconds overlapping windows (Spark's two-argument
    * `window`). The fan-out is a BOUNDED map-side explode (the
    * window/slide ratio, a constant), so the shuffle grows by that
    * constant factor and nothing else changes vs the tumbling form: one
    * exchange on (window, type), map-side partial aggregation, output is
    * windows × types. Window starts are epoch-aligned multiples of the
    * slide — replayable in SQL as floor(µs/slide)·slide − i·slide for
    * i < ratio, filtered to start + window > µs.
    */
  def hoppingWindowCounts(events: DataFrame, windowSeconds: Long,
      slideSeconds: Long, typeCol: String = "event_type",
      tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    require(windowSeconds > 0 && slideSeconds > 0 &&
      windowSeconds % slideSeconds == 0,
      "slide must be a positive divisor of the window")
    events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .groupBy(window(col(tsCol), s"$windowSeconds seconds",
        s"$slideSeconds seconds").as("__w"), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("sum_cents"))
      .select(unix_micros(col("__w.start")).as("window_start_us"),
        col(typeCol), col("n_events"), col("sum_cents"))
  }

  /** Calendar-interval histogram — the ES `date_histogram` with
    * `calendar_interval` (month/week/day), where buckets are CALENDAR
    * boundaries, not fixed-width epoch multiples: months vary in length
    * and weeks start on ISO Monday, so the epoch-arithmetic replay of
    * [[timeWindowCounts]] cannot express them. Spark's `date_trunc` and
    * DuckDB's `date_trunc` share the semantics (ISO weeks, UTC session
    * timezone — both engines run pinned to UTC here), so bucket starts
    * are engine-exact as epoch µs. Same physical shape as the tumbling
    * form: one exchange on (bucket, type), map-side partial aggregation,
    * output is buckets × types; value sums in exact integer cents.
    */
  def calendarHistogram(events: DataFrame, unit: String,
      typeCol: String = "event_type", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    require(Set("day", "week", "month", "quarter", "year")(unit.toLowerCase),
      s"unsupported calendar unit: $unit")
    events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .groupBy(date_trunc(unit, col(tsCol)).as("__b"), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col(valueCol) * 100 + 0.5).cast("long")).as("sum_cents"))
      .select(unix_micros(col("__b")).as("bucket_start_us"),
        col(typeCol), col("n_events"), col("sum_cents"))
  }

  /** Ordered funnel: for each user, greedily match `steps` in event-time
    * order — step i+1 must occur STRICTLY after the chosen occurrence of
    * step i (equal timestamps never advance the funnel, so the result is
    * independent of tie order). The greedy walk picks the EARLIEST
    * qualifying time at every step, which is equivalent to the sequential
    * min-filter definition (t₁ = min time of step 1; tᵢ = min time of
    * step i strictly after tᵢ₋₁) — the standard conversion-maximizing
    * funnel. Returns one row per reached step:
    * (step 1-based, event_type, users).
    *
    * Scale shape: non-step events are filtered BEFORE the one per-user
    * shuffle; the fold over each user's sorted events is a codegen'd
    * `aggregate` HOF (state = (steps-completed, last-time), O(events)
    * per user, no driver loop); the per-step rollup aggregates k ≤ |steps|
    * rows per user map-side. Per-user event lists bound the collect_list —
    * the same inherent sequential unit as [[sessionize]], and the same
    * hot-key exposure: ONE user with billions of step events is one
    * aggregation buffer, which grows linearly with that user. This entry
    * point always runs the single-shuffle plan and no eager job; call
    * [[funnelBucketed]] by name (identical output, property-proven) when
    * one user can own a large share of the step events. Measured on the
    * bench's hot-user probe (one user owning 50% of 8M step events) the
    * bucketed form pays ~1.1× this form's wall — its second exchange —
    * but its per-(user, bucket) buffer stays bounded; on the uniform sf0.1
    * events table it runs ~1.7× this form's wall.
    *
    * `hotUserThreshold` is ignored. It stays in the signature only so that
    * callers passing it by name keep compiling; a caller with a hot key
    * should call [[funnelBucketed]].
    */
  def funnel(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type",
      hotUserThreshold: Long = 1048576L): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepsArr = array(steps.map(lit): _*)
    val perUser = events.filter(col(typeCol).isin(steps: _*))
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .select(col(userCol), unix_micros(col(tsCol)).as("us"),
        col(typeCol).as("et"))
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(struct(col("us"), col("et")))).as("evs"))
    // codegen kernel walk (the SQL `aggregate` HOF is CodegenFallback —
    // see EventKernel); the walk from 0 completed is transition entry 0
    val completed = perUser.select(
      element_at(graft.functions.EventExpressions.funnelTransitions(
        col("evs"), steps), 1).as("completed"))
    completed.filter(col("completed") > 0)
      .select(explode(sequence(lit(1), col("completed"))).as("step"))
      .groupBy("step")
      .agg(count(lit(1)).as("users"))
      .select(col("step").cast("long").as("step"),
        element_at(stepsArr, col("step")).as("event_type"), col("users"))
  }

  /** Bounded-state ordered funnel — identical output to [[funnel]] for ANY
    * input (equality property spec on random logs), with the per-task
    * sequential unit bounded by events per (user, `bucketSeconds`-bucket)
    * instead of events per user: the hot-key answer for funnels, the same
    * recipe as [[sessionizeBucketed]].
    *
    * Pass 1 folds WITHIN each (user, tumbling bucket): because buckets
    * partition time and the greedy walk's "strictly after" constraint only
    * compares against times in earlier buckets — every event in bucket b is
    * strictly later than any event in buckets < b — the walk's behavior
    * inside a bucket depends on the incoming state ONLY through its
    * completed-step count, never its last-match time. So each bucket
    * reduces to a transition vector F where F[j] = steps completed after
    * folding the bucket's events starting from j completed (times tracked
    * exactly inside the bucket, where ties and ordering do matter). Pass 2
    * merges per user over the COMPRESSED per-bucket stream (|buckets| ≪
    * |events| rows): fold c := F_b[c] in bucket order — a step sequence
    * spanning k buckets threads through k transition lookups. Cost: one
    * extra small exchange; the per-event work is |steps|× pass-1 fold
    * updates (k hypothetical walks), k tiny in practice.
    */
  def funnelBucketed(events: DataFrame, steps: Seq[String],
      bucketSeconds: Long = 86400L, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val k = steps.length
    val stepsArr = array(steps.map(lit): _*)
    // truncating div is fine HERE (unlike retention): bucket ids only need
    // to be disjoint time-ordered intervals, and the output is
    // bucketing-invariant — the 2×-wide bucket 0 straddling a negative
    // epoch only loosens the per-bucket size bound
    val perBucket = events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .filter(col(typeCol).isin(steps: _*))
      .select(col(userCol), unix_micros(col(tsCol)).as("us"),
        col(typeCol).as("et"))
      .withColumn("__b", expr(s"us div ${bucketSeconds * 1000000L}"))
      .groupBy(col(userCol), col("__b"))
      .agg(sort_array(collect_list(struct(col("us"), col("et")))).as("evs"))
    // k parallel hypothetical walks per bucket: walk j enters the bucket
    // with j steps completed. The walks run in the codegen kernel
    // (EventKernel.funnelTransitions) — the SQL `aggregate` HOF is
    // CodegenFallback, and its interpreted per-event fold (allocating a
    // k-struct state per event) measured ~1.5× the PLAIN form's wall on
    // the 4M-hot-user probe; the kernel loop closed it to well under
    val trans = perBucket.select(col(userCol), col("__b"),
      graft.functions.EventExpressions.funnelTransitions(
        col("evs"), steps).as("f"))
    val completed = trans
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(struct(col("__b"), col("f")))).as("fs"))
      .select(aggregate(col("fs"), lit(0),
        (c, bf) => when(c >= k, c)
          .otherwise(element_at(bf.getField("f"), c + 1))).as("completed"))
    completed.filter(col("completed") > 0)
      .select(explode(sequence(lit(1), col("completed"))).as("step"))
      .groupBy("step")
      .agg(count(lit(1)).as("users"))
      .select(col("step").cast("long").as("step"),
        element_at(stepsArr, col("step")).as("event_type"), col("users"))
  }

  /** Cohort retention: each user's cohort is the UTC day of their first
    * event; for every (cohort_day, day_offset) cell, the count of cohort
    * users active on cohort_day + day_offset. Day arithmetic is an explicit
    * integer FLOOR of µs-since-epoch / 86400e6 (matching DuckDB's flooring
    * `//` for any sign, including pre-1970 event times), so cells are
    * engine-exact. Returns (cohort_day, day_offset,
    * active_users); day_offset 0 row = cohort size.
    *
    * Scale shape: the first-event day is a window min over the same
    * user-hash shuffle that the day-projection already needs — ONE
    * exchange, no self-join; the per-cell distinct-user count then
    * aggregates (cohort_day, offset, user) triples with map-side partial
    * dedup. Cohort × offset output is tiny relative to input.
    */
  def retention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    // FLOORING day id, not truncating: Spark `div` truncates toward zero
    // while DuckDB `//` floors, and the two diverge for pre-1970 event
    // times (round-4 ADVICE). (us - pmod(us, d)) is the largest multiple of
    // d at most us (pmod is non-negative), so its exact `div` is floor(us/d)
    // for ANY sign — pure integer arithmetic, engine-exact.
    val days = events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withColumn("__us", unix_micros(col(tsCol)))
      .select(col(userCol),
        expr("(__us - pmod(__us, 86400000000)) div 86400000000").as("day"))
    days
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col(userCol))))
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
        col(userCol))
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("active_users"))
  }

  /** Typed stats over a JSON event-property (the reference stores arbitrary
    * crawl metadata as JSON in each ES doc — this is the engine-side
    * projection of such a field): extract `$.path` from `propsCol` as a
    * long and aggregate per event type. `get_json_object` is Catalyst's
    * codegen'd JSON path evaluator — no UDF, pushdown-friendly column
    * pruning on the scan. Returns (event_type, n, sum_v, min_v, max_v);
    * integer sums are exact across engines.
    */
  def jsonPropStats(events: DataFrame, path: String = "$.k",
      propsCol: String = "props", typeCol: String = "event_type"): DataFrame =
    events
      .select(col(typeCol),
        get_json_object(col(propsCol), path).cast("long").as("v"))
      .groupBy(col(typeCol))
      .agg(count(col("v")).as("n"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))

  /** Exact per-group quantiles of `valueCol` in integer cents (lower
    * median and lower p90: the element at 1-based rank ⌈n/2⌉ resp.
    * ⌈9n/10⌉ of the cents-sorted group — ranks computed with integer
    * arithmetic, `(n+1) div 2` and `(9n+9) div 10`, so the chosen element
    * is engine-exact; cents = floor(value·100 + 0.5), identical IEEE
    * double rounding both sides). No approx-percentile sketch:
    * cross-engine hash-exactness requires picking a real element
    * deterministically.
    *
    * Scale shape: one sort-shuffle per group (the window), then a
    * conditional-max rollup that collapses map-side. This entry point
    * runs no eager job. The per-group sort is the sequential unit, and
    * with ~5 event types a "group" is corpus/5-sized, so at 100× scale
    * it funnels billions of rows through one window task: call
    * [[valueQuantilesHistogram]] by name there (identical rows — the
    * rank-r element's VALUE is the same whether found by sorting rows or
    * by walking the cents histogram). On the uniform sf0.1 events table
    * the histogram form runs ~1.5× this form's wall.
    */
  def valueQuantiles(events: DataFrame, typeCol: String = "event_type",
      valueCol: String = "value", idCol: String = "event_id"): DataFrame = {
    val cents = events.select(col(typeCol),
      floor(col(valueCol) * 100 + 0.5).cast("long").as("cents"), col(idCol))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("cents"), col(idCol))
    cents
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(typeCol))))
      .groupBy(col(typeCol))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("cents")))
          .as("median_cents"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("cents")))
          .as("p90_cents"))
  }

  /** Histogram form of [[valueQuantiles]] — the scale path: pass 1
    * aggregates rows to a (type, cents) → count histogram (bounded by the
    * cents cardinality, ≤ 100·max_value distinct cells per type, NOT by
    * the row count); pass 2 ranks over the COMPRESSED histogram — the
    * running-total window sorts histogram cells, never raw rows — and
    * picks the smallest cents whose cumulative count reaches each rank.
    * The rank-r element of the sorted multiset lies inside that cell, so
    * its value IS that cell's cents: identical output to
    * [[valueQuantiles]] by construction.
    */
  def valueQuantilesHistogram(events: DataFrame,
      typeCol: String = "event_type", valueCol: String = "value"): DataFrame = {
    val hist = events
      .select(col(typeCol), floor(col(valueCol) * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col(typeCol), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy(col(typeCol)).orderBy(col("cents"))
    hist
      .withColumn("cum", sum(col("cnt")).over(
        byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(typeCol))))
      .groupBy(col(typeCol))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("cents")))
          .as("median_cents"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("cents")))
          .as("p90_cents"))
  }

  /** Time-bounded event correlation ("what followed X within Δ"): every
    * (left, right) pair with `r_us` in the INCLUSIVE window
    * `[l_us, l_us + windowSeconds]`, optionally further constrained to
    * equal `keyCols`. This is the range join behind alert triage
    * (errors → the fetches that followed), attribution (click → purchase
    * within the hour), and crawl forensics (robots change → fetch-rate
    * shift) — the reference leaves it to Elasticsearch range filters per
    * doc; here it is one declarative operator.
    *
    * Scale shape — an EQUI-join on a derived time-bucket key, never a
    * range join: with no key columns the naive form
    * `l JOIN r ON r.ts BETWEEN l.ts AND l.ts+Δ` has no equi-condition, so
    * Spark plans a BroadcastNestedLoopJoin — a full cartesian scan per
    * partition, quadratic at corpus scale. Instead both sides bucket time
    * into Δ-wide cells: a right event lives in exactly ONE bucket
    * `floor(r/Δ)`; a qualifying pair satisfies
    * `floor(r/Δ) ∈ {floor(l/Δ), floor(l/Δ)+1}`, so the left side
    * duplicates into those two probe buckets (a bounded 2× explode — the
    * canonical epsilon-join construction) and the join is a plain
    * shuffled equi-join on (keyCols…, bucket) with the range check as a
    * cheap post-filter. Each pair matches exactly one probe (the two
    * probe buckets differ), so no dedup pass is needed. The property
    * spec pins equality against the naive cross+filter form; the bench
    * measures the gap. Pairs output = one row per match — callers
    * aggregate (the driver row rolls up per left event) when the match
    * multiplicity is itself large. Event times must be ≥ epoch (the
    * bucket id uses truncating `div`, which equals floor only for
    * non-negative µs — the [[retention]] caveat).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, windowSeconds: Long,
      keyCols: Seq[String] = Nil, lIdCol: String = "l_id",
      rIdCol: String = "r_id", tsCol: String = "ts"): DataFrame = {
    require(windowSeconds > 0, "windowSeconds must be positive")
    val w = windowSeconds * 1000000L
    val l = left.select(
      keyCols.map(col) ++ Seq(col(lIdCol),
        unix_micros(col(tsCol).cast("timestamp")).as("l_us")): _*)
      .withColumn("__probe", explode(array(lit(0L), lit(1L))))
      .withColumn("__b", expr(s"l_us div ${w}L") + col("__probe"))
      .drop("__probe")
    val r = right.select(
      keyCols.map(c => col(c).as(s"__rk_$c")) ++ Seq(col(rIdCol),
        unix_micros(col(tsCol).cast("timestamp")).as("r_us")): _*)
      .withColumn("__b", expr(s"r_us div ${w}L"))
    val keyEq = keyCols.map(c => l(c) === r(s"__rk_$c"))
    val cond = (keyEq :+ (l("__b") === r("__b")))
      .reduce(_ && _) && r("r_us").between(l("l_us"), l("l_us") + w)
    l.join(r, cond)
      .select(keyCols.map(l(_)) ++
        Seq(l(lIdCol), r(rIdCol), col("l_us"), col("r_us"),
          (col("r_us") - col("l_us")).as("delta_us")): _*)
  }

  /** Reference (non-scale) twin of [[intervalJoin]]: the literal range
    * join — no bucket key, so Spark is forced into the nested-loop plan.
    * Exists for the property spec and as the bench's naive leg.
    */
  def intervalJoinNaive(left: DataFrame, right: DataFrame,
      windowSeconds: Long, keyCols: Seq[String] = Nil,
      lIdCol: String = "l_id", rIdCol: String = "r_id",
      tsCol: String = "ts"): DataFrame = {
    val w = windowSeconds * 1000000L
    val l = left.select(
      keyCols.map(col) ++ Seq(col(lIdCol),
        unix_micros(col(tsCol).cast("timestamp")).as("l_us")): _*)
    val r = right.select(
      keyCols.map(c => col(c).as(s"__rk_$c")) ++ Seq(col(rIdCol),
        unix_micros(col(tsCol).cast("timestamp")).as("r_us")): _*)
    val keyEq = keyCols.map(c => l(c) === r(s"__rk_$c"))
    val cond = (keyEq :+ r("r_us").between(l("l_us"), l("l_us") + w))
      .reduce(_ && _)
    l.join(r, cond)
      .select(keyCols.map(l(_)) ++
        Seq(l(lIdCol), r(rIdCol), col("l_us"), col("r_us"),
          (col("r_us") - col("l_us")).as("delta_us")): _*)
  }

  /** Keyset-paged group aggregation — the scalable "page through ALL
    * groups" surface (Elasticsearch's `composite` aggregation; the
    * reference's users page scraped-doc rollups exactly this way).
    * Returns the first `pageSize` groups in ascending `keyCols` order
    * whose key tuple sorts strictly AFTER `afterKey` (empty = first
    * page), with per-group event counts. Page N+1 passes page N's last
    * key tuple — no offset, no global row numbering.
    *
    * Scale shape: the keyset predicate is a lexicographic comparison on
    * the RAW rows, applied BEFORE the aggregation — it prunes at the
    * scan (partition-prunable when the leading key is a partition
    * column), and deep pages get CHEAPER as the cursor advances, where
    * an offset-based pager re-aggregates and re-skips everything before
    * the page. The aggregation is one map-side-combinable count keyed by
    * the group tuple; the page cut is `orderBy(keys).limit(pageSize)`,
    * which Spark plans as TakeOrderedAndProject — per-partition top-N
    * heaps merged on the driver, never a global sort.
    */
  def compositeAgg(df: DataFrame, keyCols: Seq[String], pageSize: Int,
      afterKey: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty && pageSize > 0,
      "keyCols must be non-empty and pageSize positive")
    require(afterKey.isEmpty || afterKey.length == keyCols.length,
      "afterKey must match keyCols arity")
    // lexicographic (k1,k2,…) > (a1,a2,…), built innermost-out:
    // k1 > a1 OR (k1 = a1 AND (k2 > a2 OR (…)))
    val keyset =
      if (afterKey.isEmpty) lit(true)
      else keyCols.zip(afterKey).foldRight(lit(false): Column) {
        case ((k, a), rest) => col(k) > lit(a) || (col(k) === lit(a) && rest)
      }
    df.filter(keyset)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(keyCols.map(col(_).asc): _*)
      .limit(pageSize)
  }

  /** Keyed AS-OF join: for each left event, the single right event with
    * the same key and the GREATEST right ts at-or-before the left ts —
    * the canonical event-to-latest-state lookup (a click to the view it
    * followed, a fetch to the robots snapshot in force, a quote join).
    * Inner semantics: left rows with no at-or-before match are dropped
    * (DuckDB's `ASOF JOIN` contract, the oracle twin). Ties in right ts
    * within a key break to the larger `rIdCol`, pinned identically in
    * both forms. `horizonSeconds > 0` additionally drops matches older
    * than the horizon.
    *
    * Scale shape: NOT a join at all — a union of the two tagged sides
    * and ONE exchange keyed on `keyCols`, with the match resolved by a
    * running `last(…, ignoreNulls)` carry-forward over the in-partition
    * (ts, side, id) sort. Candidate multiplicity never materializes
    * (contrast [[intervalJoin]], which enumerates pairs). The per-key
    * partition is the sequential unit — the sessionize hot-key class —
    * so [[asOfJoinBucketed]] is the bounded-state scale path when one
    * key dominates and a lookback horizon is acceptable. Event times
    * must be ≥ epoch in the bucketed form only; this form is pure
    * ordering, no bucket arithmetic.
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], lIdCol: String = "l_id",
      rIdCol: String = "r_id", tsCol: String = "ts",
      horizonSeconds: Long = 0L): DataFrame = {
    require(keyCols.nonEmpty, "asOfJoin needs at least one key column")
    // null keys never match (SQL join semantics — the DuckDB ASOF oracle's
    // `l.key = r.key` and [[asOfJoinBucketed]]'s equi-join both drop them);
    // without this filter the Window.partitionBy below would GROUP null
    // keys and match them, silently diverging from the bucketed twin
    val nonNullKeys = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val left1 = left.filter(nonNullKeys)
    val right1 = right.filter(nonNullKeys)
    val l = left1.select(
      keyCols.map(col) ++ Seq(
        col(lIdCol).as("__id"),
        unix_micros(col(tsCol).cast("timestamp")).as("__us"),
        lit(1).as("__side")): _*)
    val r = right1.select(
      keyCols.map(col) ++ Seq(
        col(rIdCol).as("__id"),
        unix_micros(col(tsCol).cast("timestamp")).as("__us"),
        lit(0).as("__side")): _*)
    // at equal ts the right row sorts FIRST (side 0 < 1), so a left event
    // sees a same-instant right event; equal right ts order by id → the
    // carry-forward lands on the larger r_id, matching the bucketed form.
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__us"), col("__side"), col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rMark = when(col("__side") === 0,
      struct(col("__us").as("r_us"), col("__id").as("r_id")))
    val matched = l.unionByName(r)
      .withColumn("__m", last(rMark, ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__m").isNotNull)
    val horizoned =
      if (horizonSeconds <= 0) matched
      else matched.filter(
        col("__us") - col("__m.r_us") <= horizonSeconds * 1000000L)
    horizoned.select(
      keyCols.map(col) ++ Seq(
        col("__id").as(lIdCol), col("__m.r_id").as(rIdCol),
        col("__us").as("l_us"), col("__m.r_us").as("r_us"),
        (col("__us") - col("__m.r_us")).as("lag_us")): _*)
  }

  /** Horizon-bounded AS-OF join, the hot-key scale path: right events
    * land in one Δ-wide bucket (Δ = the horizon); each left event probes
    * its own bucket and the previous one — every right event at most
    * `horizonSeconds` back is in one of the two — so the candidate join
    * is a plain equi-join on (key, bucket) with BOUNDED per-group size
    * (events per key per Δ), then one max-by per left event picks the
    * latest candidate. Two bounded-key exchanges instead of [[asOfJoin]]'s
    * single per-key sort whose partition grows with the hottest key.
    * Output-identical to `asOfJoin(…, horizonSeconds = h)` (property
    * spec). Event times must be ≥ epoch (truncating `div` = floor only
    * for non-negative µs).
    */
  def asOfJoinBucketed(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], horizonSeconds: Long,
      lIdCol: String = "l_id", rIdCol: String = "r_id",
      tsCol: String = "ts"): DataFrame = {
    require(keyCols.nonEmpty, "asOfJoinBucketed needs at least one key column")
    require(horizonSeconds > 0, "horizonSeconds must be positive")
    val d = horizonSeconds * 1000000L
    val l = left.select(
      keyCols.map(col) ++ Seq(col(lIdCol),
        unix_micros(col(tsCol).cast("timestamp")).as("l_us")): _*)
      .withColumn("__probe", explode(array(lit(0L), lit(-1L))))
      .withColumn("__b", expr(s"l_us div ${d}L") + col("__probe"))
      .drop("__probe")
    val r = right.select(
      keyCols.map(c => col(c).as(s"__rk_$c")) ++ Seq(col(rIdCol),
        unix_micros(col(tsCol).cast("timestamp")).as("r_us")): _*)
      .withColumn("__b", expr(s"r_us div ${d}L"))
    val keyEq = keyCols.map(c => l(c) === r(s"__rk_$c"))
    val cond = (keyEq :+ (l("__b") === r("__b")))
      .reduce(_ && _) && r("r_us").between(l("l_us") - d, l("l_us"))
    l.join(r, cond)
      .groupBy((keyCols.map(l(_)) :+ l(lIdCol) :+ col("l_us")): _*)
      .agg(max(struct(col("r_us"), col(rIdCol))).as("__m"))
      .select(
        keyCols.map(col) ++ Seq(
          col(lIdCol), col(s"__m.$rIdCol").as(rIdCol),
          col("l_us"), col("__m.r_us").as("r_us"),
          (col("l_us") - col("__m.r_us")).as("lag_us")): _*)
  }
}
