package graft.crawl

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{Extractor, RuleCompiler}
import graft.frontier.{IncrementalSeenBloom, Politeness, SeenSet, SnapshotTable}
import graft.model._

/** One crawl session: the rebuild of `RiverWeb.crawl()`
  * (RiverWeb.java:226-508) as a driver round-loop where each round is ONE
  * declarative DataFrame DAG (SURVEY.md §3.1):
  *
  *   claim (politeness windows, W1/W2) → fetch = frontier⋈corpus (J4, S5)
  *   → extract (P3-P9, F1-F9, A1, X4) → children (X5, U2/U3)
  *   → canonicalize-hash-dedup (F13 + J1 bloom-prefiltered exact anti-join)
  *   → mode-aware doc write (S8, J2/J3) + frontier/seen snapshot commits.
  *
  * All state crosses rounds through [[SnapshotTable]] commits, so a crawl
  * resumes from its latest manifest (Z6) and every round's plan starts from
  * a fresh parquet scan (no unbounded lineage).
  *
  * Canonical crawl order is `(depth asc, urlHash asc, url asc)` — the
  * deterministic, shuffle-free stand-in for the reference's wall-clock
  * queue-insertion order (SURVEY.md §7.5.1); [[Oracle]] implements the same
  * discipline in ~100 lines of driver-side Scala for parity tests.
  *
  * Enqueue-time policy (shared with the oracle): robots.txt (Z2) filters
  * BOTH seeds and children; include/exclude regexes (P1/P2) filter children
  * only (the reference adds seeds unconditionally, RiverWeb.java:385-398,
  * and checks robots at fetch — filtering at enqueue is equivalent because
  * a disallowed URL is never fetched either way).
  */
final class CrawlSession(
    spark: SparkSession,
    config: CrawlConfig,
    corpus: DataFrame,  // PageDoc shape: doc_id, host, lastModified, spans
    robots: DataFrame,  // RobotsRules shape: host, disallow_prefixes
    workDir: String,
    clock: () => Timestamp = () => new Timestamp(1700000000000L),
    // collect per-round claim order for oracle parity tests; disable for bench
    recordOrder: Boolean = true,
    // X3 lifecycle hooks: driver-side callbacks around the round loop
    // (reference "execute"/"finish" scripts, RiverWeb.java:248-256,473-479)
    hooks: CrawlHooks = CrawlHooks()) {

  import CrawlSession._

  // session-scoped working state vs shared output index (Z6: the reference
  // keys queue/filter state by sessionId but writes docs to one target index)
  val frontierTable = new SnapshotTable(s"$workDir/sessions/${config.sessionId}/frontier", spark)
  // narrowed read schema: the seen table REFERENCES the frontier's
  // new-entries segments (commitAppendRef) instead of rewriting the same
  // rows — each round's new URLs are written once; the parquet reader
  // prunes the frontier's extra columns by name
  val seenTable = new SnapshotTable(s"$workDir/sessions/${config.sessionId}/seen", spark)
    .withReadSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("urlHash",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType))))
  // sequenced: Overwrite-mode merges commit as sequence-aware equality
  // deletes (tombstone old rows for re-crawled urls + append the new rows)
  // instead of rewriting the whole docs history every round
  val docsTable = new SnapshotTable(s"$workDir/docs", spark, sequenced = true)
  // narrow (url, lastModified) side index of docsTable, maintained by the
  // Incremental/Overwrite writers so the J2 skip join reads 2 columns
  // instead of rescanning the full (wide) docs history every round
  private val docsIndexTable =
    new SnapshotTable(s"$workDir/docsidx", spark, sequenced = true)
  // incrementally merged seen-set bloom router (O(new URLs) per round
  // instead of an O(|seen|) stat.bloomFilter rebuild)
  private val seenBloom = new IncrementalSeenBloom(seenTable)

  // --- round checkpoint: the ATOMIC commit point of a round ----------------
  // A round writes two snapshots (frontier transition + seen growth); the
  // round only "happens" when this pointer flips (atomic rename), exactly
  // like an Iceberg multi-table transaction commit. A crash between the two
  // table commits leaves orphan snapshots that resume IGNORES, because all
  // reads and appends anchor on the checkpointed versions, never on the
  // tables' own heads. (Docs are the one at-least-once surface: a crash
  // after the docs append but before the pointer flip re-runs the round,
  // duplicating Default-mode docs — the same semantics as re-running the
  // reference, whose ES sink has no idempotence key in default mode;
  // Incremental re-runs are naturally deduped by the lastModified skip.)
  private val checkpointPath =
    java.nio.file.Paths.get(s"$workDir/sessions/${config.sessionId}/round.json")

  private def readCheckpoint(): Option[(Long, Long)] =
    if (!java.nio.file.Files.exists(checkpointPath)) None
    else {
      val json = java.nio.file.Files.readString(checkpointPath)
      def num(k: String) =
        ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong)
      for (f <- num("frontier"); s <- num("seen")) yield (f, s)
    }

  private def writeCheckpoint(frontierV: Long, seenV: Long): Unit = {
    val tmp = java.nio.file.Paths.get(s"$checkpointPath.tmp")
    java.nio.file.Files.writeString(tmp, s"""{"frontier": $frontierV, "seen": $seenV}""")
    java.nio.file.Files.move(tmp, checkpointPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private val sitemapRe = RuleCompiler.anchored(config.sitemapPattern)

  /** robots predicate (Z2): URL's path must not start with any disallowed
    * prefix for its host. Pure built-ins — stays codegen'd.
    */
  private def robotsAllowed(urlCol: Column, prefixes: Column): Column = {
    val path = regexp_replace(urlCol, "^[a-z][a-z0-9+.-]*://[^/]*", "")
    val normPath = when(path === "", "/").otherwise(path)
    // starts-with-any as a codegen kernel — `exists(prefixes, startswith)`
    // evaluates its lambda interpreted, per CANDIDATE row
    prefixes.isNull ||
      !graft.functions.TextExpressions.startsWithAny(normPath, prefixes)
  }

  private def applyRobots(df: DataFrame): DataFrame =
    if (!config.robotsTxt) df
    else df
      .join(broadcast(robots), Seq("host"), "left")
      .filter(robotsAllowed(col("url"), col("disallow_prefixes")))
      .drop("disallow_prefixes")

  /** P1/P2 include/exclude on canonical child URLs (full-match anchored,
    * RiverWeb.java:400-422). Empty include list keeps everything.
    */
  private def includeExclude(df: DataFrame): DataFrame = {
    val inc =
      if (config.includeUrls.isEmpty) lit(true)
      else config.includeUrls
        .map(re => col("url").rlike(RuleCompiler.anchored(re)))
        .reduce(_ || _)
    val exc =
      if (config.excludeUrls.isEmpty) lit(false)
      else config.excludeUrls
        .map(re => col("url").rlike(RuleCompiler.anchored(re)))
        .reduce(_ || _)
    df.filter(inc && !exc)
  }

  /** raw URL strings -> deduped canonical frontier candidates. */
  private def toCandidates(raw: DataFrame, depthCol: Column,
      parentCol: Column, applyIncludeExclude: Boolean): DataFrame = {
    val canon = raw
      .select(
        UrlOps.canonicalizeCol(col("child")).as("url"),
        depthCol.cast("int").as("depth"),
        parentCol.as("parentUrl"))
      .filter(trim(col("url")) =!= "") // P9
    // spider-trap guard: a map-side sorted-segment compare, zero plan cost
    val guarded =
      if (!config.trapGuard) canon
      else canon.filter(!graft.frontier.TrapDetector.pathRepeats(
        col("url"), config.trapMaxRepeat))
    val filtered = if (applyIncludeExclude) includeExclude(guarded) else guarded
    val keyed = filtered
      .withColumn("urlHash", UrlOps.urlHashCol(col("url")))
      .withColumn("host", UrlOps.hostCol(col("url")))
    val depthOk =
      if (config.maxDepth < 0) keyed
      else keyed.filter(col("depth") <= config.maxDepth)
    // in-batch dedup: one row per url. A round can claim parents at mixed
    // depths (politeness defers hot-host rows), so the same child may arrive
    // at different depths in one batch — keep the minimum (canonical claim
    // order processes shallower parents first, so the oracle's
    // first-occurrence rule is exactly min-depth).
    // min over (depth, parentUrl) AS A PAIR: aggregating them independently
    // could stitch the min depth to a parent from a deeper occurrence —
    // a provenance pair that never existed. Grouped on the seen anti-join's
    // key pair, so that join reuses this exchange's hash partitioning; host
    // is a function of url, so min(host) only carries it through.
    applyRobots(depthOk)
      .groupBy("urlHash", "url")
      .agg(min("host").as("host"), min(struct(col("depth"), col("parentUrl"))).as("dp"))
      .select(col("url"), col("urlHash"), col("host"),
        col("dp.depth").as("depth"), col("dp.parentUrl").as("parentUrl"))
  }

  /** Seed the frontier + seen set (round 0). Idempotent: no-op on resume
    * (checkpoint present); orphan snapshots from a crash mid-init are
    * ignored because the checkpoint never pointed at them.
    */
  def init(): Unit = {
    if (readCheckpoint().isDefined) return
    import spark.implicits._
    val seedsDf = config.seeds.toDF("child")
    val cand0 = toCandidates(seedsDf, lit(0), lit(null).cast("string"),
      applyIncludeExclude = false)
    val cand =
      if (config.seeds.size <= SmallWriteRows) cand0.repartition(1) else cand0
    val (fv, n) = frontierTable.commitFull(cand,
      Map("round" -> "0", "processed" -> "0", "kind" -> "seed"))
    // the seed rows are written once — the seen table references them
    val (sv, _) = seenTable.commitAppendRef(
      s"${frontierTable.root}/segments/$fv", -1L, Map("round" -> "0"))
    writeCheckpoint(fv, sv)
    log(s"seeded frontier: $n urls")
  }

  /** One crawl round. Returns the round's result, or None if the crawl is
    * complete (empty frontier or access budget exhausted, Z4/Z5).
    */
  def runRound(): Option[RoundResult] = {
    val (v, seenV) = readCheckpoint().getOrElse(return None)
    val round = frontierTable.metric(v, "round").map(_.toInt).getOrElse(0)
    val processed = frontierTable.metric(v, "processed").map(_.toLong).getOrElse(0L)
    val frontierRows = frontierTable.rowsOf(v)
    val remaining = config.maxAccessCount - processed
    if (frontierRows == 0 || remaining <= 0) return None

    // what the round caches, released on every exit — a failed round too
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.persist() }
    var docsF = scala.concurrent.Future.successful(0L)
    try {
      val frontier = frontierTable.readVersion(v)
      val seenCount = if (seenV < 0) 0L else seenTable.rowsOf(seenV)
      val seen = if (seenCount == 0) null else seenTable.readVersion(seenV)

      // --- claim (W1/W2/A2; Z1 robots Crawl-delay as a per-host quota) --------
      val delayBudgets =
        if (config.robotsTxt && robots.columns.contains("crawl_delay_s"))
          Some(robots.filter(col("crawl_delay_s").isNotNull)
            .select(col("host"),
              greatest(lit(1L), floor(lit(config.roundWindowSeconds) /
                col("crawl_delay_s")).cast("long")).cast("int").as("budget")))
        else None
      // claim shape routed on the KNOWN frontier row count (manifest metric,
      // no job): below the gate a single per-host window claims in one
      // exchange+sort — even a frontier fully owned by one host is a trivial
      // sort task at this size; above it the two-phase salted claim bounds
      // hot-host partitions as before.
      val salt =
        if (frontierRows <= SingleWindowClaimRows) 1 else 16
      // the global A2 cap cannot bind when the whole frontier fits in the
      // remaining budget (claim ⊆ frontier ⇒ |claim| ≤ frontierRows ≤
      // remaining) — skip the TakeOrdered stage those rounds pay for nothing
      val capRemaining = if (remaining >= frontierRows) Long.MaxValue else remaining
      val claimed = cache(delayBudgets
        .map(b => Politeness.claimWithHostBudgets(
          frontier, config.hostBudgetPerRound, b, capRemaining, saltBuckets = salt))
        .getOrElse(Politeness.claim(frontier, config.hostBudgetPerRound,
          capRemaining, saltBuckets = salt)))
      val claimedCount = claimed.count()
      if (claimedCount == 0) return None
      // Small rounds write ONE file per snapshot instead of shuffle-partition
      // many near-empty ones: parquet task-commit overhead dominates
      // small-crawl round latency (~0.3-0.5 s per tiny write at 32
      // partitions). repartition(1) — not coalesce — keeps the upstream
      // anti-join/extraction stages parallel and serializes only the write
      // task. Above the gate the parallel multi-file write is untouched.
      // The new-entries segment is gated 16× tighter: its row count is
      // claim × branching factor, so a claim-sized gate could serialize a
      // write 100× larger than intended.
      val smallRound = claimedCount <= SmallWriteRows
      def writeShape(df: DataFrame): DataFrame =
        if (smallRound) df.repartition(1) else df

      // --- fetch = claim ⋈ corpus (S5/J4) ------------------------------------
      // The claim batch is usually orders of magnitude smaller than the corpus
      // (≤ hosts·budget rows) and broadcasts as the build side; the hint is
      // size-GATED on the known claimedCount — an unconditional broadcast OOMs
      // once hosts×budget reaches 10^7+ rows (see fetchJoin) — falling through
      // to an AQE-planned shuffle join above the cap.
      // Response status comes from the corpus when it carries one (PageDoc
      // .httpStatus); a status-less corpus is all-200. Non-200 pages flow
      // through the round but the P5 gate stores no document and emits no
      // children (304 = the incremental-skip route, crawler/rule+.xml:39-40;
      // 4xx/5xx = fetch failure).
      val statusCol =
        if (corpus.columns.contains("httpStatus"))
          coalesce(corpus("httpStatus"), lit(200))
        else lit(200)
      val fetched = cache(fetchJoin(corpus, claimed, claimedCount)
        .select(
          claimed("url"), claimed("parentUrl"), claimed("depth"),
          claimed("urlHash"), claimed("host").as("claimHost"),
          lit("GET").as("method"),
          lit("text/html").as("mimeType"),
          lit("UTF-8").as("charSet"),
          statusCol.as("httpStatusCode"),
          graft.functions.SpanFieldColumns.spanTextLength(corpus("spans"))
            .as("contentLength"),
          pmod(claimed("urlHash"), lit(500)).as("executionTime"),
          corpus("lastModified").as("lastModified"),
          corpus("spans").as("spans")))

      // HTTP redirect classification (reference `auto_redirect`,
      // RiverWeb.java:302-303): a page whose spans carry a `redirect` span is
      // a 3xx response — Location = the span's media_ref. Redirects are
      // HTTP-layer, so they bypass rule matching AND the P5 status gate:
      // no document is stored, no content children are extracted, and (with
      // autoRedirect on, the reference's default) the target is enqueued at
      // the SOURCE's depth — a redirect hop costs no depth, exactly like the
      // reference's transparent HttpClient follow. Both source and target
      // end up seen (the source was claimed; the target goes through the
      // normal candidate anti-join). autoRedirect=false drops the target:
      // the 3xx response simply fails the 200 gate, like the reference with
      // redirect handling off. Targets pass robots + include/exclude like
      // any enqueued URL (the declarative analog of never fetching them).
      val redirectRefs = Extractor.spanRefs(col("spans"), "redirect")
      val isRedirect = size(redirectRefs) > 0
      val followRedirects = config.http.autoRedirect.getOrElse(true)
      val isSitemap = col("url").rlike(sitemapRe) && !isRedirect

      // --- extract + store docs (P3-F9, X4, S8, J2/J3) ------------------------
      // persisted when Overwrite/Incremental reference the extraction twice
      // (merge/skip join + count); Default mode writes it exactly once, so
      // the cache would be pure copy overhead there
      val docs0 = Extractor.extract(fetched.filter(!isSitemap && !isRedirect), config)
        .drop("children")
        .withColumn("@timestamp", lit(clock()))
      val docs =
        if (config.mode == WriteMode.Default) docs0 else cache(docs0)
      // The docs-table commit touches only docsTable/docsIndexTable — fully
      // independent of the frontier/seen transition below — so it runs
      // CONCURRENTLY on a driver pool thread (guide §2.6: actions are only
      // sequential because the driver calls them sequentially); its tasks
      // back-fill executor slots left idle by the children DAG's stage
      // tails. The round checkpoint still flips only after BOTH commits are
      // durable, and a docs failure aborts the round before the flip, so
      // crash semantics are unchanged (frontier/seen snapshots without a
      // checkpoint are resume-ignored orphans by design).
      docsF = scala.concurrent.Future {
        writeDocs(writeShape(docs), writeShape)
      }(CrawlSession.docsCommitEc)

      // --- children (X5 + S6 sitemaps + redirect remap) → J1 anti-join ---------
      // one pass over `fetched`: a page's children come from one branch —
      // a redirect's target (none with autoRedirect off), a 200 sitemap's
      // locs, or a 200 rule-matched page's links (the docs' P5 gate); any
      // other page emits none. Redirect targets keep the source's depth;
      // every other child is one level deeper.
      val none = lit(null).cast("array<string>")
      val ok = col("httpStatusCode") === 200
      val children = fetched
        .withColumn("ruleId", RuleCompiler.ruleId(config.rules, col("url"), col("mimeType")))
        .select(
          explode(when(isRedirect, if (followRedirects) redirectRefs else none)
            .when(isSitemap && ok, Extractor.spanRefs(col("spans"), "sitemap-loc"))
            .when(col("ruleId").isNotNull && ok, Extractor.childArray(config)))
            .as("child"),
          (col("depth") + when(isRedirect, 0).otherwise(1)).as("cdepth"),
          col("url").as("parentUrl"))
      val raw = toCandidates(children, col("cdepth"), col("parentUrl"),
        applyIncludeExclude = true)

      // Below the floor the bloom route costs more than it saves: the
      // incremental filter's per-round maintenance is one Spark job per new
      // segment (stat.bloomFilter over it), and the routed plan adds a branch
      // union — while the exact anti-join over a tiny seen set is a single
      // cheap (SHJ-hinted) join. Inside the band, the incrementally merged
      // bloom: O(new URLs last round), not O(seen). Above the single-bloom
      // ceiling, the exact anti-join again (maxBloomItems = 0 keeps filterNew
      // from building a filter of its own).
      val bloom =
        if (seenCount >= AutoBloomMinItems && seenCount <= SeenSet.MaxBloomItems)
          Some(seenBloom.forVersion(seenV, seenCount))
        else None
      // persisted only for the bloom route, whose two branches each scan it
      // (definitely-new ∪ maybe-seen anti-join); the exact route reads it
      // once, straight through the dedup's exchange
      val cand = if (bloom.isDefined) cache(raw) else raw
      val newEntries =
        if (seen == null) cand
        else SeenSet.filterNew(cand, seen, seenCount, maxBloomItems = 0L,
          prebuiltBloom = bloom)

      // The new-entries write keys its single-file gate on the CLAIM count
      // (the segment write itself is the one materialization — the previous
      // persist + eager count() spent a whole extra job per round only to
      // re-derive what the claim count already bounds). A small claim over
      // extreme-fanout pages (a handful of huge sitemaps) can still emit
      // SmallWriteRows × 100 children through the single write task — a
      // rare, bounded case (one task writing ~10^6 rows) that costs seconds
      // when it happens, vs. a count job on EVERY small round. Above the
      // gate the parallel multi-file write is untouched.
      //
      // coalesce(1), NOT repartition(1): the children pipeline ends in the
      // dedup groupBy's exchange, so coalesce collapses only the tiny
      // post-shuffle stages into one task — the map-side extraction stays
      // parallel — and skips the extra round-robin exchange+stage that
      // repartition(1) paid per round. (writeDocs keeps repartition(1):
      // its pipeline is shuffle-free, so a coalesce there WOULD serialize
      // the whole fetch-join + extract.)
      def fanoutShape(df: DataFrame): DataFrame =
        if (smallRound) df.coalesce(1) else df

      // --- frontier transition + seen growth (S3 snapshot-atomic claim) -------
      // delta commit: append the new entries, tombstone the claimed rows —
      // O(claim + new) write instead of rewriting the whole frontier
      // (SnapshotTable compacts copy-on-write once tombstones accumulate)
      val newProcessed = processed + claimedCount
      val (newFv, frontierLeft) = frontierTable.commitDeltaTo(
        fanoutShape(newEntries.select(frontier.columns.map(col): _*)),
        // tombstones read the persisted claim cache — coalesce merges the
        // tiny cache-scan tasks without repartition(1)'s extra exchange
        fanoutShape(claimed.select("urlHash", "url")), v, Map(
          "round" -> (round + 1).toString,
          "processed" -> newProcessed.toString,
          "claimed" -> claimedCount.toString),
        // tombstones are exactly the claim batch (1:1) — the exact hint lets
        // the store overlap the tombstone and segment writes
        tombstoneRowsHint = claimedCount)
      // delta path: frontier segment newFv IS exactly newEntries — the seen
      // table references those files instead of writing the rows again
      // (halves per-round new-URL write bytes). Compaction path: the segment
      // folds the whole frontier, so fall back to a direct write (newEntries
      // is recomputed from the cached `fetched`).
      val (newSv, seenTotal) =
        if (frontierTable.tombstonesOf(newFv).nonEmpty)
          seenTable.commitAppendRef(
            s"${frontierTable.root}/segments/$newFv", seenV,
            Map("round" -> (round + 1).toString))
        else seenTable.commitAppendTo(
          fanoutShape(newEntries.select("urlHash", "url")), seenV,
          Map("round" -> (round + 1).toString))
      // both commits must be durable before the round becomes visible
      val docsWritten = scala.concurrent.Await.result(
        docsF, scala.concurrent.duration.Duration.Inf)
      // the round becomes visible HERE — one atomic rename for both tables
      writeCheckpoint(newFv, newSv)
      // new-URL count comes free from the seen-commit's segment metric
      val newUrls = seenTable.metric(newSv, "segmentRows").map(_.toLong).getOrElse(0L)

      // round claim order for parity tests (small: ≤ claim batch)
      val order =
        if (!recordOrder) Array.empty[(String, Int)]
        else claimed
          .orderBy(col("depth"), col("urlHash"), col("url"))
          .select("url", "depth").collect()
          .map(r => (r.getString(0), r.getInt(1)))

      log(s"round ${round + 1}: claimed=$claimedCount docs=$docsWritten " +
        s"new=$newUrls frontier=$frontierLeft seen=$seenTotal processed=$newProcessed")
      Some(RoundResult(round + 1, claimedCount, docsWritten, newUrls,
        frontierLeft, seenTotal, newProcessed, order.toSeq))
    } catch { case scala.util.control.NonFatal(e) =>
      // the docs commit may still be scanning `fetched` and `docs`: let it
      // end before they are released (its own failure is secondary)
      scala.util.Try(scala.concurrent.Await.result(
        docsF, scala.concurrent.duration.Duration.Inf))
      throw e
    } finally cached.foreach(_.unpersist())
  }

  /** Mode-aware document write (RiverWebTest semantics, SURVEY.md §2.1 S8 +
    * §2.3 J2/J3).
    */
  /** `shape` re-applies the small-round single-file write layout to the
    * tombstone/skip-join intermediates Overwrite/Incremental derive from
    * `docs` — their distinct()/join shuffles otherwise fan the write back
    * out to shuffle-partition-many near-empty files.
    */
  private def writeDocs(docs: DataFrame,
      shape: DataFrame => DataFrame = identity): Long = {
    val hasExisting = !docsTable.isEmpty && docsTable.rowsOf(docsTable.currentVersion) > 0
    config.mode match {
      case WriteMode.Default =>
        // Default mode never reads history — no index maintenance (a later
        // Incremental session detects the stale index and rebuilds once)
        val (_, _) = docsTable.commitAppend(docs)
        docsTable.metric(docsTable.currentVersion, "segmentRows").map(_.toLong).getOrElse(0L)
      case WriteMode.Overwrite =>
        // J3: delete-by-url then insert = MERGE, committed as a sequenced
        // delta (url tombstones + new segment) — O(batch) per round instead
        // of the O(history) copy-on-write rewrite; SnapshotTable compacts
        // once tombstones outgrow the read-side broadcast budget. The
        // deleted-row count (for exact live-row accounting) comes from the
        // NARROW side index, not a full docs scan.
        if (!hasExisting) {
          docsTable.commitAppend(docs)
          appendDocsIndex()
          docsTable.metric(docsTable.currentVersion, "segmentRows")
            .map(_.toLong).getOrElse(0L)
        } else {
          val urls = shape(docs.select("url").distinct())
          val matched = docsIndexSource()
            .join(urls, Seq("url"), "left_semi").count()
          docsTable.commitDeltaTo(docs, urls, docsTable.currentVersion,
            deletedRows = matched)
          val v = docsTable.currentVersion
          // batch (url, lastModified) pairs, NOT readSegment(v): an
          // internal compaction folds the whole table into segment v
          val idxSeg = docs.select("url", "lastModified")
          if (indexConsistentBefore(v - 1))
            docsIndexTable.commitDeltaTo(idxSeg, urls,
              docsIndexTable.currentVersion,
              Map("docsVersion" -> v.toString),
              deletedRows = matched)
          else refreshDocsIndexFull()
          // segmentRows == the batch unless the commit compacted (then the
          // segment is the whole merged table); docs is persisted, so the
          // fallback count is a cache scan
          if (docsTable.tombstonesOf(v).nonEmpty)
            docsTable.metric(v, "segmentRows").map(_.toLong).getOrElse(0L)
          else docs.count()
        }
      case WriteMode.Incremental =>
        // J2: skip docs whose lastModified is not newer than what's indexed.
        // The skip join reads the narrow (url, lastModified) side index when
        // it is consistent with the docs head — rescanning the full wide
        // docs history every round is O(history) per round
        val fresh =
          if (!hasExisting) docs
          else {
            val indexed = docsIndexSource()
              .groupBy(col("url").as("i_url"))
              .agg(max("lastModified").as("i_lastModified"))
            docs.join(indexed, docs("url") === col("i_url"), "left")
              .filter(col("i_lastModified").isNull ||
                col("lastModified") > col("i_lastModified"))
              .drop("i_url", "i_lastModified")
          }
        docsTable.commitAppend(shape(fresh))
        val written = docsTable.metric(docsTable.currentVersion, "segmentRows")
          .map(_.toLong).getOrElse(0L)
        appendDocsIndex()
        written
    }
  }

  /** index rows for the J2 skip join: the side index when consistent with
    * the docs head (metric check), else the docs table itself (index behind
    * — e.g. Default-mode appends — heals on the next index write).
    */
  private def docsIndexSource(): DataFrame = {
    val consistent = !docsIndexTable.isEmpty &&
      docsIndexTable.metric(docsIndexTable.currentVersion, "docsVersion")
        .contains(docsTable.currentVersion.toString)
    if (consistent) docsIndexTable.read() else docsTable.read()
  }

  private def indexConsistentBefore(prevDocsVersion: Long): Boolean =
    !docsIndexTable.isEmpty &&
      docsIndexTable.metric(docsIndexTable.currentVersion, "docsVersion")
        .contains(prevDocsVersion.toString)

  /** append the fresh segment's (url, lastModified) to the index, or rebuild
    * it from the full docs table if it had fallen behind.
    */
  private def appendDocsIndex(): Unit = {
    val docsV = docsTable.currentVersion
    val newSeg = docsTable.readSegment(docsV.toString).select("url", "lastModified")
    if (indexConsistentBefore(docsV - 1))
      docsIndexTable.commitAppend(newSeg, Map("docsVersion" -> docsV.toString))
    else refreshDocsIndexFull()
  }

  private def refreshDocsIndexFull(): Unit =
    docsIndexTable.commitFull(
      docsTable.read().select("url", "lastModified"),
      Map("docsVersion" -> docsTable.currentVersion.toString))

  /** Run to completion (budget hit or frontier drained). */
  def run(maxRounds: Int = 1000): CrawlResult = {
    hooks.onExecute(this)
    init()
    val rounds = Seq.newBuilder[RoundResult]
    var r = if (maxRounds > 0) runRound() else None
    var i = 0
    while (r.isDefined && i < maxRounds) {
      rounds += r.get
      i += 1
      r = if (i < maxRounds) runRound() else None
    }
    val rs = rounds.result()
    val result = CrawlResult(rs, rs.map(_.claimed).sum)
    hooks.onFinish(this, result)
    result
  }

  /** F14: extracted documents as one JSON string per row — the reference's
    * `jsonBuilder().value(dataMap)` ES sink payload
    * (ScrapingTransformer.java:614).
    */
  def docsAsJson(): DataFrame = {
    val docs = docsTable.read()
    docs.select(to_json(struct(docs.columns.map(col): _*)).as("json"))
  }

  def cleanup(): Unit = { // S9
    frontierTable.drop(); seenTable.drop(); docsTable.drop(); docsIndexTable.drop()
  }

  /** Expire dead snapshot storage for this session (the Iceberg
    * `expire_snapshots` analog — Z6 operability: compactions and crash
    * orphans otherwise accumulate segment dirs forever). Retains everything
    * reachable from the checkpointed round through each table's head, and
    * honors the seen table's shared refs into frontier segments, so a
    * resume after gc() is unaffected. Returns (segment dirs, tombstone
    * dirs) deleted.
    */
  def gc(): (Int, Int) = {
    val (fv, sv) = readCheckpoint().getOrElse(return (0, 0))
    val refsIntoFrontier =
      seenTable.referencedEntries(sv)._1.filter(_.startsWith("/"))
    val (fS, fT) = frontierTable.expireBefore(fv, refsIntoFrontier)
    val (sS, sT) = seenTable.expireBefore(sv)
    val (dS, dT) = docsTable.expireBefore(docsTable.currentVersion)
    val (iS, iT) = docsIndexTable.expireBefore(docsIndexTable.currentVersion)
    (fS + sS + dS + iS, fT + sT + dT + iT)
  }

  private def log(msg: String): Unit =
    if (sys.env.get("GRAFT_QUIET").isEmpty) println(s"[crawl ${config.sessionId}] $msg")
}

/** X3 driver-side lifecycle hooks (no executor involvement — the reference
  * runs these scripts on its single node around the crawl).
  */
final case class CrawlHooks(
    onExecute: CrawlSession => Unit = _ => (),
    onFinish: (CrawlSession, CrawlSession.CrawlResult) => Unit = (_, _) => ())

object CrawlSession {
  /** build-side row cap for broadcasting the claim batch into the fetch
    * join: ~150 B/row ⇒ ~300 MB at the cap, the practical ceiling before
    * the driver/executor broadcast OOMs. Above it AQE plans the join.
    */
  private[graft] val FetchBroadcastMaxRows = 2000000L

  /** Below this claim-batch size a round's snapshot writes repartition(1):
    * one real parquet file instead of shuffle-partition-many near-empty
    * ones (task-commit overhead dominates small-round latency). Large
    * rounds keep the parallel multi-file write and per-partition lineage.
    */
  private[graft] val SmallWriteRows = 8192L

  /** Below this KNOWN frontier row count the politeness claim takes the
    * single per-host-window path (one exchange + sort instead of the
    * two-phase salted pair): even a frontier fully owned by one host is a
    * single trivial sort task at this size. Routed on the manifest's row
    * metric — no extra job; any larger frontier keeps the salted claim
    * and its skew bound.
    */
  private[graft] val SingleWindowClaimRows = 131072L

  /** Driver pool for the concurrent docs-table commit (guide §2.6 overlap
    * of independent jobs): 2 threads is plenty — one in-flight docs write
    * per round, and job descriptions/scheduling are thread-local.
    */
  private[graft] lazy val docsCommitEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(r, "graft-docs-commit"); t.setDaemon(true); t
      }))

  /** Bloom-route floor: below this seen-set size the plain exact anti-join
    * (SHJ-hinted, one small build) beats the bloom route's per-round
    * segment-bloom job + two-branch plan. Routing on the KNOWN seen count
    * — no extra job either way.
    */
  private[graft] val AutoBloomMinItems = 1048576L

  /** fetch join with a size-gated broadcast hint on the claim batch. */
  private[graft] def fetchJoin(corpus: DataFrame, claimed: DataFrame,
      claimedRows: Long,
      maxBroadcastRows: Long = FetchBroadcastMaxRows): DataFrame = {
    val build =
      if (claimedRows <= maxBroadcastRows)
        org.apache.spark.sql.functions.broadcast(claimed)
      else claimed
    corpus.join(build, corpus("doc_id") === claimed("url"), "inner")
  }

  final case class RoundResult(
      round: Int,
      claimed: Long,
      docsWritten: Long,
      newUrls: Long,
      frontierLeft: Long,
      seenTotal: Long,
      processed: Long,
      claimOrder: Seq[(String, Int)])

  final case class CrawlResult(rounds: Seq[RoundResult], totalClaimed: Long) {
    /** flattened canonical crawl order: rounds in sequence, canonical order
      * within a round.
      */
    def crawlOrder: Seq[(String, Int)] = rounds.flatMap(_.claimOrder)
  }
}
