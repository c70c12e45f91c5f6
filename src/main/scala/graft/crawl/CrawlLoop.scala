package graft.crawl

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.graftbridge.{ClaimedPages, PhysicalRows}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.{Extractor, RuleCompiler}
import graft.frontier.{IncrementalSeenBloom, Politeness, SeenSet, SegmentWriter, SnapshotTable}
import graft.model._

/** One crawl session: the rebuild of `RiverWeb.crawl()`
  * (RiverWeb.java:226-508) as a driver round-loop (SURVEY.md §3.1):
  *
  *   claim (politeness windows, W1/W2) → fetch = frontier⋈corpus (J4, S5)
  *   → extract (P3-P9, F1-F9, A1, X4) → children (X5, U2/U3)
  *   → canonicalize-hash-dedup (F13 + J1 bloom-prefiltered exact anti-join)
  *   → mode-aware doc write (S8, J2/J3) + frontier snapshot commit.
  *
  * A round above the small-round gate ([[CrawlSession.SmallWriteRows]]) is
  * ONE declarative DataFrame DAG. A round below it claims from the
  * session's driver mirror of the frontier; in Default mode its Spark work
  * is one action, of a plan planned once a session, that writes the docs
  * and returns the child candidates.
  *
  * All state crosses rounds through [[SnapshotTable]] commits, so a crawl
  * resumes from its latest manifest (Z6) and every round's plan starts from
  * a fresh parquet scan or the mirror (no unbounded lineage). A session's
  * durable state is its two tables and nothing else: the frontier's
  * manifest rename is a round's commit point.
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
  // sequenced: Overwrite-mode merges commit as sequence-aware equality
  // deletes (tombstone old rows for re-crawled urls + append the new rows)
  // instead of rewriting the whole docs history every round
  val docsTable = new SnapshotTable(s"$workDir/docs", spark, sequenced = true)
  // incrementally merged seen-set bloom router (O(new URLs) per round
  // instead of an O(|seen|) stat.bloomFilter rebuild)
  private val seenBloom = new IncrementalSeenBloom(frontierTable)
  // the driver mirror of the frontier while its seen set is at most
  // SmallWriteRows rows: set at each small round's commit, dropped by a
  // seen set above the gate
  private var mirror: Option[Mirror] = None

  /** the frontier version the driver mirror holds, if any, and its schema. */
  private[crawl] def mirrorVersion: Option[Long] = mirror.map(_.version)
  private[crawl] def mirrorSchema: Option[StructType] = mirror.map(_.schema)

  /** The URL-seen set (J1), read-only: the frontier's append log at its
    * head — the seed segment and every round's new-entries segment, no
    * tombstones applied — so every url ever enqueued, once.
    */
  object seenTable {
    def read(): DataFrame = seenAt(frontierTable.currentVersion)
  }

  private def seenAt(v: Long): DataFrame =
    frontierTable.readSegments(frontierTable.appendedOf(v)).select("urlHash", "url")

  private val sitemapRe = RuleCompiler.anchored(config.sitemapPattern)

  /** robots Crawl-delay as per-host round quotas (Z1): floor(round window /
    * delay), at least 1, for each host with a positive delay; a delay of 0
    * or less sets no quota. The robots table is fixed for the session, so
    * it is collected once, on first use.
    */
  private lazy val delayBudgets: Map[String, Int] =
    if (!config.robotsTxt || !robots.columns.contains("crawl_delay_s")) Map.empty
    else robots.filter(col("host").isNotNull && col("crawl_delay_s") > 0)
      .select(col("host"),
        greatest(lit(1L), floor(lit(config.roundWindowSeconds) /
          col("crawl_delay_s")).cast("long")).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

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

  /** robots rules as a map literal from host to disallowed prefixes, read
    * once a session: when the table has at most
    * [[CrawlSession.SmallWriteRows]] rows and one per host (null hosts
    * match nothing, as in the join), else None. The literal keeps the
    * robots join out of the plan: a small round's collect, with no
    * exchange left, is one job.
    */
  private lazy val robotsLiteral: Option[Column] = {
    val all = robots.select(col("host"), col("disallow_prefixes"))
      .limit(SmallWriteRows.toInt + 1).collect()
    val rows = all.filterNot(_.isNullAt(0))
    val hosts = rows.map(_.getString(0))
    if (all.length > SmallWriteRows || hosts.distinct.length < hosts.length) None
    else Some(mapLiteral(hosts.toSeq, rows.map(_.get(1)).toSeq,
      robots.schema("disallow_prefixes").dataType))
  }

  /** robots (Z2) over candidate rows: a lookup in [[robotsLiteral]] for a
    * small robots table, else a broadcast left join on `host` — the same
    * rows either way.
    */
  private def applyRobots(df: DataFrame): DataFrame =
    if (!config.robotsTxt) df
    else robotsLiteral match {
      case Some(rules) =>
        df.filter(robotsAllowed(col("url"), try_element_at(rules, col("host"))))
      case None => df
        .join(broadcast(robots), Seq("host"), "left")
        .filter(robotsAllowed(col("url"), col("disallow_prefixes")))
        .drop("disallow_prefixes")
    }

  /** P1/P2 include/exclude on canonical child URLs (full-match anchored,
    * RiverWeb.java:400-422). Empty include list keeps everything.
    */
  private def includeExclude(url: Column): Column = {
    val inc =
      if (config.includeUrls.isEmpty) lit(true)
      else config.includeUrls.map(re => url.rlike(RuleCompiler.anchored(re))).reduce(_ || _)
    val exc =
      if (config.excludeUrls.isEmpty) lit(false)
      else config.excludeUrls.map(re => url.rlike(RuleCompiler.anchored(re))).reduce(_ || _)
    inc && !exc
  }

  /** P9 (no blank url), the spider-trap guard, include/exclude and
    * `maxDepth`, over a canonical candidate's `url` and `depth`.
    */
  private def candidateKeep(applyIncludeExclude: Boolean): Column = {
    val url = col("url")
    Seq(
      Some(trim(url) =!= ""), // P9
      // spider-trap guard: a map-side sorted-segment compare, zero plan cost
      Option.when(config.trapGuard)(
        !graft.frontier.TrapDetector.pathRepeats(url, config.trapMaxRepeat)),
      Option.when(applyIncludeExclude)(includeExclude(url)),
      Option.when(config.maxDepth >= 0)(col("depth") <= config.maxDepth)).flatten
      .reduce(_ && _)
  }

  /** canonical candidates (`url`, `depth`, `parentUrl`) keyed by `urlHash`
    * and `host` and checked against robots, with `carry` in front. A row
    * whose `url` is null passes robots.
    */
  private def keyedCandidates(canon: DataFrame, carry: Column*): DataFrame = {
    val url = col("url")
    applyRobots(canon.select(carry ++ Seq(url, UrlOps.urlHashCol(url).as("urlHash"),
      UrlOps.hostCol(url).as("host"), col("depth"), col("parentUrl")): _*))
  }

  /** raw URL strings -> canonical frontier candidates, one row per child
    * (`url`, `urlHash`, `host`, `depth`, `parentUrl`): canonicalized, then
    * filtered by [[candidateKeep]] and robots.
    */
  private def candidateRows(raw: DataFrame, depthCol: Column,
      parentCol: Column, applyIncludeExclude: Boolean): DataFrame =
    keyedCandidates(raw
      .select(
        UrlOps.canonicalizeCol(col("child")).as("url"),
        depthCol.cast("int").as("depth"),
        parentCol.as("parentUrl"))
      .filter(candidateKeep(applyIncludeExclude)))

  /** the corpus columns a fetch reads, keyed on `doc_id` (first): the
    * response status — from the corpus when it carries one
    * (PageDoc.httpStatus); a status-less corpus is all-200 — the last
    * modified time and the spans. Non-200 pages flow through the round but
    * the P5 gate stores no document and emits no children (304 = the
    * incremental-skip route, crawler/rule+.xml:39-40; 4xx/5xx = fetch
    * failure).
    */
  private lazy val corpusPages: DataFrame = corpus.select(col("doc_id"),
    (if (corpus.columns.contains("httpStatus")) coalesce(col("httpStatus"), lit(200))
     else lit(200)).as("httpStatusCode"),
    col("lastModified"), col("spans"))

  /** the fetch's response rows over fetched pages: [[corpusPages]]'
    * columns with the claim row's (`url`, `urlHash`, `host`, `depth`,
    * `parentUrl`), and `extra`.
    */
  private def fetchedOf(pages: DataFrame, extra: Column*): DataFrame = pages.select(
    Seq(col("url"), col("parentUrl"), col("depth"), col("urlHash"), col("host").as("claimHost"),
      lit("GET").as("method"),
      lit("text/html").as("mimeType"),
      lit("UTF-8").as("charSet"),
      col("httpStatusCode"),
      graft.functions.SpanFieldColumns.spanTextLength(col("spans")).as("contentLength"),
      pmod(col("urlHash"), lit(500)).as("executionTime"),
      col("lastModified"), col("spans")) ++ extra: _*)

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
  private val redirectRefs = Extractor.spanRefs(col("spans"), "redirect")
  private val isRedirect = size(redirectRefs) > 0
  private val isSitemap = col("url").rlike(sitemapRe) && !isRedirect

  /** a fetched page's child urls (X5 + S6 sitemaps + redirect remap), from
    * one branch: a redirect's target (none with autoRedirect off), a 200
    * sitemap's locs, or a 200 rule-matched page's links `ruleChildren` (the
    * docs' P5 gate); any other page has none. Needs `ruleId`.
    */
  private def pageChildren(ruleChildren: Column): Column = {
    val ok = col("httpStatusCode") === 200
    when(isRedirect,
        if (config.http.autoRedirect.getOrElse(true)) redirectRefs
        else lit(null).cast("array<string>"))
      .when(isSitemap && ok, Extractor.spanRefs(col("spans"), "sitemap-loc"))
      .when(col("ruleId").isNotNull && ok, ruleChildren)
  }

  /** a child's depth: a redirect target keeps the source's, every other
    * child is one level deeper.
    */
  private val childDepth = (col("depth") + when(isRedirect, 0).otherwise(1)).cast("int")

  /** The fused small Default round's plan over the claimed-pages leaf
    * `pages`: each page's documents and filtered child candidates as tagged
    * rows — `_0`, a document (the extraction with `@timestamp`: the P4/P5
    * gates, and none for a sitemap or a redirect), or `_1`, a candidate in
    * the mirror's columns `claim`; the other column null. One explode over
    * the page's documents followed by its children, then the candidate
    * filters, which document rows pass: one pass over each page, so the
    * round's action scans each corpus partition once, with the extraction
    * on the map side. Built and planned once a session.
    */
  private def fusedRound(pages: DataFrame, claim: StructType): DataFrame = {
    val (flat, docs) = Extractor.documents(fetchedOf(pages, col("@timestamp")), config,
      Seq(col("@timestamp")))
    val docType = flat.select(docs).schema.head.dataType.asInstanceOf[ArrayType].elementType
    def tagged(doc: Column, child: Column) = struct(doc.as("doc"), child.as("child"))
    val (noDoc, noChild) = (lit(null).cast(docType), lit(null).cast(StringType))
    val canon = flat
      .select(
        explode(concat(
          transform(coalesce(when(!isSitemap && !isRedirect, docs),
            array().cast(ArrayType(docType))), tagged(_, noChild)),
          transform(coalesce(pageChildren(col("children")), array().cast("array<string>")),
            tagged(noDoc, _)))).as("t"),
        childDepth.as("depth"), col("url").as("parentUrl"))
      .select(col("t.doc").as("doc"), UrlOps.canonicalizeCol(col("t.child")).as("url"),
        col("depth"), col("parentUrl"))
      .filter(col("doc").isNotNull || candidateKeep(applyIncludeExclude = true))
    keyedCandidates(canon, col("doc")).select(col("doc").as("_0"),
      when(col("doc").isNull, struct(claim.fieldNames.map(col): _*)).as("_1"))
  }

  /** The small round's session-scoped plans, for the mirror's `schema`:
    * the claimed-pages leaf, whose claim rows are the mirror's with the
    * round's `@timestamp`, and the fused round's plan over it, planned by
    * the session's first fused round.
    */
  private final class SmallRoundPlans(val schema: StructType) {
    val pages = new ClaimedPages(corpusPages,
      schema.add("@timestamp", TimestampType, nullable = false))
    lazy val fused: PhysicalRows = {
      fusedPlans += 1
      PhysicalRows(fusedRound(pages.template, schema))
    }
  }
  private var smallPlans: Option[SmallRoundPlans] = None
  private var fusedPlans = 0

  private def smallPlansFor(schema: StructType): SmallRoundPlans =
    smallPlans.filter(_.schema == schema).getOrElse {
      val p = new SmallRoundPlans(schema)
      smallPlans = Some(p)
      p
    }

  /** how many times this session has planned the fused round. */
  private[crawl] def fusedRoundPlans: Int = fusedPlans

  /** Seed the frontier, and so the seen set (round 0). Idempotent: no-op
    * on resume (a published frontier). The seeds are a driver list, so
    * their candidate rows are collected, deduped on the driver and written
    * from the driver as one file; they also become the driver mirror of
    * the seed version, so a fresh session's first round loads none.
    */
  def init(): Unit = {
    if (!frontierTable.isEmpty) return
    import spark.implicits._
    val cand = candidateRows(config.seeds.toDF("child"), lit(0), lit(null).cast("string"),
      applyIncludeExclude = false).select("url", "urlHash", "host", "depth", "parentUrl")
    val seeds = dedupRows(cand.collect().toSeq)
    val (v, n) = frontierTable.commitFull(
      spark.createDataFrame(java.util.Arrays.asList(seeds: _*), cand.schema),
      Map("round" -> "0", "processed" -> "0", "kind" -> "seed"))
    // a file read makes every column nullable: the mirror takes the schema
    // readVersion(v) would give it (the frontier's columns are all atomic)
    if (n <= SmallWriteRows)
      mirror = Some(Mirror(v, StructType(cand.schema.map(_.copy(nullable = true))),
        seeds, seeds.map(seenKey).toSet))
    log(s"seeded frontier: $n urls")
  }

  /** One crawl round. Returns the round's result, or None if the crawl is
    * complete (empty frontier or access budget exhausted, Z4/Z5).
    *
    * A round whose seen set (the live frontier plus every page processed,
    * read from the manifest, so picking the path runs no job) is at most
    * [[CrawlSession.SmallWriteRows]] rows claims from the session's driver
    * mirror of the frontier. Its pages are an input, not literals: the
    * driver builds the rows of the session's claimed-pages leaf
    * ([[ClaimedPages]]) from the claim, with no job. In Default mode the
    * round then runs ONE Spark action ([[CrawlSession.fuseDocsAndCandidates]])
    * of a plan built and planned once a session, by its first fused round
    * ([[fusedRound]]), into which each round binds its pages: one scan of
    * each corpus partition feeds a single task that writes the round's docs
    * file into the docs table's staged segment and returns the filtered
    * child candidates, so no page content passes through the driver and no
    * round analyzes, optimizes or plans a query of its own. The in-batch
    * dedup and the seen check run on the driver, the
    * round's tombstones and new entries are written from the driver, and
    * the docs segment is published at the frontier commit's barrier.
    * Overwrite and Incremental small rounds collect the candidates and run
    * their Spark docs merge beside the collect. Above the gate the round is
    * one Spark DAG: the cached window claim, the children's dedup and seen
    * anti-join, and Spark writes.
    *
    * The frontier's files are written before the docs commit ends, but
    * published (its manifest rename, the round's one commit point) only
    * after: a round whose docs commit fails leaves the frontier at its
    * parent, with no files of the failed version in either table. Docs are
    * the one at-least-once surface: a crash after the docs commit and before
    * the rename re-runs the round on resume, which stores Default-mode docs
    * twice (as re-running the reference would), replaces Overwrite ones
    * and skips Incremental ones.
    */
  def runRound(): Option[RoundResult] = {
    val v = frontierTable.currentVersion
    if (v < 0) return None
    val round = frontierTable.metric(v, "round").map(_.toInt).getOrElse(0)
    val processed = frontierTable.metric(v, "processed").map(_.toLong).getOrElse(0L)
    val frontierRows = frontierTable.rowsOf(v)
    val remaining = config.maxAccessCount - processed
    if (frontierRows == 0 || remaining <= 0) return None

    // what the round caches, released on every exit — a failed round too;
    // the docs commit's thread registers its cache here as well
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached.synchronized(cached += df); df.persist() }
    var docsF = scala.concurrent.Future.successful(0L)
    def docsDurable(): Long =
      scala.concurrent.Await.result(docsF, scala.concurrent.duration.Duration.Inf)
    // the docs version a fused round's action writes, staged until the
    // frontier commit's barrier publishes it
    var stagedDocs: Option[Long] = None
    try {
      // every claimed row is tombstoned exactly once (the commitDeltaTo
      // contract), so the append log holds the live frontier plus every
      // page processed
      val seenCount = frontierRows + processed

      // --- claim (W1/W2/A2; Z1 robots Crawl-delay as a per-host quota) --------
      // Below the gate the live frontier is the driver mirror's (collected
      // from version v when the mirror is not at v) and
      // Politeness.claimRows claims from it — no Spark job. Its rows select
      // the round's pages (ClaimedPages), and its tombstones are a
      // LocalRelation, written from the driver. The gate is on the seen
      // set, which holds the frontier: the mirror keeps both. Above the
      // gate the claim is the per-host window, cached and counted once: a
      // large round is bound by its data, not by this action, and a driver
      // claim would move the whole frontier through the driver.
      val local =
        if (seenCount <= SmallWriteRows) Some(mirrorAt(v))
        else { mirror = None; None }
      val (claimed, claimedCount, claimRows) = local match {
        case Some(m) =>
          val rows = Politeness.claimRows(m.live, config.hostBudgetPerRound,
            delayBudgets, remaining)
          (spark.createDataFrame(java.util.Arrays.asList(rows: _*), m.schema),
            rows.length.toLong, Some(rows))
        case None =>
          val frontier = frontierTable.readVersion(v)
          // the global A2 cap cannot bind when the whole frontier fits in
          // the remaining budget (claim ⊆ frontier ⇒ |claim| ≤ frontierRows
          // ≤ remaining) — skip the TakeOrdered stage those rounds pay for
          // nothing
          val capRemaining = if (remaining >= frontierRows) Long.MaxValue else remaining
          val claim =
            if (delayBudgets.isEmpty)
              Politeness.claim(frontier, config.hostBudgetPerRound, capRemaining)
            else {
              import spark.implicits._
              Politeness.claimWithHostBudgets(frontier, config.hostBudgetPerRound,
                delayBudgets.toSeq.toDF("host", "budget"), capRemaining)
            }
          val c = cache(claim)
          (c, c.count(), None)
      }
      if (claimedCount == 0) return None
      // Small rounds write ONE file per snapshot instead of shuffle-partition
      // many near-empty ones: parquet task-commit overhead dominates
      // small-crawl round latency (~0.3-0.5 s per tiny write at 32
      // partitions). repartition(1) — not coalesce — keeps the upstream
      // anti-join/extraction stages parallel and serializes only the write
      // task. Above the gate the parallel multi-file write is untouched.
      val smallRound = claimedCount <= SmallWriteRows
      def writeShape(df: DataFrame): DataFrame = if (smallRound) df.repartition(1) else df

      // --- fetch = claim ⋈ corpus (S5/J4) ------------------------------------
      // Below the gate the claim is on the driver and never enters a plan:
      // the round's pages are the session's ClaimedPages leaf bound to this
      // round's rows (each corpus row of a claimed url with its claim row
      // and the round's stamp, built on the driver with no job). Above it
      // the claim batch is usually orders of magnitude smaller than the
      // corpus (≤ hosts·budget rows) and broadcasts as the build side; the
      // hint is size-GATED on the known claimedCount — an unconditional
      // broadcast OOMs once hosts×budget reaches 10^7+ rows (see fetchJoin)
      // — falling through to an AQE-planned shuffle join above the cap.
      val stamp = clock()
      val plans = local.map(m => smallPlansFor(m.schema))
      val pages = plans.map(_.pages.rows(
        claimRows.get.map(r => Row.fromSeq(r.toSeq :+ stamp)), "url"))
      val fused = pages.isDefined && config.mode == WriteMode.Default

      // --- extract + store docs (P3-F9, X4, S8, J2/J3) ------------------------
      // A small Default round writes its docs inside the candidates' action
      // (below). Any other round's docs-table commit touches only docsTable
      // — fully independent of the frontier transition below — so it runs
      // CONCURRENTLY on a driver pool thread (guide §2.6: actions are only
      // sequential because the driver calls them sequentially); its tasks
      // back-fill executor slots left idle by the children DAG's stage
      // tails, and the docs plan is built and analysed there too, while
      // this thread plans the children DAG. The frontier commit awaits it
      // before its manifest rename, the round's commit point, so a docs
      // failure aborts the round with the frontier at its parent. Either
      // way page content never passes through the driver.
      //
      // --- children (X5 + S6 sitemaps + redirect remap) → J1 anti-join ---------
      // one pass over `fetched`: a page's children come from one branch
      // (pageChildren).
      val candidates = if (fused) None else Some {
        val fetched = (plans, pages) match {
          case (Some(p), Some(rows)) => fetchedOf(p.pages.frame(rows))
          // a large round's docs commit and children DAG both scan it; a
          // small one reads its few pages twice rather than pay for a cache
          case _ => cache(fetchedOf(fetchJoin(corpusPages, claimed, claimedCount)))
        }
        docsF = scala.concurrent.Future {
          val extracted = Extractor.extract(fetched.filter(!isSitemap && !isRedirect), config)
          val docs = extracted.select(extracted.columns.filter(_ != "children").map(col) :+
            lit(stamp).as("@timestamp"): _*)
          // persisted only for Overwrite, whose merge reads the extraction
          // twice (the replaced-row tombstones' semi-join and the replacement
          // segment); Default and Incremental read it once, so the cache
          // would be pure copy overhead there
          writeDocs(if (config.mode == WriteMode.Overwrite) cache(docs) else docs, writeShape)
        }(CrawlSession.docsCommitEc)
        val children = fetched
          .withColumn("ruleId", RuleCompiler.ruleId(config.rules, col("url"), col("mimeType")))
          .select(explode(pageChildren(Extractor.childArray(config))).as("child"),
            childDepth.as("cdepth"), col("url").as("parentUrl"))
        candidateRows(children, col("cdepth"), col("parentUrl"), applyIncludeExclude = true)
      }

      // --- frontier transition (S3 snapshot-atomic claim) ---------------------
      // delta commit: append the new entries, tombstone the claimed rows —
      // O(claim + new) write instead of rewriting the whole frontier
      // (SnapshotTable compacts the parent's survivors into a base segment
      // once tombstones accumulate). Segment newFv is exactly the new
      // entries, compaction or not, and joins the append log: it IS the seen
      // set's growth, written once. It is published only once the docs
      // commit is durable.
      val newProcessed = processed + claimedCount
      val metrics = Map(
        "round" -> (round + 1).toString,
        "processed" -> newProcessed.toString,
        "claimed" -> claimedCount.toString)
      val (newFv, frontierLeft, next) = local match {
        case Some(m) =>
          // the round's one action: the candidates, deduped and seen-checked
          // against the mirror here; the new entries and the tombstones are
          // local frames, written from the driver. A fused round's docs
          // segment is published at the barrier, before the frontier's.
          val (rows, publishDocs): (Seq[Row], () => Unit) = candidates match {
            case Some(c) =>
              (c.select(m.schema.fieldNames.map(col): _*).collect().toSeq, () => docsDurable())
            case None =>
              val p = plans.get
              val (dv, writer) = docsTable.stagedWriter(
                p.fused.schema("_0").dataType.asInstanceOf[StructType])
              stagedDocs = Some(dv)
              val (file, n, rows) = fuseDocsAndCandidates(p.fused, p.pages.bind(pages.get), writer)
              docsF = scala.concurrent.Future.successful(n)
              (rows, () => docsTable.commitWritten(dv, file, n))
          }
          val fresh = dedupRows(rows).filterNot(r => m.seen.contains(seenKey(r)))
          val (fv, left) = frontierTable.commitDeltaTo(
            spark.createDataFrame(java.util.Arrays.asList(fresh: _*), m.schema),
            claimed.select("urlHash", "url"), metrics, publishDocs)
          (fv, left, Some((m, fresh)))
        case None =>
          val raw = dedup(candidates.get)
          // Below the floor the bloom route costs more than it saves: the
          // incremental filter's per-round maintenance is one Spark job per
          // new segment (stat.bloomFilter over it), and the routed plan adds
          // a branch union — while the exact anti-join over a tiny seen set
          // is a single cheap (SHJ-hinted) join. Inside the band, the
          // incrementally merged bloom: O(new URLs last round), not O(seen).
          // Above the single-bloom ceiling, the exact anti-join again
          // (maxBloomItems = 0 keeps filterNew from building a filter of its
          // own).
          val bloom =
            if (seenCount >= AutoBloomMinItems && seenCount <= SeenSet.MaxBloomItems)
              Some(seenBloom.forVersion(v, seenCount))
            else None
          // persisted only for the bloom route, whose two branches each scan
          // it (definitely-new ∪ maybe-seen anti-join); the exact route reads
          // it once, straight through the dedup's exchange
          val cand = if (bloom.isDefined) cache(raw) else raw
          val newEntries = SeenSet.filterNew(cand, seenAt(v), seenCount,
            maxBloomItems = 0L, prebuiltBloom = bloom)
          // The new-entries write keys its single-file gate on the CLAIM
          // count (the segment write itself is the one materialization). A
          // small claim over extreme-fanout pages (a handful of huge
          // sitemaps) can still emit SmallWriteRows × 100 children through
          // the single write task — a rare, bounded case (one task writing
          // ~10^6 rows) that costs seconds when it happens, vs. a count job
          // on EVERY small round.
          //
          // coalesce(1), NOT repartition(1): the children pipeline ends in
          // the dedup groupBy's exchange, so coalesce collapses only the tiny
          // post-shuffle stages into one task — the map-side extraction
          // stays parallel — and skips the extra round-robin exchange+stage
          // that repartition(1) paid per round. (writeDocs keeps
          // repartition(1): its pipeline is shuffle-free, so a coalesce there
          // WOULD serialize the whole fetch-join + extract.) The tombstones
          // read the claim's cache.
          def fanoutShape(df: DataFrame): DataFrame =
            if (smallRound) df.coalesce(1) else df
          val (fv, left) = frontierTable.commitDeltaTo(
            fanoutShape(newEntries.select(claimed.columns.map(col): _*)),
            fanoutShape(claimed.select("urlHash", "url")), metrics, () => docsDurable())
          (fv, left, None)
      }
      val newUrls = frontierTable.metric(newFv, "segmentRows").map(_.toLong).getOrElse(0L)
      val seenTotal = frontierLeft + newProcessed
      val docsWritten = docsDurable()
      // the mirror moves to the new version while its seen set stays under
      // the gate: live − claimed + new entries, and seen + new entries
      mirror = next.filter(_ => seenTotal <= SmallWriteRows).map { case (m, fresh) =>
        val gone = claimRows.get.map(seenKey).toSet
        Mirror(newFv, m.schema, m.live.filterNot(r => gone.contains(seenKey(r))) ++ fresh,
          m.seen ++ fresh.map(seenKey))
      }

      // round claim order for parity tests, sorted on the driver: a small
      // round sorts the rows it claimed there and runs no Spark job
      val order =
        if (!recordOrder) Seq.empty[(String, Int)]
        else claimOrder(claimRows.getOrElse(
          claimed.select("url", "depth", "urlHash").collect().toSeq))

      log(s"round ${round + 1}: claimed=$claimedCount docs=$docsWritten " +
        s"new=$newUrls frontier=$frontierLeft seen=$seenTotal processed=$newProcessed")
      Some(RoundResult(round + 1, claimedCount, docsWritten, newUrls,
        frontierLeft, seenTotal, newProcessed, order))
    } catch { case scala.util.control.NonFatal(e) =>
      // the docs commit may still be scanning `fetched` and `docs`: let it
      // end before they are released (its own failure is secondary); a
      // fused round's unpublished docs segment is deleted
      scala.util.Try(docsDurable())
      stagedDocs.foreach(docsTable.discardStaged)
      throw e
    } finally cached.foreach(_.unpersist())
  }

  /** the driver mirror of frontier version `v`: the session's, when it is
    * at `v`, else loaded with two collects — the live frontier of
    * `readVersion(v)` and the seen keys of `v`'s append log. The session's
    * first small round pays them.
    */
  private def mirrorAt(v: Long): Mirror = mirror.filter(_.version == v).getOrElse {
    val live = frontierTable.readVersion(v)
    val m = Mirror(v, live.schema, live.collect().toSeq,
      seenAt(v).collect().map(seenKey).toSet)
    mirror = Some(m)
    m
  }

  /** Mode-aware document write (RiverWebTest semantics, SURVEY.md §2.1 S8 +
    * §2.3 J2/J3). The J2/J3 history reads use only `url` and
    * `lastModified` of the docs table: parquet column pruning reads those
    * column chunks and the hidden `__seq` the sequenced merge-on-read
    * needs, not the wide extracted columns. `docs` arrives unshaped:
    * `shape` (the small-round single-file write layout) applies only to
    * what is written — the batch segment, the Overwrite tombstones and the
    * Incremental survivors — so the joins that read `docs` see the batch
    * without a layout exchange of its own.
    */
  private def writeDocs(docs: DataFrame, shape: DataFrame => DataFrame): Long = {
    val parent = docsTable.currentVersion
    val hasExisting = parent >= 0 && docsTable.rowsOf(parent) > 0
    config.mode match {
      case WriteMode.Default =>
        docsTable.commitAppend(shape(docs))
      case WriteMode.Overwrite =>
        // J3: delete-by-url then insert = MERGE, committed as a sequenced
        // delta (tombstones + new segment) — O(batch) per round instead of
        // the O(history) copy-on-write rewrite. The tombstones are the url
        // of each live history row the batch replaces (a url stored twice
        // is tombstoned twice, a new one not at all), so each deletes one
        // row: the live count stays exact and compaction counts only real
        // deletes. The history read runs inside the tombstone write,
        // beside the segment write.
        if (!hasExisting) docsTable.commitAppend(shape(docs))
        else {
          val replaced = docsTable.readVersion(parent).select("url")
            .join(docs.select("url"), Seq("url"), "left_semi")
          docsTable.commitDeltaTo(shape(docs), shape(replaced))
        }
      case WriteMode.Incremental =>
        // J2: skip docs whose lastModified is not newer than what's stored
        val fresh =
          if (!hasExisting) docs
          else {
            val stored = docsTable.readVersion(parent)
              .groupBy(col("url").as("i_url"))
              .agg(max("lastModified").as("i_lastModified"))
            docs.join(stored, docs("url") === col("i_url"), "left")
              .filter(col("i_lastModified").isNull ||
                col("lastModified") > col("i_lastModified"))
              .drop("i_url", "i_lastModified")
          }
        docsTable.commitAppend(shape(fresh))
    }
    // every docs commit's segment is exactly the rows it wrote
    docsTable.metric(docsTable.currentVersion, "segmentRows").map(_.toLong).getOrElse(0L)
  }

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

  /** Drop the docs table and the whole session dir (S9): the frontier, with
    * anything a crash left beside it, so a new session under this id over
    * the same workDir starts from its seeds.
    */
  def cleanup(): Unit = {
    docsTable.drop()
    val dir = java.nio.file.Paths.get(frontierTable.root).getParent
    if (java.nio.file.Files.exists(dir)) {
      val paths = java.nio.file.Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally paths.close()
    }
  }

  /** Expire dead snapshot storage for this session (the Iceberg
    * `expire_snapshots` analog — Z6 operability: compactions and crash
    * orphans otherwise accumulate segment dirs forever). Retains each
    * table's head and the frontier head's append log (the seen set, which
    * keeps segments a compaction replaced), so a resume after gc() is
    * unaffected; deletes the files of any publish a crash lost above a
    * head. Returns (segment dirs, tombstone dirs) deleted.
    */
  def gc(): (Int, Int) = {
    val fv = frontierTable.currentVersion
    if (fv < 0) return (0, 0)
    val (fS, fT) = frontierTable.expireBefore(fv, frontierTable.appendedOf(fv).toSet)
    val (dS, dT) = docsTable.expireBefore(docsTable.currentVersion)
    (fS + dS, fT + dT)
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

  /** The small-round gate. A seen set of at most this many rows, and so
    * the live frontier it holds, is kept on the driver (the session's
    * mirror): its round brings only the child candidates to the driver,
    * whose dedup, seen check and new entries are computed and written from
    * the driver, while the docs are written by a Spark task (in Default
    * mode the candidates' own task). Above it, a claim batch of at most
    * this many rows still writes ONE file per snapshot (repartition(1))
    * instead of shuffle-partition many near-empty ones (task-commit
    * overhead dominates small-round latency); larger rounds keep the
    * parallel multi-file write. It also bounds the robots table inlined as
    * a literal.
    */
  private[graft] val SmallWriteRows = 8192L

  /** Driver pool for the concurrent docs-table commit (guide §2.6 overlap
    * of independent jobs): 2 threads is plenty — one in-flight docs write
    * per round, and job descriptions/scheduling are thread-local. Its
    * threads inherit no thread locals, so no Spark local property of the
    * thread that happened to start one (a streaming batch's SQL execution
    * id, say) sticks to every docs write it later runs.
    */
  private[graft] lazy val docsCommitEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(null, r, "graft-docs-commit", 0L, false); t.setDaemon(true); t
      }))

  /** Bloom-route floor: below this seen-set size the plain exact anti-join
    * (SHJ-hinted, one small build) beats the bloom route's per-round
    * segment-bloom job + two-branch plan. Routing on the KNOWN seen count
    * — no extra job either way.
    */
  private[graft] val AutoBloomMinItems = 1048576L

  /** The driver's copy of frontier version `version`: its
    * live rows under the frontier's `schema`, and the seen set's
    * `(urlHash, url)` keys.
    */
  private final case class Mirror(version: Long, schema: StructType, live: Seq[Row],
      seen: Set[(Long, String)])

  /** The fused small Default round's one Spark action: the round plan
    * `rows` (planned once a session; [[CrawlSession.fusedRound]]) with its
    * leaf bound by `bind` to the round's pages, gathered into ONE partition
    * ([[PhysicalRows.collect]]). A row carries a document in its struct
    * column `_0` or a child candidate in `_1`. The single task writes every
    * document with `writer` into its one file, opened even when no
    * document comes, so the segment always has a schema footer, and
    * returns only the candidate rows, the file's name and its row count:
    * no page content reaches the driver. A plan the optimizer proves empty
    * runs no task, and the driver writes the empty file. Returns (file,
    * docs rows, candidates).
    */
  private[crawl] def fuseDocsAndCandidates(rows: PhysicalRows, bind: SparkPlan => SparkPlan,
      writer: SegmentWriter): (String, Long, Seq[Row]) = {
    val candType = rows.schema("_1").dataType.asInstanceOf[StructType]
    val (docFields, candFields) =
      (rows.schema("_0").dataType.asInstanceOf[StructType].length, candType.length)
    val results = rows.collect(bind) { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(candType)
      val cands = Array.newBuilder[Row]
      val file = writer.writeFile(out => rows.foreach { r =>
        if (r.isNullAt(0)) cands += toRow(r.getStruct(1, candFields)).asInstanceOf[Row]
        else out.write(r.getStruct(0, docFields))
      })
      Iterator((file, cands.result()))
    }
    val Seq((file, n)) = writer.filesOf(results.map(_._1))
    (file, n, results.flatMap(_._2).toSeq)
  }

  /** the seen-set key of a frontier or candidate row. */
  private[graft] def seenKey(r: Row): (Long, String) =
    (r.getAs[Long]("urlHash"), r.getAs[String]("url"))

  /** In-batch dedup of frontier candidates: one row per url. A round can
    * claim parents at mixed depths (politeness defers hot-host rows), so
    * the same child may arrive at different depths in one batch — keep the
    * minimum (canonical claim order processes shallower parents first, so
    * the oracle's first-occurrence rule is exactly min-depth). min over
    * (depth, parentUrl) AS A PAIR: aggregating them independently could
    * stitch the min depth to a parent from a deeper occurrence — a
    * provenance pair that never existed. Grouped on the seen anti-join's
    * key pair, so that join reuses this exchange's hash partitioning; host
    * is a function of url, so min(host) only carries it through.
    */
  private[graft] def dedup(candidates: DataFrame): DataFrame =
    candidates.groupBy("urlHash", "url")
      .agg(min("host").as("host"), min(struct(col("depth"), col("parentUrl"))).as("dp"))
      .select(col("url"), col("urlHash"), col("host"),
        col("dp.depth").as("depth"), col("dp.parentUrl").as("parentUrl"))

  /** [[dedup]] on the driver, over collected candidate rows: per
    * `(urlHash, url)`, the row with the least `(depth, parentUrl)`, compared
    * as Spark's `min(struct(...))` does — nulls first, `parentUrl` by its
    * UTF-8 bytes.
    */
  private[graft] def dedupRows(rows: Seq[Row]): Seq[Row] = {
    def nullsFirst[A](x: A, y: A)(cmp: (A, A) => Int): Int =
      if (x == null) (if (y == null) 0 else -1) else if (y == null) 1 else cmp(x, y)
    val depthParent: Ordering[Row] = (a, b) => {
      val d = nullsFirst(a.getAs[Any]("depth"), b.getAs[Any]("depth"))((x, y) =>
        Integer.compare(x.asInstanceOf[Int], y.asInstanceOf[Int]))
      if (d != 0) d
      else nullsFirst(a.getAs[String]("parentUrl"), b.getAs[String]("parentUrl"))((x, y) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
    }
    rows.groupBy(seenKey).values.map(_.min(depthParent)).toSeq
  }

  /** `(url, depth)` of claim rows in canonical crawl order
    * ([[Politeness.canonicalOrder]], Spark's `orderBy(depth, urlHash, url)`).
    */
  private[graft] def claimOrder(rows: Seq[org.apache.spark.sql.Row]): Seq[(String, Int)] =
    Politeness.canonicalOrder(rows).map(r => (r.getAs[String]("url"), r.getAs[Int]("depth")))

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

  /** a map literal from each of `keys` to the value at its position, of
    * Spark type `valueType`.
    */
  private def mapLiteral(keys: Seq[String], values: Seq[Any], valueType: DataType): Column = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
    val data = new ArrayBasedMapData(
      ArrayData.toArrayData(keys.map(UTF8String.fromString).toArray),
      ArrayData.toArrayData(values.map(convertToCatalyst).toArray))
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(data,
        MapType(StringType, valueType, valueContainsNull = true)))
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
