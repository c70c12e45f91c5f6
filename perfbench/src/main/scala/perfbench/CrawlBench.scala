package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.corpus.SyntheticCorpus
import graft.crawl.{CrawlSession, Oracle}
import graft.extract.Extractor
import graft.frontier.{Politeness, SeenSet, SnapshotTable}
import graft.model._
import graft.model.Extraction.SpanText

object CrawlBench {
  /** `crawl_rounds`: 48 seed URLs over 2,000 pages on 8 zipf hosts under a
    * host budget of 2, so every round claims 16 pages and the work per
    * round is the same whatever the seed; redirect, 404/500/304 and
    * sitemap pages are present. The rounds are bound by per-round fixed
    * cost, not by data.
    */
  val Pages = 2000L
  val Hosts = 8
  val Seeds = 48
  val HostBudget = 2
  val RedirectEvery = 53
  val ErrorEvery = 41
  /** the untimed cold start: `init` and the first rounds of the first
    * session, past the steepest part of the JIT warm-up.
    */
  val WarmupRounds = 10

  /** corpus of the operator replays in traced runs: data volume. */
  val ReplayPages = 50000L
  val ReplayHosts = 1000

  val Rules = Seq(ScrapingRule(
    urlPattern = ".*/page/.*",
    properties = Seq(
      PropertyRule("title", SpanText("title"), trimSpaces = true),
      PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true))))

  val Clock = new Timestamp(1700000000000L)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}

/** A crawl workload: `CrawlSession`s driven round by round through
  * `init`/`runRound`, each checked against `graft.crawl.Oracle`.
  */
final class CrawlWorkload(spark: SparkSession, a: Main.Args, spans: Spans)
    extends Workload {
  import CrawlBench._

  private val builder = SyntheticCorpus.Builder(n = Pages, seed = a.seed,
    hostCount = Hosts, redirectEvery = RedirectEvery, errorEvery = ErrorEvery)
  private val cdf = SyntheticCorpus.zipfCdf(Hosts, builder.zipfS)

  /** seed URLs: distinct doc indices drawn from the workload seed. */
  private val seedUrls: Seq[String] = {
    val r = new java.util.Random(SyntheticCorpus.mix64(a.seed ^ 0x5eedL))
    Iterator.continually(math.floorMod(r.nextLong(), Pages)).distinct
      .take(Seeds).toSeq.sorted
      .map(i => UrlOps.canonicalize(SyntheticCorpus.urlOf(i,
        SyntheticCorpus.hostOfDoc(i, a.seed, cdf))))
  }

  private val SessionId = "s"

  def config(maxAccess: Long): CrawlConfig = CrawlConfig(
    sessionId = SessionId, seeds = seedUrls, maxAccessCount = maxAccess,
    hostBudgetPerRound = HostBudget, robotsTxt = true, mode = WriteMode.Default,
    rules = Rules)

  private var corpus: DataFrame = _
  private var robots: DataFrame = _

  override def setup(): Unit = {
    if (corpus != null) { corpus.unpersist(true); robots.unpersist(true) }
    // the round loop scans the corpus every round — persisted once, as a
    // caller of CrawlSession would
    corpus = builder.corpus(spark).toDF().persist(StorageLevel.MEMORY_AND_DISK)
    robots = builder.robots(spark).toDF().persist()
    corpus.count(); robots.count()
  }

  // --- the open session ----------------------------------------------------

  private var units = 0
  private var dir: Path = _
  private var session: CrawlSession = _
  private var store: Option[StoreWatch] = None
  private var rounds = 0
  private var claimed = 0L
  private var threw = 0L

  def unitOpen: Boolean = session != null
  def unitOps: (Long, Long) = (rounds + threw, threw)

  private def open(traced: Boolean): Unit = {
    dir = a.work.resolve(s"session-$units")
    units += 1
    deleteTree(dir)
    session = new CrawlSession(spark, config(Long.MaxValue), corpus, robots,
      dir.toString, clock = () => Clock, recordOrder = false)
    store = if (traced) Some(new StoreWatch(spark, dir, SessionId)) else None
    rounds = 0; claimed = 0L; threw = 0L
    spans.span("crawl.init")(session.init())
    store.foreach(_.observe(spans))
  }

  /** one round; false when the session is complete (or a round threw). */
  private def round(): Boolean = {
    val r =
      try spans.span("crawl.round") {
        val r = session.runRound()
        r.foreach(x => spans.note("claimed", x.claimed.toDouble))
        r
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] round failed: $e")
          threw += 1; None
      }
    r.foreach { x =>
      rounds += 1
      claimed += x.claimed
      spans.note("items", x.claimed.toDouble)
      store.foreach(_.observe(spans))
    }
    r.isDefined
  }

  override def warmup(): Boolean = {
    open(traced = false)
    var k = 0
    while (k < WarmupRounds && round()) k += 1
    k < WarmupRounds
  }

  override def step(traced: Boolean): Boolean = {
    if (session == null) open(traced)
    !round()
  }

  // --- output check against the in-memory oracle ---------------------------

  /** pages produced on demand from the doc index in the URL, so the oracle
    * never holds the whole corpus.
    */
  private object OraclePages extends scala.collection.immutable.AbstractMap[String, PageDoc] {
    private val idx = "/(?:page|sitemap)/(\\d+)$".r.unanchored
    def get(url: String): Option[PageDoc] = url match {
      case idx(d) if d.toLong < Pages =>
        val p = SyntheticCorpus.page(d.toLong, Pages, a.seed, cdf,
          RedirectEvery, ErrorEvery)
        if (p.doc_id == url) Some(p) else None
      case _ => None
    }
    def iterator: Iterator[(String, PageDoc)] = Iterator.empty
    def removed(key: String): Map[String, PageDoc] = this
    def updated[V1 >: PageDoc](key: String, value: V1): Map[String, V1] =
      Map(key -> value)
  }

  private lazy val robotsMap: Map[String, Seq[String]] = robots.collect().map(r =>
    r.getString(r.fieldIndex("host")) ->
      r.getSeq[String](r.fieldIndex("disallow_prefixes"))).toMap

  /** the oracle crawl capped at the pages the engine claimed: a session cut
    * by the clock after k rounds has claimed exactly what the oracle's
    * first k rounds claim, and the cap stops the oracle there.
    */
  private val oracles = scala.collection.mutable.Map.empty[Long, OracleView]
  private def oracle(cap: Long): OracleView = oracles.getOrElseUpdate(cap, {
    val cfg = config(cap)
    val res = Oracle.crawl(OraclePages, robotsMap, cfg)
    // a claimed page stores a doc when it is a 200, not a redirect, not a
    // sitemap, and a rule matches it
    val docs = res.crawlOrder.map(_._1).filter { u =>
      OraclePages.get(u).exists(p => p.httpStatus == 200 &&
        !p.spans.exists(_.kind == "redirect")) &&
        !u.matches(cfg.sitemapPattern) && cfg.rules.exists(r => u.matches(r.urlPattern))
    }.toSet
    OracleView(res, docs, res.crawlOrder.groupBy(_._2).map { case (d, xs) => d -> xs.size.toLong })
  })

  override def finishUnit(): Check =
    try {
      if (threw > 0) Check.fail(s"$threw round(s) threw")
      else check()
    } finally {
      spans.note("disk_bytes", dirBytes(dir).toDouble)
      spans.note("items", claimed.toDouble)
      deleteTree(dir)
      session = null
    }

  private def check(): Check = {
    val o = oracle(claimed)
    val seen = session.seenTable.read().select("url").collect().map(_.getString(0))
    // every URL ever enqueued, with its depth: the frontier's segment
    // directories (delta and compacted segments alike)
    val enqueued = spark.read.parquet(
        dir.resolve(s"sessions/$SessionId/frontier/segments/*").toString)
      .groupBy("url").agg(min("depth").as("depth"), countDistinct("depth").as("nd"))
    val live = session.frontierTable.read().select("url")
    val claimedByDepth = enqueued.join(live, Seq("url"), "left_anti")
      .groupBy("depth").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    val oneDepth = enqueued.filter(col("nd") > 1).isEmpty
    val docUrls = session.docsTable.read().select("url").collect().map(_.getString(0))
    Check.all(Seq(
      s"rounds $rounds == oracle ${o.res.rounds}" -> (rounds == o.res.rounds),
      s"claimed $claimed == oracle ${o.res.processed}" -> (claimed == o.res.processed),
      s"seen set (${seen.length}) == oracle (${o.res.seen.size})" ->
        (seen.length == o.res.seen.size && seen.toSet == o.res.seen),
      s"docs url set (${docUrls.length}) == oracle (${o.docs.size})" ->
        (docUrls.toSet == o.docs),
      "one docs row per url" -> (docUrls.length == docUrls.toSet.size),
      "per-depth claimed counts == oracle" -> (claimedByDepth == o.byDepth),
      "one depth per enqueued url" -> oneDepth))
  }

  // --- operator replays at data volume (traced runs) ---------------------

  /** public frontier, extract and functions calls over a 50,000-page corpus
    * from the same seed, each into a noop sink: one untimed call for plan
    * and codegen caches, then three timed ones.
    */
  override def replays(): Unit = {
    val big = SyntheticCorpus.Builder(n = ReplayPages, seed = a.seed, hostCount = ReplayHosts)
      .corpus(spark).toDF().persist()
    val frontier = big.select(col("doc_id").as("url"))
      .withColumn("urlHash", UrlOps.urlHashCol(col("url")))
      .withColumn("host", UrlOps.hostCol(col("url")))
      .withColumn("depth", pmod(col("urlHash"), lit(8)).cast("int"))
      .withColumn("parentUrl", lit(null).cast("string"))
      .persist()
    val seen = frontier.filter(pmod(col("urlHash"), lit(2)) === 0)
      .select("urlHash", "url").persist()
    val links = big.select(explode(Extractor.spanRefs(col("spans"), "a")).as("raw"))
      .persist()
    val candidates = links.select(UrlOps.canonicalizeCol(col("raw")).as("url"))
      .withColumn("urlHash", UrlOps.urlHashCol(col("url")))
      .persist()
    val fetched = big.select(col("doc_id").as("url"),
        lit(null).cast("string").as("parentUrl"), lit(0).as("depth"),
        lit("GET").as("method"), lit("text/html").as("mimeType"),
        lit("UTF-8").as("charSet"),
        coalesce(col("httpStatus"), lit(200)).as("httpStatusCode"),
        lit(0L).as("contentLength"), lit(0L).as("executionTime"),
        col("lastModified"), col("spans"))
      .persist()
    val seenCount = seen.count()
    def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def replayOp(name: String, rowsIn: Long)(df: => DataFrame): Unit = {
      sink(df)
      (1 to 3).foreach(_ => spans.span(name) {
        sink(df)
        spans.note("rows", rowsIn.toDouble)
      })
    }
    replayOp("replay.frontier.claim", frontier.count())(
      Politeness.claim(frontier, HostBudget, Long.MaxValue))
    replayOp("replay.frontier.filter_new", candidates.count())(
      SeenSet.filterNew(candidates, seen, seenCount))
    replayOp("replay.extract.extract", fetched.count())(
      Extractor.extract(fetched, config(Long.MaxValue)))
    replayOp("replay.functions.url_canon", links.count())(
      links.select(UrlOps.canonicalizeCol(col("raw")).as("url"))
        .select(col("url"), UrlOps.urlHashCol(col("url")).as("h"),
          UrlOps.hostCol(col("url")).as("host")))
    Seq(big, frontier, seen, links, candidates, fetched).foreach(_.unpersist())
  }
}

/** an oracle crawl with the docs it stores and its claims per depth. */
final case class OracleView(res: Oracle.Result, docs: Set[String], byDepth: Map[Int, Long])

/** Per-round store facts found by listing a session's work dir and reading
  * table manifests: files and bytes new since the last listing, live
  * segment and tombstone dirs, and frontier compactions.
  */
final class StoreWatch(spark: SparkSession, dir: Path, sessionId: String) {
  private val tables = Seq(
    "frontier" -> s"sessions/$sessionId/frontier",
    "seen" -> s"sessions/$sessionId/seen",
    "docs" -> "docs")
  private var known = Set.empty[String]
  private var frontierVersion = -1L

  private def table(rel: String): Option[SnapshotTable] =
    if (!Files.exists(dir.resolve(rel).resolve("manifest.json"))) None
    else Some(new SnapshotTable(dir.resolve(rel).toString, spark))

  def observe(spans: Spans): Unit = spans.span("trace.store") {
    var newFiles = 0L
    val all = Set.newBuilder[String]
    tables.foreach { case (name, rel) =>
      val p = dir.resolve(rel)
      var bytes = 0L
      if (Files.exists(p)) {
        val st = Files.walk(p)
        try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
          val k = f.toString
          all += k
          if (!known.contains(k)) { newFiles += 1; bytes += Files.size(f) }
        } finally st.close()
      }
      spans.note(s"bytes_new.$name", bytes.toDouble)
    }
    known = all.result()
    spans.note("files_new", newFiles.toDouble)
    var segs = 0L
    var tombs = 0L
    tables.foreach { case (name, rel) =>
      table(rel).foreach { t =>
        val v = t.currentVersion
        val nT = t.tombstonesOf(v).size
        segs += t.segmentsOf(v).size
        tombs += nT
        // every round commits the frontier through commitDeltaTo: a delta
        // adds a tombstone dir, a compaction leaves none
        if (name == "frontier") {
          if (frontierVersion >= 0 && v > frontierVersion && nT == 0)
            spans.note("compaction", 1)
          frontierVersion = v
        }
      }
    }
    spans.note("live_segments", segs.toDouble)
    spans.note("live_tombstone_dirs", tombs.toDouble)
  }
}
