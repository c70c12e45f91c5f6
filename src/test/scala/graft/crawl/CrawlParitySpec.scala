package graft.crawl

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.model._
import graft.model.Extraction._

/** North-rule parity: identical crawl ordering and URL-seen membership vs
  * the in-memory oracle under the same seed list + politeness budget
  * (BASELINE.json north_rule; reference E2E tests RiverWebTest.java:17-108).
  */
class CrawlParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val builder = SyntheticCorpus.Builder(n = 400, hostCount = 25)
  lazy val corpusDs = builder.corpus(spark)
  lazy val corpusDf = corpusDs.toDF().withColumnRenamed("doc_id", "doc_id").persist()
  lazy val robotsDf = builder.robots(spark)
  lazy val pagesMap: Map[String, PageDoc] =
    corpusDs.collect().map(p => p.doc_id -> p).toMap
  lazy val robotsMap: Map[String, Seq[String]] =
    robotsDf.collect().map(r => r.host -> r.disallow_prefixes).toMap

  def seedUrls(idxs: Long*): Seq[String] = idxs.map { i =>
    UrlOps.canonicalize(SyntheticCorpus.urlOf(i,
      SyntheticCorpus.hostOfDoc(i, 42L, SyntheticCorpus.zipfCdf(25, 1.1))))
  }

  def baseConfig(id: String): CrawlConfig = CrawlConfig(
    sessionId = id,
    seeds = seedUrls(0L, 5L, 96L), // includes a sitemap seed (96 % 97 == 96)
    excludeUrls = Seq(".*\\.(txt|png|css)"), // RiverWebTest.java:89 analog
    maxDepth = 3,
    maxAccessCount = 150,
    hostBudgetPerRound = 3,
    rules = Seq(ScrapingRule(
      urlPattern = ".*/page/.*",
      properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true),
        PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true)))))

  def runEngine(cfg: CrawlConfig): (CrawlSession.CrawlResult, Set[String], CrawlSession) = {
    val dir = TestSpark.tmpDir(s"crawl-${cfg.sessionId}")
    val session = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val result = session.run()
    val seen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    (result, seen, session)
  }

  test("crawl order + seen membership match the oracle (north rule)") {
    val cfg = baseConfig("parity1")
    val (engine, engineSeen, session) = runEngine(cfg)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)

    assert(engine.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${engine.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(engineSeen == oracle.seen)
    assert(engine.totalClaimed == oracle.processed)
    assert(engine.totalClaimed <= cfg.maxAccessCount)
    session.cleanup()
  }

  test("parity holds with robots off, unlimited depth, small budget") {
    val cfg = baseConfig("parity2").copy(
      robotsTxt = false, maxDepth = -1, maxAccessCount = 60, hostBudgetPerRound = 2)
    val (engine, engineSeen, session) = runEngine(cfg)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engineSeen == oracle.seen)
    session.cleanup()
  }

  test("include filter restricts children (P1) with oracle parity") {
    val cfg = baseConfig("parity3").copy(
      includeUrls = Seq(".*h[0-3]\\.example\\.com.*"), maxAccessCount = 80)
    val (engine, engineSeen, session) = runEngine(cfg)
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(engine.crawlOrder == oracle.crawlOrder)
    assert(engineSeen == oracle.seen)
    // all non-seed seen urls obey the include filter
    val seeds = cfg.seeds.toSet
    (engineSeen -- seeds).foreach(u => assert(u.matches(".*h[0-3]\\.example\\.com.*")))
    session.cleanup()
  }

  test("a failed round releases every frame it cached") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    val broken = corpusDf.withColumn("lastModified",
      raise_error(lit("boom")).cast("timestamp"))
    val session = new CrawlSession(spark, baseConfig("failed-round"), broken,
      robotsDf.toDF(), TestSpark.tmpDir("crawl-failed-round"))
    session.init()
    corpusDf.count() // the shared corpus cache is not the round's
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](session.runRound())
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"round left cached RDDs $left")
    session.cleanup()
  }

  test("a steady-state round runs no schema-inference job and at most 18 Spark jobs") {
    val session = new CrawlSession(spark, baseConfig("round-jobs"), corpusDf,
      robotsDf.toDF(), TestSpark.tmpDir("crawl-round-jobs"))
    session.init()
    session.runRound(); session.runRound()
    val t = TestSpark.traced(session.runRound())
    assert(t.result.exists(_.claimed > 0), "round 3 still claims pages")
    def sqlExecution(j: org.apache.spark.scheduler.SparkListenerJobStart) =
      Option(j.properties).exists(_.getProperty("spark.sql.execution.id") != null)
    val inference = t.jobs.filter(j => !sqlExecution(j) &&
      j.stageInfos.exists(_.name.contains("FrontierStore.scala")))
    assert(inference.isEmpty,
      s"jobs outside any SQL execution: ${inference.flatMap(_.stageInfos.map(_.name))}")
    // measured: 18 jobs for this round on this corpus
    assert(t.jobs.size <= 18,
      s"${t.jobs.size} jobs: ${t.jobs.map(_.stageInfos.map(_.name).mkString("+"))}")
    session.cleanup()
  }

  test("a relative workDir crawls like an absolute one; gc() keeps the seen refs") {
    val cfg = baseConfig("relative")
    val abs = java.nio.file.Paths.get(TestSpark.tmpDir("crawl-relative"))
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs).toString
    assert(!rel.startsWith("/"))
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), rel)
    val result = s1.run()
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(result.crawlOrder == oracle.crawlOrder)
    def seenOf(s: CrawlSession) =
      s.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seenOf(s1) == oracle.seen)
    s1.gc()
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), rel)
    assert(s2.run().rounds.isEmpty, "completed crawl resumes as a no-op after gc")
    assert(seenOf(s2) == oracle.seen, "gc kept the frontier segments seen refers to")
    s2.cleanup()
  }

  test("crash between a round's two table commits: resume ignores orphan snapshots") {
    val cfg = baseConfig("crash")
    val dir = TestSpark.tmpDir("crawl-crash")
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    s1.init()
    val r1 = s1.runRound().get
    // simulate a crash AFTER the next round's frontier commit but BEFORE the
    // seen commit / checkpoint flip: orphan snapshots exist on both tables'
    // heads, the round checkpoint still points at round 1's versions
    import spark.implicits._
    s1.frontierTable.commitFull(Seq(("http://orphan/x", 1L, "orphan", 0, "p"))
      .toDF("url", "urlHash", "host", "depth", "parentUrl"), Map("round" -> "99"))
    s1.seenTable.commitAppend(Seq(("http://orphan/x", 1L)).toDF("url", "urlHash"))
    // resume: a fresh session over the same workDir must reproduce the
    // uninterrupted crawl exactly (orphans invisible)
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val rest = s2.run()
    val fullOrder = r1.claimOrder ++ rest.crawlOrder
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(fullOrder == oracle.crawlOrder)
    assert(!rest.crawlOrder.exists(_._1.contains("orphan")))
    s2.cleanup()
  }

  test("politeness budget: ≤ hostBudget claims per host per round (W2/Z1)") {
    val cfg = baseConfig("parity4").copy(hostBudgetPerRound = 2, maxAccessCount = 100)
    val dir = TestSpark.tmpDir("crawl-budget")
    val session = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val result = session.run()
    result.rounds.foreach { r =>
      val perHost = r.claimOrder.groupBy { case (u, _) => UrlOps.host(u) }
      perHost.foreach { case (h, claims) =>
        assert(claims.size <= 2, s"host $h over budget in round ${r.round}")
      }
    }
    session.cleanup()
  }

  test("robots Crawl-delay caps the per-host round quota below the budget (Z1/Z2)") {
    val hot = UrlOps.host(seedUrls(0L).head)
    val rules = robotsDf.collect().toSeq
    // 30s delay on the seed's (hottest) host → quota floor(60/30) = 2 < 3
    val withDelay = rules.filter(_.host != hot) :+ RobotsRules(hot,
      rules.find(_.host == hot).map(_.disallow_prefixes).getOrElse(Nil),
      Some(30L))
    val cfg = baseConfig("crawldelay").copy(hostBudgetPerRound = 3,
      maxAccessCount = 100)
    val dir = TestSpark.tmpDir("crawl-delay")
    import spark.implicits._
    val session = new CrawlSession(spark, cfg, corpusDf,
      withDelay.toDF(), dir)
    val result = session.run()
    var hotAtQuota = false
    result.rounds.foreach { r =>
      val perHost = r.claimOrder.groupBy { case (u, _) => UrlOps.host(u) }
      perHost.foreach { case (h, claims) =>
        val cap = if (h == hot) 2 else 3
        assert(claims.size <= cap, s"host $h over cap in round ${r.round}")
      }
      if (perHost.get(hot).exists(_.size == 2)) hotAtQuota = true
    }
    assert(hotAtQuota, "the delayed host never reached its reduced quota")
    session.cleanup()
  }

  test("parity holds at larger scale (2000-page corpus, deeper BFS, more skew)") {
    val bigBuilder = SyntheticCorpus.Builder(n = 2000, hostCount = 40)
    val bigCorpus = bigBuilder.corpus(spark)
    val bigPages = bigCorpus.collect().map(p => p.doc_id -> p).toMap
    val bigRobots = bigBuilder.robots(spark)
    val bigRobotsMap = bigRobots.collect().map(r => r.host -> r.disallow_prefixes).toMap
    val bigCdf = SyntheticCorpus.zipfCdf(40, 1.1)
    def bigSeed(i: Long) = UrlOps.canonicalize(
      SyntheticCorpus.urlOf(i, SyntheticCorpus.hostOfDoc(i, 42L, bigCdf)))
    val cfg = CrawlConfig(
      sessionId = "parity-big",
      seeds = Seq(bigSeed(0L), bigSeed(11L), bigSeed(500L)),
      maxDepth = 4, maxAccessCount = 250, hostBudgetPerRound = 4,
      rules = Seq(ScrapingRule(".*/page/.*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-big")
    val session = new CrawlSession(spark, cfg, bigCorpus.toDF(), bigRobots.toDF(), dir)
    val engine = session.run()
    val engineSeen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    val oracle = Oracle.crawl(bigPages, bigRobotsMap, cfg)
    assert(engine.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${engine.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(engineSeen == oracle.seen)
    assert(engine.totalClaimed == oracle.processed)
    session.cleanup()
  }

  test("resume from checkpoint: interrupted crawl equals uninterrupted (Z6)") {
    val cfg = baseConfig("resume")
    val dir = TestSpark.tmpDir("crawl-resume")
    // run 1: two rounds only, then "crash"
    val s1 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    s1.init()
    val r1 = s1.runRound().get
    val r2 = s1.runRound().get
    // run 2: fresh session object over the same workDir resumes from manifest
    val s2 = new CrawlSession(spark, cfg, corpusDf, robotsDf.toDF(), dir)
    val rest = s2.run()
    val fullOrder = Seq(r1, r2).flatMap(_.claimOrder) ++ rest.crawlOrder
    val oracle = Oracle.crawl(pagesMap, robotsMap, cfg)
    assert(fullOrder == oracle.crawlOrder)
    val seen = s2.seenTable.read().select("url").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen)
    s2.cleanup()
  }
}

/** RiverWebTest mode semantics: default duplicates accumulate (:220-273),
  * overwrite keeps 1 doc with a NEW @timestamp (:110-163), incremental keeps
  * 1 doc with the SAME @timestamp (:165-218).
  */
class WriteModeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val builder = SyntheticCorpus.Builder(n = 50, hostCount = 5)
  lazy val corpusDf = builder.corpus(spark).toDF().persist()
  lazy val robotsDf = builder.robots(spark).toDF()

  def cfg(id: String, mode: WriteMode): CrawlConfig = CrawlConfig(
    sessionId = id,
    seeds = Seq(UrlOps.canonicalize(SyntheticCorpus.urlOf(3L,
      SyntheticCorpus.hostOfDoc(3L, 42L, SyntheticCorpus.zipfCdf(5, 1.1))))),
    maxDepth = 0, // seed page only
    maxAccessCount = 10,
    mode = mode,
    rules = Seq(ScrapingRule(".*/page/.*",
      properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))

  def runTwice(mode: WriteMode): (Long, Seq[Timestamp]) = {
    val dir = TestSpark.tmpDir(s"mode-$mode")
    val t1 = new Timestamp(1700000001000L)
    val t2 = new Timestamp(1700000002000L)
    val s1 = new CrawlSession(spark, cfg(s"$mode-run1", mode), corpusDf, robotsDf, dir, () => t1)
    s1.run()
    val s2 = new CrawlSession(spark, cfg(s"$mode-run2", mode), corpusDf, robotsDf, dir, () => t2)
    s2.run()
    val docs = s2.docsTable.read()
    val n = docs.count()
    val stamps = docs.select("@timestamp").collect().map(_.getTimestamp(0)).toSeq
    s2.docsTable.drop()
    (n, stamps)
  }

  test("default mode: duplicates accumulate") {
    val (n, _) = runTwice(WriteMode.Default)
    assert(n == 2)
  }

  test("overwrite mode: one doc, new @timestamp (J3)") {
    val (n, stamps) = runTwice(WriteMode.Overwrite)
    assert(n == 1)
    assert(stamps.head == new Timestamp(1700000002000L))
  }

  test("incremental mode: one doc, original @timestamp (J2)") {
    val (n, stamps) = runTwice(WriteMode.Incremental)
    assert(n == 1)
    assert(stamps.head == new Timestamp(1700000001000L))
  }

  test("lifecycle hooks fire around the crawl with session and result (X3)") {
    val dir = TestSpark.tmpDir("mode-hooks")
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    var finishTotal = -1L
    val hooks = CrawlHooks(
      onExecute = s => { calls += s"execute:${s.docsTable.isEmpty}" },
      onFinish = (_, res) => { calls += "finish"; finishTotal = res.totalClaimed })
    val s = new CrawlSession(spark, cfg("hooks", WriteMode.Default), corpusDf,
      robotsDf, dir, () => new Timestamp(1700000001000L), hooks = hooks)
    val res = s.run()
    // execute fires BEFORE init (docs table still empty), finish after the
    // loop with the final result — the reference's execute/finish scripts
    // (RiverWeb.java:248-256,473-479)
    assert(calls.toSeq == Seq("execute:true", "finish"))
    assert(finishTotal == res.totalClaimed && finishTotal > 0)
    s.cleanup()
  }

  test("gc() expires dead storage; a resumed session is unaffected (Z6)") {
    val dir = TestSpark.tmpDir("mode-gc")
    val s1 = new CrawlSession(spark, cfg("gc-1", WriteMode.Default), corpusDf,
      robotsDf, dir, () => new Timestamp(1700000001000L))
    s1.run()
    val docsBefore = s1.docsTable.read().count()
    val seenBefore = s1.seenTable.read().count()
    s1.gc() // retains checkpoint..head incl. the seen table's frontier refs
    val s2 = new CrawlSession(spark, cfg("gc-1", WriteMode.Default), corpusDf,
      robotsDf, dir, () => new Timestamp(1700000002000L))
    val resumed = s2.run()
    assert(resumed.rounds.isEmpty, "completed crawl resumes as a no-op after gc")
    assert(s2.docsTable.read().count() == docsBefore)
    assert(s2.seenTable.read().count() == seenBefore)
    s2.docsTable.drop()
  }

  test("overwrite mode commits O(batch) deltas, not O(history) rewrites") {
    val dir = TestSpark.tmpDir("mode-ow-delta")
    val t1 = new Timestamp(1700000001000L)
    val t2 = new Timestamp(1700000002000L)
    val s1 = new CrawlSession(spark, cfg("ow-d1", WriteMode.Overwrite), corpusDf, robotsDf, dir, () => t1)
    s1.run()
    val s2 = new CrawlSession(spark, cfg("ow-d2", WriteMode.Overwrite), corpusDf, robotsDf, dir, () => t2)
    s2.run()
    val docs = s2.docsTable
    // the second run's merge appended a segment + url tombstones — the
    // first run's segment is still live (delta, not copy-on-write)
    assert(docs.segmentsOf(docs.currentVersion).size == 2)
    assert(docs.tombstonesOf(docs.currentVersion).nonEmpty)
    assert(docs.rowsOf(docs.currentVersion) == 1, "exact live accounting")
    val read = docs.read().collect()
    assert(read.length == 1)
    assert(!docs.read().columns.contains("__seq"))
    s2.docsTable.drop()
  }

  test("docsAsJson serializes one JSON object per document, nulls omitted (F14)") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("mode-f14")
    val s = new CrawlSession(spark, cfg("f14", WriteMode.Default), corpusDf, robotsDf, dir)
    s.docsTable.commitAppend(Seq(
      ("http://h/1", "t1", 42L),
      ("http://h/2", null: String, 7L)).toDF("url", "title", "n"))
    val got = s.docsAsJson().collect().map(_.getString(0)).toSet
    // field order = column order; null title omitted — the reference's
    // sparse jsonBuilder().value(dataMap) payload shape
    assert(got == Set(
      """{"url":"http://h/1","title":"t1","n":42}""",
      """{"url":"http://h/2","n":7}"""))
    s.cleanup()
  }
}

/** HTTP redirect remap + non-200 status flow (reference `auto_redirect`,
  * RiverWeb.java:302-303; status routing crawler/rule+.xml:36-41): redirect
  * targets are enqueued at the SOURCE's depth, non-200 pages store nothing
  * and emit nothing, and oracle parity holds on a corpus mixing both.
  */
class RedirectStatusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // redirect/status-bearing corpus: every 10th doc is a 301, every 7th a
  // 404/500/304 (sitemap docs can carry errors too — the gate covers S6)
  val builder = SyntheticCorpus.Builder(n = 400, hostCount = 25,
    redirectEvery = 10, errorEvery = 7)
  lazy val corpusDf = builder.corpus(spark).toDF().persist()
  lazy val pagesMap: Map[String, PageDoc] =
    builder.corpus(spark).collect().map(p => p.doc_id -> p).toMap
  lazy val robotsDf = builder.robots(spark)
  lazy val robotsMap: Map[String, Seq[String]] =
    robotsDf.collect().map(r => r.host -> r.disallow_prefixes).toMap

  def seedUrls(idxs: Long*): Seq[String] = idxs.map { i =>
    UrlOps.canonicalize(SyntheticCorpus.urlOf(i,
      SyntheticCorpus.hostOfDoc(i, 42L, SyntheticCorpus.zipfCdf(25, 1.1))))
  }

  def cfg(id: String, follow: Option[Boolean] = None): CrawlConfig = CrawlConfig(
    sessionId = id,
    seeds = seedUrls(0L, 5L, 96L),
    maxDepth = 3,
    maxAccessCount = 150,
    hostBudgetPerRound = 3,
    http = HttpSettings(autoRedirect = follow),
    rules = Seq(ScrapingRule(
      urlPattern = ".*/page/.*",
      properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))

  def runEngine(c: CrawlConfig): (CrawlSession.CrawlResult, Set[String], CrawlSession) = {
    val dir = TestSpark.tmpDir(s"crawl-${c.sessionId}")
    val session = new CrawlSession(spark, c, corpusDf, robotsDf.toDF(), dir)
    val result = session.run()
    val seen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    (result, seen, session)
  }

  test("oracle parity on a redirect+error corpus (auto_redirect default on)") {
    val c = cfg("redir-parity")
    val (engine, engineSeen, session) = runEngine(c)
    val oracle = Oracle.crawl(pagesMap, robotsMap, c)
    assert(engine.crawlOrder == oracle.crawlOrder,
      s"order diverged at ${engine.crawlOrder.zip(oracle.crawlOrder).indexWhere(p => p._1 != p._2)}")
    assert(engineSeen == oracle.seen)
    assert(engine.totalClaimed == oracle.processed)
    // the corpus actually exercised both branches: some claimed url is a
    // redirect, some claimed url is non-200
    val claimed = engine.crawlOrder.map(_._1).toSet
    assert(claimed.exists(u => pagesMap.get(u).exists(_.httpStatus == 301)))
    assert(claimed.exists(u => pagesMap.get(u).exists(p =>
      p.httpStatus != 200 && p.httpStatus != 301)))
    // no document stored for any non-200 page
    val docUrls = session.docsTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    docUrls.foreach(u => assert(pagesMap(u).httpStatus == 200, s"stored non-200 $u"))
    session.cleanup()
  }

  test("oracle parity with auto_redirect=false (redirects are dead ends)") {
    val cOn = cfg("redir-on2", follow = Some(true))
    val cOff = cfg("redir-off", follow = Some(false))
    val (_, seenOff, sOff) = runEngine(cOff)
    val oracleOff = Oracle.crawl(pagesMap, robotsMap, cOff)
    assert(seenOff == oracleOff.seen)
    // following redirects reaches strictly more than not following
    val oracleOn = Oracle.crawl(pagesMap, robotsMap, cOn)
    assert(oracleOff.seen.size < oracleOn.seen.size)
    sOff.cleanup()
  }

  test("redirect target inherits the SOURCE's depth (a +1 would be dropped at maxDepth)") {
    import graft.model.Span
    def pd(i: Int, spans: Seq[Span], status: Int = 200) =
      PageDoc(s"http://s.example.com/page/$i", "s.example.com", 1L, spans, status)
    val pages = Seq(
      pd(0, Seq(Span("title", "s", null, 0),
        Span("a", "x", "http://s.example.com/page/1", 1),
        Span("a", "y", "http://s.example.com/page/2", 2))),
      pd(1, Seq(Span("redirect", null, "http://s.example.com/page/3", 0)), 301),
      pd(2, Seq(Span("title", "c", null, 0),
        Span("a", "z", "http://s.example.com/page/4", 1))),
      pd(3, Seq(Span("title", "b", null, 0))),
      pd(4, Seq(Span("title", "d", null, 0))))
    import spark.implicits._
    val corpus = spark.createDataset(pages).toDF()
    val robots = spark.emptyDataset[RobotsRules].toDF()
    val c = CrawlConfig(
      sessionId = "redir-depth",
      seeds = Seq("http://s.example.com/page/0"),
      maxDepth = 1, maxAccessCount = 100, hostBudgetPerRound = 100,
      rules = Seq(ScrapingRule(".*",
        properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-redir-depth")
    val session = new CrawlSession(spark, c, corpus, robots, dir)
    session.run()
    val docUrls = session.docsTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    def u(i: Int) = s"http://s.example.com/page/$i"
    // page/3 reached THROUGH the depth-1 redirect at depth 1 → stored;
    // page/4 (normal child of depth-1 page/2, depth 2) → dropped;
    // page/1 is the redirect itself → never stored
    assert(docUrls == Set(u(0), u(2), u(3)), docUrls.toString)
    val seen = session.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    assert(seen == Set(u(0), u(1), u(2), u(3)), seen.toString)
    // oracle agrees on the hand-built corpus too
    val oracle = Oracle.crawl(pages.map(p => p.doc_id -> p).toMap, Map.empty, c)
    assert(seen == oracle.seen)
    session.cleanup()
  }

  test("trap guard drops looping paths at enqueue, with oracle parity both ways") {
    import graft.model.Span
    def pd(url: String, children: Seq[String]) =
      PageDoc(url, "s.example.com", 1L,
        Span("title", "t", null, 0) +:
          children.zipWithIndex.map { case (c, i) => Span("a", "l", c, i + 1) })
    def loop(n: Int, tail: String) =
      s"http://s.example.com/${Seq.fill(n)("loop").mkString("/")}/$tail"
    val pages = Seq(
      pd("http://s.example.com/page/0", Seq(loop(3, "p1"),
        "http://s.example.com/page/2")),
      pd(loop(3, "p1"), Seq(loop(4, "p2"))),
      pd(loop(4, "p2"), Seq.empty),
      pd("http://s.example.com/page/2", Seq.empty))
    import spark.implicits._
    val corpus = spark.createDataset(pages).toDF()
    val robots = spark.emptyDataset[RobotsRules].toDF()
    def c(id: String, guard: Boolean) = CrawlConfig(
      sessionId = id, seeds = Seq("http://s.example.com/page/0"),
      maxDepth = -1, maxAccessCount = 100, hostBudgetPerRound = 100,
      trapGuard = guard,
      rules = Seq(ScrapingRule(".*",
        properties = Seq(PropertyRule("title", SpanText("title"),
          trimSpaces = true)))))
    val pagesM = pages.map(p => p.doc_id -> p).toMap

    val cOn = c("trap-on", guard = true)
    val dirOn = TestSpark.tmpDir("crawl-trap-on")
    val sOn = new CrawlSession(spark, cOn, corpus, robots, dirOn)
    val rOn = sOn.run()
    val seenOn = sOn.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    val oOn = Oracle.crawl(pagesM, Map.empty, cOn)
    assert(rOn.crawlOrder == oOn.crawlOrder)
    assert(seenOn == oOn.seen)
    assert(seenOn == Set("http://s.example.com/page/0",
      "http://s.example.com/page/2"), seenOn.toString)
    sOn.cleanup()

    val cOff = c("trap-off", guard = false)
    val dirOff = TestSpark.tmpDir("crawl-trap-off")
    val sOff = new CrawlSession(spark, cOff, corpus, robots, dirOff)
    val rOff = sOff.run()
    val seenOff = sOff.seenTable.read().select("url")
      .collect().map(_.getString(0)).toSet
    val oOff = Oracle.crawl(pagesM, Map.empty, cOff)
    assert(rOff.crawlOrder == oOff.crawlOrder)
    assert(seenOff == oOff.seen)
    // without the guard the crawl walks straight into the loop
    assert(seenOff.contains(loop(3, "p1")) && seenOff.contains(loop(4, "p2")))
    sOff.cleanup()
  }

  test("304 re-crawl takes the incremental-skip route (no re-store, J2)") {
    import graft.model.Span
    def corpusOf(status: Int, lastMod: Long) = {
      import spark.implicits._
      spark.createDataset(Seq(PageDoc("http://s.example.com/page/0",
        "s.example.com", lastMod, Seq(Span("title", "t", null, 0)), status))).toDF()
    }
    import spark.implicits._
    val robots = spark.emptyDataset[RobotsRules].toDF()
    def c(id: String) = CrawlConfig(
      sessionId = id, seeds = Seq("http://s.example.com/page/0"),
      maxDepth = 0, maxAccessCount = 10, mode = WriteMode.Incremental,
      rules = Seq(ScrapingRule(".*",
        properties = Seq(PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val t1 = new Timestamp(1700000001000L)
    val t2 = new Timestamp(1700000002000L)
    // run 1: 200 → stored. run 2: server answers 304 with a NEWER
    // lastModified — the status gate must skip it BEFORE the lastModified
    // comparison would have re-indexed it
    val dir = TestSpark.tmpDir("crawl-304")
    new CrawlSession(spark, c("r304-1"), corpusOf(200, 100L), robots, dir, () => t1).run()
    val s2 = new CrawlSession(spark, c("r304-2"), corpusOf(304, 200L), robots, dir, () => t2)
    s2.run()
    val rows = s2.docsTable.read().select("url", "@timestamp").collect()
    assert(rows.length == 1 && rows(0).getTimestamp(1) == t1, rows.mkString(","))
    s2.docsTable.drop()
    // control: the same newer lastModified with a 200 DOES re-index
    val dir2 = TestSpark.tmpDir("crawl-304c")
    new CrawlSession(spark, c("r200-1"), corpusOf(200, 100L), robots, dir2, () => t1).run()
    val s4 = new CrawlSession(spark, c("r200-2"), corpusOf(200, 200L), robots, dir2, () => t2)
    s4.run()
    assert(s4.docsTable.read().count() == 2)
    s4.docsTable.drop()
  }
}

/** Crawl → index → search integration: the reference's end-to-end story is
  * crawl pages into a SEARCHABLE index (RiverWeb.java:183-195 writes docs to
  * Elasticsearch precisely so term queries run over them). Here the crawl's
  * doc table feeds SearchOps directly, and the per-round incremental path
  * (index the delta, merge) is proven equal to indexing the whole store.
  */
class CrawlSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("crawled docs are searchable; per-round delta merge equals whole-store index") {
    import org.apache.spark.sql.functions._
    import graft.ops.SearchOps
    val builder = SyntheticCorpus.Builder(n = 300, hostCount = 15)
    val cdf = SyntheticCorpus.zipfCdf(15, 1.1)
    val seed = UrlOps.canonicalize(SyntheticCorpus.urlOf(0L,
      SyntheticCorpus.hostOfDoc(0L, 42L, cdf)))
    val cfg = CrawlConfig(
      sessionId = "crawlsearch", seeds = Seq(seed),
      maxDepth = 3, maxAccessCount = 60, hostBudgetPerRound = 3,
      rules = Seq(ScrapingRule(".*/page/.*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true)))))
    val dir = TestSpark.tmpDir("crawl-search")
    val session = new CrawlSession(spark, cfg, builder.corpus(spark).toDF(),
      builder.robots(spark).toDF(), dir)
    session.run()
    val docs = session.docsTable.read()
      .filter(col("title").isNotNull)
      .select(col("url"), col("title"))
    assert(docs.count() > 10)

    // a term drawn from a real crawled title must retrieve a doc whose
    // title contains it, with the crawl's url as the result id
    val someTitle = docs.select("title").head().getString(0)
    val term = someTitle.toLowerCase.split("\\s+").filter(_.nonEmpty).head
    val top = SearchOps.searchTopK(docs, Seq(term), k = 5,
      idCol = "url", textCol = "title")
    val hits = top.collect()
    assert(hits.nonEmpty)
    val hitUrls = hits.map(_.getString(0)).toSet
    val titles = docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    hitUrls.foreach(u =>
      assert(titles(u).toLowerCase.split("\\s+").contains(term)))

    // incremental path: index one "round half" + merge the delta ≡ whole
    val a = docs.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val b = docs.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val merged = SearchOps.mergeIndex(
      SearchOps.index(a, "url", "title"), SearchOps.index(b, "url", "title"))
    val q = {
      import spark.implicits._
      Seq(("q", term)).toDF("query_id", "term")
    }
    val viaMerged = SearchOps.searchAllTopK(merged, q, k = 5)
      .select("url", "score_ticks", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val direct = SearchOps.searchTopK(docs, Seq(term), k = 5,
      idCol = "url", textCol = "title")
      .select("url", "score_ticks", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaMerged == direct)
  }
}
