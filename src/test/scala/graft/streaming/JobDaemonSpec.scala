package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.model.{ConfigLoader, UrlOps, WriteMode}

class ConfigLoaderSpec extends AnyFunSuite {
  test("per-rule settings round-trip; html:false parses from bool or string") {
    val json =
      """{ "url": ["http://h/1"], "target": [
        |  { "pattern": { "url": ".*a.*" }, "settings": { "html": false },
        |    "properties": { "t": { "text": "title" } } },
        |  { "pattern": { "url": ".*b.*" }, "settings": { "html": "FALSE", "k": 2 },
        |    "properties": { "t": { "text": "title" } } },
        |  { "pattern": { "url": ".*c.*" },
        |    "properties": { "t": { "text": "title" } } } ] }""".stripMargin
    val cfg = ConfigLoader.fromJson(json, "s")
    assert(!cfg.rules(0).htmlParsed)           // JSON false
    assert(!cfg.rules(1).htmlParsed)           // string, case-insensitive
    assert(cfg.rules(1).settings("k") == "2")  // other settings keys kept
    assert(cfg.rules(2).htmlParsed)            // absent → reference default TRUE
  }

  test("trap_guard parses with an off default; trap_max_repeat floors at 1") {
    val d = ConfigLoader.fromJson("""{ "url": [] }""", "s")
    assert(!d.trapGuard && d.trapMaxRepeat == 2)
    val on = ConfigLoader.fromJson(
      """{ "url": [], "trap_guard": true, "trap_max_repeat": 0 }""", "s")
    assert(on.trapGuard && on.trapMaxRepeat == 1)
  }

  test("round_window_seconds parses with a floor of 1 and a 60s default") {
    assert(ConfigLoader.fromJson("""{ "url": [] }""", "s").roundWindowSeconds == 60L)
    assert(ConfigLoader.fromJson(
      """{ "url": [], "round_window_seconds": "120" }""", "s").roundWindowSeconds == 120L)
    assert(ConfigLoader.fromJson(
      """{ "url": [], "round_window_seconds": 0 }""", "s").roundWindowSeconds == 1L)
  }

  test("parses the reference config shape (S1/F12) with lenient coercion") {
    val json =
      """{ "index": "webindex", "url": ["http://h1.example.com/page/1"],
        |  "include_urls": [".*example.*"], "exclude_urls": [".*\\.png"],
        |  "max_depth": "3", "max_access_count": 50, "num_of_thread": 4,
        |  "interval": 500, "overwrite": "true", "robots_txt": false,
        |  "target": [ { "pattern": { "url": ".*/page/.*" },
        |    "properties": {
        |      "title": { "text": "title", "trim_spaces": true },
        |      "nav.menus": { "text": "nav-li", "is_array": true, "is_distinct": true },
        |      "img": { "attr": "img" },
        |      "label": { "value": "x" },
        |      "first_h2": { "text": "h2", "eq": 0 },
        |      "up": { "text": "h2", "script": { "name": "upper" } } } } ] }""".stripMargin
    val cfg = ConfigLoader.fromJson(json, "s1")
    assert(cfg.seeds == Seq("http://h1.example.com/page/1"))
    assert(cfg.maxDepth == 3) // string "3" coerced (F12)
    assert(cfg.maxAccessCount == 50)
    assert(cfg.mode == WriteMode.Overwrite) // string "true" coerced
    assert(!cfg.robotsTxt)
    assert(cfg.hostBudgetPerRound == 8) // 4 threads / 500ms = 8 per second-window
    val props = cfg.rules.head.properties.map(p => p.name -> p).toMap
    assert(props("title").trimSpaces)
    assert(props("nav.menus").isArray && props("nav.menus").isDistinct)
    assert(props("img").extraction == graft.model.Extraction.SpanRef("img", None))
    assert(props("label").extraction == graft.model.Extraction.Value(Seq("x")))
    assert(props("first_h2").extraction ==
      graft.model.Extraction.SpanText("h2", Some(graft.model.Positional.Eq(0))))
    assert(props("up").transform.contains(graft.model.NamedTransform.Upper))
  }

  test("parses multi-step query navigation (text/attr as a step array)") {
    val json =
      """{ "url": ["http://h/1"], "target": [ { "pattern": { "url": ".*" },
        |  "properties": {
        |    "secs": { "text": ["h2", "p"], "is_array": true },
        |    "refs": { "attr": ["h2", "img"], "eq": 0 } } } ] }""".stripMargin
    val props = ConfigLoader.fromJson(json, "s").rules.head.properties
      .map(p => p.name -> p).toMap
    assert(props("secs").extraction ==
      graft.model.Extraction.SpanPath("h2", "p", "text", None))
    assert(props("secs").isArray)
    assert(props("refs").extraction ==
      graft.model.Extraction.SpanPath("h2", "img", "media_ref",
        Some(graft.model.Positional.Eq(0))))
  }

  test("parses a custom-transform script ref (X1 escape hatch)") {
    val json =
      """{ "url": ["http://h/1"], "target": [ { "pattern": { "url": ".*" },
        |  "properties": {
        |    "flag": { "text": "p", "script": { "name": "custom", "ref": "es_flag" } } } } ] }"""
        .stripMargin
    val cfg = ConfigLoader.fromJson(json, "s")
    assert(cfg.rules.head.properties.head.transform
      .contains(graft.model.NamedTransform.Custom("es_flag")))
  }

  test("HTTP client surface round-trips (RiverWeb.java:268-383 keys) + sitemap_pattern") {
    val json =
      """{ "url": ["http://h/1"],
        |  "connection_timeout": 5000, "so_timeout": "7000",
        |  "user_agent": "GraftBot/1.0", "auto_redirect": false,
        |  "proxy": { "host": "proxy.local", "port": 3128 },
        |  "authentications": [
        |    { "scope": { "scheme": "basic", "host": "h1", "port": 8080, "realm": "r" },
        |      "credentials": { "username": "u", "password": "p" } },
        |    { "scope": { "scheme": "NTLM" },
        |      "credentials": { "username": "nu", "password": "np",
        |        "workstation": "ws", "domain": "dom" } },
        |    { "scope": { "scheme": "" },
        |      "credentials": { "username": "dropped" } } ],
        |  "headers": [ { "name": "X-Custom", "value": "v1" },
        |               { "name": "incomplete" } ],
        |  "web_driver_urls": [".*\\.js$"],
        |  "sitemap_pattern": ".*/robots-sitemap/.*" }""".stripMargin
    val cfg = ConfigLoader.fromJson(json, "http")
    val h = cfg.http
    assert(h.connectionTimeout.contains(5000))
    assert(h.soTimeout.contains(7000)) // lenient string coercion (F12)
    assert(h.userAgent.contains("GraftBot/1.0"))
    assert(h.autoRedirect.contains(false))
    assert(h.proxy.contains(graft.model.ProxySetting("proxy.local", 3128)))
    // blank-scheme entry dropped like the reference (RiverWeb.java:330-334)
    assert(h.authentications.map(_.scheme) == Seq("BASIC", "NTLM"))
    assert(h.authentications.head ==
      graft.model.AuthSetting("BASIC", "u", "p", "h1", 8080, "r"))
    assert(h.authentications(1).workstation == "ws" && h.authentications(1).domain == "dom")
    assert(h.requestHeaders == Seq(("X-Custom", "v1"))) // incomplete header dropped
    assert(h.webDriverUrls == Seq(".*\\.js$"))
    assert(cfg.sitemapPattern == ".*/robots-sitemap/.*")
    // unset keys stay None/empty (no phantom defaults)
    val bare = ConfigLoader.fromJson("""{ "url": [] }""", "bare").http
    assert(bare == graft.model.HttpSettings())
  }

  test("X2 script sources: inline, FILE, and INDEXED resolve to the same transform") {
    val dir = TestSpark.tmpDir("script-src")
    Files.writeString(Paths.get(s"$dir/up.json"), """{"name":"upper"}""")
    Files.writeString(Paths.get(s"$dir/index.json"),
      """{"shout":{"name":"upper"},"mask":{"name":"regex_replace","pattern":"\\d","replacement":"#"}}""")
    def cfgFor(script: String, extra: String = "") = ConfigLoader.fromJson(
      s"""{ "url": [], $extra
         |  "target": [ { "pattern": { "url": ".*" },
         |    "properties": { "t": { "text": "title", "script": $script } } } ] }""".stripMargin,
      "x2")
    val inline = cfgFor("""{ "name": "upper" }""")
    val file = cfgFor(s"""{ "script_type": "file", "script": "$dir/up.json" }""")
    val indexed = cfgFor("""{ "script_type": "indexed", "script": "shout" }""",
      extra = s""""script_index": "$dir/index.json",""")
    val indexedInline = cfgFor("""{ "script_type": "indexed", "script": "mask" }""",
      extra = """"script_index": {"mask":{"name":"regex_replace","pattern":"\\d","replacement":"#"}},""")
    def transformOf(c: graft.model.CrawlConfig) = c.rules.head.properties.head.transform
    assert(transformOf(inline).contains(graft.model.NamedTransform.Upper))
    assert(transformOf(file) == transformOf(inline))
    assert(transformOf(indexed) == transformOf(inline))
    assert(transformOf(indexedInline).contains(
      graft.model.NamedTransform.RegexReplace("\\d", "#")))
    // missing file / unknown key degrade to no transform, not a crash
    assert(transformOf(cfgFor(s"""{ "script_type": "file", "script": "$dir/absent.json" }""")).isEmpty)
    assert(transformOf(cfgFor("""{ "script_type": "indexed", "script": "nope" }""")).isEmpty)
  }
}

/** Z8 daemon: streaming job-queue claims each job exactly once (checkpointed
  * offsets = the reference's delete-on-claim, RiverWeb.java:183-195) and
  * runs a full crawl per job (RiverWeb.java:163-223).
  */
class JobDaemonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("daemon claims queued jobs exactly once and crawls each") {
    val b = SyntheticCorpus.Builder(n = 60, hostCount = 5)
    val corpus = b.corpus(spark).toDF()
    val robots = b.robots(spark).toDF()
    val base = TestSpark.tmpDir("daemon")
    val queueDir = s"$base/queue"; Files.createDirectories(Paths.get(queueDir))
    val cdf = SyntheticCorpus.zipfCdf(5, 1.1)
    def seedOf(i: Long) = UrlOps.canonicalize(
      SyntheticCorpus.urlOf(i, SyntheticCorpus.hostOfDoc(i, 42L, cdf)))
    def job(id: String, seedIdx: Long, budget: Int): String =
      s"""{"config_id":"$id","session_id":"$id","config_json":
         |"{\\"url\\":[\\"${seedOf(seedIdx)}\\"],\\"max_depth\\":1,
         |\\"max_access_count\\":$budget,\\"robots_txt\\":false,
         |\\"target\\":[{\\"pattern\\":{\\"url\\":\\".*/page/.*\\"},
         |\\"properties\\":{\\"title\\":{\\"text\\":\\"title\\"}}}]}"}"""
        .stripMargin.replace("\n", "")

    Files.writeString(Paths.get(s"$queueDir/j1.json"), job("jobA", 0L, 5))
    Files.writeString(Paths.get(s"$queueDir/j2.json"), job("jobB", 3L, 4))

    val daemon = new JobDaemon(spark, corpus, robots, s"$base/work", queueDir,
      s"$base/ckpt")
    val q = daemon.start(availableNow = true)
    q.awaitTermination(120000)
    assert(daemon.completed.map(_._1).sorted == Seq("jobA", "jobB"))
    assert(daemon.completed.forall(_._2 > 0))

    // exactly-once claim: restarting over the same checkpoint reprocesses nothing
    val daemon2 = new JobDaemon(spark, corpus, robots, s"$base/work", queueDir,
      s"$base/ckpt")
    val q2 = daemon2.start(availableNow = true)
    q2.awaitTermination(120000)
    assert(daemon2.completed.isEmpty)

    // a newly enqueued job is picked up by the next run
    Files.writeString(Paths.get(s"$queueDir/j3.json"), job("jobC", 7L, 3))
    val daemon3 = new JobDaemon(spark, corpus, robots, s"$base/work", queueDir,
      s"$base/ckpt")
    val q3 = daemon3.start(availableNow = true)
    q3.awaitTermination(120000)
    assert(daemon3.completed.map(_._1) == Seq("jobC"))
  }

  test("a second daemon job with the same session_id resumes the first's frontier (Z6×Z8)") {
    // the reference's --session-id resume driven through daemon claims
    // (RiverWeb.java:184-195, 238-240): job 1 exhausts a small access
    // budget mid-crawl; job 2 (same session, larger budget) must CONTINUE
    // from the checkpointed frontier, not restart from the seeds
    val b = SyntheticCorpus.Builder(n = 60, hostCount = 5)
    val corpus = b.corpus(spark).toDF()
    val robots = b.robots(spark).toDF()
    val base = TestSpark.tmpDir("daemon-resume")
    val queueDir = s"$base/queue"; Files.createDirectories(Paths.get(queueDir))
    val cdf = SyntheticCorpus.zipfCdf(5, 1.1)
    val seed = UrlOps.canonicalize(
      SyntheticCorpus.urlOf(0L, SyntheticCorpus.hostOfDoc(0L, 42L, cdf)))
    def job(id: String, budget: Int): String =
      s"""{"config_id":"$id","session_id":"sessR","config_json":
         |"{\\"url\\":[\\"$seed\\"],\\"max_depth\\":3,
         |\\"max_access_count\\":$budget,\\"robots_txt\\":false,
         |\\"target\\":[{\\"pattern\\":{\\"url\\":\\".*/page/.*\\"},
         |\\"properties\\":{\\"title\\":{\\"text\\":\\"title\\"}}}]}"}"""
        .stripMargin.replace("\n", "")

    // job 1: budget 6 → stops with the frontier non-empty
    Files.writeString(Paths.get(s"$queueDir/j1.json"), job("first", 6))
    val d1 = new JobDaemon(spark, corpus, robots, s"$base/work", queueDir, s"$base/ckpt")
    d1.start(availableNow = true).awaitTermination(120000)
    assert(d1.completed == Seq(("first", 6L)), s"got ${d1.completed}")

    // job 2: same session, budget 20 → resumes; claims only the REMAINING 14
    Files.writeString(Paths.get(s"$queueDir/j2.json"), job("second", 20))
    val d2 = new JobDaemon(spark, corpus, robots, s"$base/work", queueDir, s"$base/ckpt")
    d2.start(availableNow = true).awaitTermination(120000)
    assert(d2.completed.map(_._1) == Seq("second"))
    val claimed2 = d2.completed.head._2
    assert(claimed2 == 14L,
      s"resume must continue from processed=6 toward budget 20, claimed $claimed2")

    // frontier continuity: the resumed crawl's docs equal a single fresh
    // session run straight to budget 20
    val oneShotDir = TestSpark.tmpDir("daemon-resume-oneshot")
    val cfg = ConfigLoader.fromJson(
      s"""{ "url": ["$seed"], "max_depth": 3, "max_access_count": 20,
         |  "robots_txt": false,
         |  "target": [{ "pattern": { "url": ".*/page/.*" },
         |    "properties": { "title": { "text": "title" } } }] }""".stripMargin,
      "oneShot")
    val oneShot = new graft.crawl.CrawlSession(spark, cfg, corpus, robots, oneShotDir)
    oneShot.run()
    def urlSet(dir: String) = {
      val t = new graft.frontier.SnapshotTable(s"$dir/docs", spark, sequenced = true)
      t.read().select("url").collect().map(_.getString(0)).toSet
    }
    assert(urlSet(s"$base/work") == urlSet(oneShotDir),
      "daemon-resumed session must produce the same doc set as one uninterrupted run")
  }

  test("continuous daemon self-terminates after the wall-clock queue timeout (Z5)") {
    val b = SyntheticCorpus.Builder(n = 30, hostCount = 3)
    val base = TestSpark.tmpDir("daemon-idle")
    val queueDir = s"$base/queue"; Files.createDirectories(Paths.get(queueDir))
    val daemon = new JobDaemon(spark, b.corpus(spark).toDF(), b.robots(spark).toDF(),
      s"$base/work", queueDir, s"$base/ckpt", queueTimeoutMs = 2000L)
    val t0 = System.currentTimeMillis()
    val q = daemon.start(availableNow = false) // continuous mode, empty queue
    // the watchdog must stop the query on its own — the reference's
    // --queue-timeout exit (RiverWeb.java:171-172)
    assert(q.awaitTermination(60000), "daemon did not self-terminate")
    assert(System.currentTimeMillis() - t0 >= 2000L, "terminated before the timeout")
  }

  test("a job longer than the queue timeout is not interrupted as idle (Z5)") {
    // --queue-timeout counts POLL idleness, not job runtime: a crawl that
    // outlives queueTimeoutMs must run to completion (busy flag + per-job
    // lastActivity refresh), and the daemon then exits once truly idle
    val b = SyntheticCorpus.Builder(n = 120, hostCount = 5)
    val base = TestSpark.tmpDir("daemon-busy")
    val queueDir = s"$base/queue"; Files.createDirectories(Paths.get(queueDir))
    val cdf = SyntheticCorpus.zipfCdf(5, 1.1)
    val seed = UrlOps.canonicalize(
      SyntheticCorpus.urlOf(0L, SyntheticCorpus.hostOfDoc(0L, 42L, cdf)))
    // multi-round crawl: wall time comfortably exceeds the 300ms timeout
    Files.writeString(Paths.get(s"$queueDir/j1.json"),
      s"""{"config_id":"slow","session_id":"slow","config_json":
         |"{\\"url\\":[\\"$seed\\"],\\"max_depth\\":3,
         |\\"max_access_count\\":60,\\"robots_txt\\":false,
         |\\"target\\":[{\\"pattern\\":{\\"url\\":\\".*/page/.*\\"},
         |\\"properties\\":{\\"title\\":{\\"text\\":\\"title\\"}}}]}"}"""
        .stripMargin.replace("\n", ""))
    val daemon = new JobDaemon(spark, b.corpus(spark).toDF(), b.robots(spark).toDF(),
      s"$base/work", queueDir, s"$base/ckpt", queueTimeoutMs = 300L)
    val q = daemon.start(availableNow = false)
    assert(q.awaitTermination(120000), "daemon did not self-terminate")
    // the long job completed with a real claim count — it was not stopped
    // mid-crawl by the idle watchdog
    assert(daemon.completed.map(_._1) == Seq("slow"), s"got ${daemon.completed}")
    assert(daemon.completed.head._2 == 60L,
      s"job must run to its full budget, claimed ${daemon.completed.head._2}")
  }
}
