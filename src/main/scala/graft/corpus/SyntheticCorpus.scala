package graft.corpus

import java.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{PageDoc, RobotsRules, Span, UrlOps}

/** Deterministic seeded synthetic web corpus in the authoritative input
  * shape (BASELINE.json input_hint): an interleaved text+media documents
  * table `(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`.
  *
  * Page structure mirrors the reference's golden fixture
  * `src/test/resources/html/fess_codelibs_org.html` as asserted by
  * `ScrapingTransformerTest.java:26-33,43-47`: a title, a sidebar nav list,
  * and N `div.section` blocks each with one `h2` and several `p`/`ul li`
  * children. `a` spans carry outgoing links in `media_ref` (href analog);
  * `img` spans carry media refs; every `sitemap` page carries
  * `sitemap-loc` spans instead (crawler/rule+.xml:18-30 analog).
  *
  * Generation is distributed (`spark.range(n)`) and per-row seeded
  * (`Random(seed*1000003 + i)`), so the output is identical under any
  * partitioning / core count — required for the two-cluster-size bench.
  *
  * Host skew is zipf(s≈1.1) over `hostCount` hosts (BASELINE.md bench plan),
  * exercising the politeness window's group limit + AQE skew handling.
  */
object SyntheticCorpus {

  val GoldenUrl = "http://fess.codelibs.example/"

  private val Words = Array(
    "spark", "crawl", "frontier", "queue", "fetch", "parse", "index", "shard",
    "robot", "politeness", "bloom", "filter", "host", "depth", "page", "link",
    "anchor", "section", "title", "body", "nav", "menu", "search", "server",
    "open", "source", "data", "engine", "scale", "batch", "round", "snapshot")

  /** zipf(s) cumulative distribution over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf
  }

  /** splitmix64 finalizer — java.util.Random's seed scrambling leaves the
    * FIRST draw of sequential seeds heavily correlated (observed: 2000
    * sequentially-seeded rngs picked only 4 of 50 zipf hosts), so per-doc
    * seeds must be mixed before constructing the rng.
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rngFor(seed: Long, i: Long): Random = new Random(mix64(seed * 1000003L + i))

  def pickZipf(cdf: Array[Double], r: Random): Int = {
    val u = r.nextDouble()
    val idx = java.util.Arrays.binarySearch(cdf, u)
    val pos = if (idx >= 0) idx else -idx - 1
    math.min(pos, cdf.length - 1)
  }

  def hostName(rank: Int): String = s"h$rank.example.com"

  /** Sitemap pages (~1%, S6) live under /sitemap/ so the reference-style
    * `.*sitemap.*` url rule (crawler/rule+.xml:18-30) routes them.
    */
  def isSitemapDoc(docIdx: Long): Boolean = docIdx % 97 == 96

  def urlOf(docIdx: Long, host: String): String =
    if (isSitemapDoc(docIdx)) s"http://$host/sitemap/$docIdx"
    else s"http://$host/page/$docIdx"

  /** The host of doc `i` — derivable without generating the page (the host
    * draw is the first random use of the page's rng).
    */
  def hostOfDoc(i: Long, seed: Long, cdf: Array[Double]): String =
    hostName(pickZipf(cdf, rngFor(seed, i)))

  /** Is doc `i` an HTTP redirect page (opt-in via `redirectEvery`)?
    * Sitemap docs are never redirects (disjoint by construction).
    */
  def isRedirectDoc(i: Long, redirectEvery: Int): Boolean =
    redirectEvery > 0 && i % redirectEvery == redirectEvery - 1 && !isSitemapDoc(i)

  /** Redirect target of redirect doc `i`: a deterministic other doc
    * (possibly itself a redirect — chains and even cycles are legal; the
    * seen set terminates them).
    */
  def redirectTargetOf(i: Long, n: Long, seed: Long, cdf: Array[Double]): String = {
    val j = math.floorMod(i * 31 + 7, n)
    urlOf(j, hostOfDoc(j, seed, cdf))
  }

  /** Non-200 status of doc `i` (opt-in via `errorEvery`): cycles
    * 404 / 500 / 304 — the reference's status routing surface
    * (crawler/rule+.xml:36-41). Redirect docs carry 301 regardless.
    */
  def statusOf(i: Long, errorEvery: Int): Int =
    if (errorEvery > 0 && i % errorEvery == 0 && i > 0)
      Array(404, 500, 304)(((i / errorEvery) % 3).toInt)
    else 200

  /** Deterministic page for index `i` of an `n`-page corpus. */
  def page(i: Long, n: Long, seed: Long, cdf: Array[Double],
      redirectEvery: Int = 0, errorEvery: Int = 0): PageDoc = {
    val r = rngFor(seed, i)
    val hostRank = pickZipf(cdf, r)
    val host = hostName(hostRank)
    val url = urlOf(i, host)
    if (isRedirectDoc(i, redirectEvery))
      // HTTP redirect: one `redirect` span carrying the Location target;
      // no content (a 301 body is never parsed)
      return PageDoc(UrlOps.canonicalize(url), host, lastModifiedOf(i),
        Seq(Span("redirect", null, redirectTargetOf(i, n, seed, cdf), 0)),
        httpStatus = 301)
    val sb = Seq.newBuilder[Span]
    var off = 0
    def add(kind: String, text: String, ref: String): Unit = {
      sb += Span(kind, text, ref, off); off += 1
    }
    def words(k: Int): String =
      (0 until k).map(_ => Words(r.nextInt(Words.length))).mkString(" ")

    val isSitemap = isSitemapDoc(i)
    add("title", s"Page $i ${words(3)}", null)
    add("meta-description", words(8), null)
    if (isSitemap) {
      // sitemap page: only sitemap-loc spans, each a child URL (S6)
      val k = 5 + r.nextInt(6)
      (0 until k).foreach { t =>
        add("sitemap-loc", null, childUrl(i, t, n, seed, cdf, r, messy = false))
      }
    } else {
      val navN = 3 + r.nextInt(5)
      (0 until navN).foreach(t => add("nav-li", s"menu ${words(1)} $t", null))
      val sections = 2 + r.nextInt(3)
      (0 until sections).foreach { s =>
        add("h2", s"Section $s: ${words(2)}", null)
        val ps = 1 + r.nextInt(3)
        (0 until ps).foreach(_ => add("p", words(6 + r.nextInt(10)), null))
        val lis = r.nextInt(4)
        (0 until lis).foreach(_ => add("li", words(3), null))
      }
      if (r.nextInt(3) == 0) add("img", null, s"http://$host/img/${r.nextInt(1000)}.png")
      // outgoing links: messy variants (case, fragments, trailing slash,
      // :80 port) so canonicalize-hash-dedup (F13/J1) is actually exercised;
      // plus a deliberate self-link dup-variant (U2).
      val fanout = 4 + r.nextInt(5)
      (0 until fanout).foreach { t =>
        add("a", s"link ${words(1)}", childUrl(i, t, n, seed, cdf, r, messy = true))
      }
      add("a", "self", url + "/") // self dup-variant, must be dropped (U2)
    }
    PageDoc(UrlOps.canonicalize(url), host, lastModifiedOf(i), sb.result(),
      httpStatus = statusOf(i, errorEvery))
  }

  /** Deterministic outgoing link target: mostly same-host-cluster neighbors
    * plus cross-host jumps; optionally de-canonicalized ("messy").
    */
  private def childUrl(i: Long, t: Int, n: Long, seed: Long,
      cdf: Array[Double], r: Random, messy: Boolean): String = {
    val j = math.floorMod(i * 31 + t * 17 + 1 + r.nextInt(64), n)
    val host = hostOfDoc(j, seed, cdf)
    val base = urlOf(j, host)
    if (!messy) base
    else r.nextInt(4) match {
      case 0 => base + "#frag" + t
      case 1 => base.replace("http://", "HTTP://").replace(host, host.toUpperCase)
      case 2 => base.replace("://" + host, "://" + host + ":80")
      case _ => base + "/"
    }
  }

  /** The reference's golden fixture page re-expressed as spans: 27 sidebar
    * nav items, 4 sections; section1 = "What is Fess?" with 2 paragraphs,
    * section2 = "Features" with 12 list items
    * (fess_codelibs_org.html:170,175,191,208; ScrapingTransformerTest.java:26-33).
    */
  def goldenPage: PageDoc = {
    val sb = Seq.newBuilder[Span]
    var off = 0
    def add(kind: String, text: String, ref: String): Unit = {
      sb += Span(kind, text, ref, off); off += 1
    }
    add("title", "Open Source Enterprise Search Server: Fess", null)
    (1 to 27).foreach(t => add("nav-li", s"Menu $t", null))
    add("h2", "What is Fess?", null)
    add("p", "Fess is very powerful and easily deployable Enterprise Search Server.", null)
    add("p", "You can install and run Fess quickly on any platforms.", null)
    add("h2", "Features", null)
    (1 to 12).foreach(t => add("li", s"Feature $t", null))
    add("h2", "News", null)
    add("p", "Fess 9.1 released.", null)
    add("h2", "Download", null)
    add("p", "Download the latest Fess.", null)
    add("a", "docs", "http://fess.codelibs.example/docs/")
    PageDoc(UrlOps.canonicalize(GoldenUrl), "fess.codelibs.example",
      lastModifiedOf(-1), sb.result())
  }

  /** Deterministic per-doc lastModified (millis) for incremental tests. */
  def lastModifiedOf(i: Long): Long = 1700000000000L + (math.abs(i) % 10000L) * 1000L

  final case class Builder(
      n: Long,
      seed: Long = 42L,
      hostCount: Int = 200,
      zipfS: Double = 1.1,
      includeGolden: Boolean = false,
      // opt-in: every redirectEvery-th doc is an HTTP redirect (301 + a
      // `redirect` span); every errorEvery-th doc returns 404/500/304
      redirectEvery: Int = 0,
      errorEvery: Int = 0) {

    def corpus(spark: SparkSession): Dataset[PageDoc] = {
      import spark.implicits._
      val (nn, s, hc, zs, re, ee) = (n, seed, hostCount, zipfS, redirectEvery, errorEvery)
      val base = spark.range(nn).as[Long].mapPartitions { it =>
        val c = zipfCdf(hc, zs)
        it.map(i => page(i, nn, s, c, re, ee))
      }
      if (includeGolden) base.union(spark.createDataset(Seq(goldenPage))) else base
    }

    /** robots tables: every 5th host disallows /page/ paths ending in 7
      * plus /admin (Z2).
      */
    def robots(spark: SparkSession): Dataset[RobotsRules] = {
      import spark.implicits._
      spark.createDataset((0 until hostCount).map { rank =>
        val dis = if (rank % 5 == 0) Seq("/admin", "/page/7") else Seq("/admin")
        RobotsRules(hostName(rank), dis)
      })
    }
  }
}
