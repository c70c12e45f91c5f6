package graft.model

/** Core data model for the Spark-native crawl engine.
  *
  * Shapes derive from the reference's dynamic record model
  * (ScrapingTransformer.java:214,533-547 — LinkedHashMap documents;
  * RiverWeb.java:392-398 — ES-backed frontier) re-expressed as typed
  * Spark Datasets per BASELINE.json input_hint:
  * documents(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>).
  */

/** One extraction unit of a parsed page — the columnar analog of a jsoup
  * DOM node (reference: Element.text()/attr() extraction,
  * ScrapingTransformer.java:395-427). `offset` is dense document order.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One fetched+parsed page. doc_id is the canonical URL.
  *
  * `httpStatus` models the response status the synthetic fetch join
  * returns for this page (the reference sees it on ResponseData,
  * RwCrawlerThread.java:24-49): 200 = normal; 304 routes the
  * incremental-skip path (crawler/rule+.xml:39-40 — no re-store, no
  * children); 4xx/5xx store nothing and emit nothing. A corpus DataFrame
  * WITHOUT this column is treated as all-200 (backward compatible).
  * Pages whose spans contain a `redirect` span are HTTP redirects — see
  * [[graft.crawl.CrawlSession]]'s redirect remap.
  */
final case class PageDoc(doc_id: String, host: String, lastModified: Long,
    spans: Seq[Span], httpStatus: Int = 200)

/** Frontier entry — the rebuild of fess-crawler's ES UrlQueue record
  * (RiverWeb.java:392-398,484). Canonical crawl order is
  * (depth asc, urlHash asc, url asc): deterministic, shuffle-free to
  * compute, and shared with the in-memory Oracle (SURVEY.md §7.5.1).
  */
final case class FrontierEntry(
    url: String,
    urlHash: Long,
    host: String,
    depth: Int,
    parentUrl: String)

/** Synthetic fetch result — ResponseData bean analog
  * (ScrapingTransformer.java:91-92, RwCrawlerThread.java:40).
  */
final case class FetchResult(
    url: String,
    parentUrl: String,
    method: String,
    mimeType: String,
    charSet: String,
    httpStatusCode: Int,
    contentLength: Long,
    executionTime: Long,
    lastModified: Long,
    spans: Seq[Span])

/** robots.txt rules per host (Z2; RiverWeb.java:297-299). `crawl_delay_s`
  * is the robots Crawl-delay directive: converted to a per-round fetch
  * quota (min with the config budget) at claim time — see
  * [[graft.frontier.Politeness.claimWithHostBudgets]]; a delay of 0 or
  * less sets no quota.
  */
final case class RobotsRules(host: String, disallow_prefixes: Seq[String],
    crawl_delay_s: Option[Long] = None)

// ---------------------------------------------------------------------------
// Crawl config — the "river" JSON (README.md:90-141) as an ADT.
// ---------------------------------------------------------------------------

/** How a property value is produced (ScrapingTransformer.java:222-263). */
sealed trait Extraction
object Extraction {
  /** CSS-query analog: select spans of `kind`, optionally positional
    * (`:eq/:lt/:gt`, ScrapingTransformer.java:467-499), take text.
    */
  final case class SpanText(kind: String, positional: Option[Positional] = None) extends Extraction
  /** attr()/absUrl analog: the media_ref field of matching spans
    * (ScrapingTransformer.java:412-418,429-440).
    */
  final case class SpanRef(kind: String, positional: Option[Positional] = None) extends Extraction
  /** Multi-step CSS query navigation, span-model analog
    * (ScrapingTransformer.java:442-463 `getElements(elements, queries,
    * isArrayProperty)`): step 1 selects the spans of `parentKind`; each
    * defines a REGION running to the next parentKind span (document
    * order, the columnar stand-in for jsoup subtree scoping); step 2
    * selects `childKind` spans INSIDE each region, optionally positional
    * per region (the reference applies :eq/:lt/:gt within each step).
    * Results flatten in document order; an empty region contributes a
    * NULL placeholder when the property is an array — the reference's
    * position-alignment quirk (`:446-452`), reproduced exactly. `field`
    * picks text vs media_ref like SpanText/SpanRef.
    */
  final case class SpanPath(parentKind: String, childKind: String,
      field: String = "text", positional: Option[Positional] = None) extends Extraction
  /** Literal value property (ScrapingTransformer.java:232-243). */
  final case class Value(values: Seq[String]) extends Extraction
  /** Whole raw page text (ScrapingTransformer.java:255-260). */
  case object Source extends Extraction
  /** base64 attachment data, size-gated (ScrapingTransformer.java:244-254). */
  final case class Base64Data(maxFileSize: Long = 1000000L) extends Extraction
}

/** :eq(n) / :lt(n) / :gt(n) positional pseudo-selectors
  * (ScrapingTransformer.java:480-491). 0-based n, like jsoup.
  */
sealed trait Positional
object Positional {
  final case class Eq(n: Int) extends Positional
  final case class Lt(n: Int) extends Positional
  final case class Gt(n: Int) extends Positional
}

/** Whitelisted pure value-rewrite transforms replacing the reference's
  * arbitrary JSR-223 scripts (X1, ScrapingTransformer.java:266-299).
  * Each is a named, deterministic String => String.
  */
sealed trait NamedTransform
object NamedTransform {
  final case class RegexExtract(pattern: String, group: Int) extends NamedTransform
  final case class RegexReplace(pattern: String, replacement: String) extends NamedTransform
  final case class Prepend(prefix: String) extends NamedTransform
  final case class Append(suffix: String) extends NamedTransform
  case object Lower extends NamedTransform
  case object Upper extends NamedTransform
  /** contains→flag rewrite: value becomes "true"/"false". */
  final case class ContainsFlag(needle: String) extends NamedTransform
  /** Escape hatch for reference configs whose JSR-223 property script has
    * no whitelisted equivalent (ScrapingTransformer.java:266-299): `ref`
    * names a caller-registered `Column => Column` in
    * [[graft.extract.TransformRegistry]]. The config file stays
    * declarative (it carries only the name); the transform itself is
    * plan-time Catalyst expression construction — still codegen'd, never
    * a per-row script engine.
    */
  final case class Custom(ref: String) extends NamedTransform
}

/** One property rule (README.md:396-472; ScrapingTransformer.java:222-322).
  * Name may be dotted (`nav.sideMenus` → nested struct, F9) and/or
  * `[]`-prefixed (zip-explode group member, X4).
  */
final case class PropertyRule(
    name: String,
    extraction: Extraction,
    isArray: Boolean = false,
    isDistinct: Boolean = false,
    isChild: Boolean = false,
    trimSpaces: Boolean = false,
    transform: Option[NamedTransform] = None)

/** One scraping rule: full-match regex patterns over FetchResult fields
  * (ScrapingRule.java:45-64) + ordered property rules + per-rule settings
  * map (ScrapingRule.java:22-32, populated from the target's "settings"
  * object, RiverWeb.java:460).
  */
final case class ScrapingRule(
    urlPattern: String,
    mimeTypePattern: String = ".*",
    properties: Seq[PropertyRule] = Seq.empty,
    settings: Map[String, String] = Map.empty) {

  /** `settings.html` (ScrapingTransformer.java:205-212): false disables DOM
    * parsing for pages this rule matches (`document = null`) — only
    * metadata and value/source/data-type properties are emitted, and no
    * child links are extracted. Default true, like the reference's
    * `getSetting("html", Boolean.TRUE)`; lenient string coercion (F12).
    */
  def htmlParsed: Boolean =
    settings.get("html").forall(v => !v.trim.equalsIgnoreCase("false"))
}

/** Output-table write discipline (RiverWebTest.java:110-273). */
sealed trait WriteMode
object WriteMode {
  /** duplicates accumulate (test_default). */
  case object Default extends WriteMode
  /** delete-then-insert by url (test_overwrite, ScrapingTransformer.java:554-565). */
  case object Overwrite extends WriteMode
  /** skip re-index when lastModified not newer (test_incremental, RwCrawlerThread.java:24-49). */
  case object Incremental extends WriteMode
}

/** One HTTP authentication entry (RiverWeb.java:322-373 —
  * BASIC/DIGEST/NTLM over an AuthScope). Recorded for config round-trip
  * fidelity; inert in this engine (the corpus join stands in for fetching).
  */
final case class AuthSetting(
    scheme: String,              // BASIC | DIGEST | NTLM
    username: String,
    password: String = "",
    host: String = "",           // empty = any host (AuthScope.ANY_HOST)
    port: Int = -1,              // -1 = any port
    realm: String = "",          // empty = any realm
    workstation: String = "",    // NTLM only
    domain: String = "")         // NTLM only

/** Proxy host/port (RiverWeb.java:306-319; port defaults to 8080 there). */
final case class ProxySetting(host: String, port: Int = 8080)

/** The reference's HttpClient parameter surface (RiverWeb.java:268-383).
  * A migrating river config sets these keys; this engine parses and
  * carries them so configs round-trip losslessly, but performs no network
  * I/O — they configure nothing here by design (synthetic fetch join).
  */
final case class HttpSettings(
    connectionTimeout: Option[Int] = None,   // "connection_timeout"
    soTimeout: Option[Int] = None,           // "so_timeout"
    userAgent: Option[String] = None,        // "user_agent"
    autoRedirect: Option[Boolean] = None,    // "auto_redirect"
    proxy: Option[ProxySetting] = None,      // "proxy": {host, port}
    authentications: Seq[AuthSetting] = Seq.empty, // "authentications": [...]
    requestHeaders: Seq[(String, String)] = Seq.empty, // "headers": [{name,value}]
    webDriverUrls: Seq[String] = Seq.empty)  // "web_driver_urls"

/** The crawl config ("river", RiverWeb.java:226-465). */
final case class CrawlConfig(
    sessionId: String,
    seeds: Seq[String],
    includeUrls: Seq[String] = Seq.empty, // P1: keep iff full-matches >=1 (empty = keep all)
    excludeUrls: Seq[String] = Seq.empty, // P2: drop if full-matches any
    maxDepth: Int = -1,                   // Z3: -1 = unlimited (RiverWeb.java:427)
    maxAccessCount: Long = 100L,          // Z4 (RiverWeb.java:431)
    hostBudgetPerRound: Int = 5,          // Z1→W2: politeness interval as per-host round budget
    robotsTxt: Boolean = true,            // Z2
    mode: WriteMode = WriteMode.Default,
    // S6: pages whose url full-matches this are treated as sitemaps —
    // their sitemap-loc refs are enqueued, no document is stored
    // (SitemapsRule, crawler/rule+.xml:18-30)
    sitemapPattern: String = ".*sitemap.*",
    rules: Seq[ScrapingRule] = Seq.empty,
    http: HttpSettings = HttpSettings(),
    // Z1: the wall-clock politeness window one crawl round models; only
    // consumed when robots rules carry Crawl-delay — a host with delay d
    // claims at most max(1, floor(roundWindowSeconds/d)) urls per round
    roundWindowSeconds: Long = 60L,
    // spider-trap guard (beyond-reference; Heritrix path-repetition rule):
    // drop a candidate whose path repeats one segment more than
    // trapMaxRepeat times (/cal/cal/cal/...) before it enters the frontier
    trapGuard: Boolean = false,
    trapMaxRepeat: Int = 2)
