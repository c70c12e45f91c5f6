package graft.crawl

import scala.collection.mutable

import graft.model.{CrawlConfig, PageDoc, UrlOps}

/** In-memory reference crawler for parity tests (SURVEY.md §5): an exact,
  * sequential reimplementation of the crawl discipline the Spark engine
  * must match — BFS rounds in canonical order `(depth, urlHash, url)`,
  * per-host politeness budget per round (W2/Z1), global access budget
  * (A2/Z4), include/exclude on children (P1/P2), robots at enqueue (Z2),
  * depth budget (Z3), per-page child semantics (U2/U3: ordered dedup,
  * self + trailing-slash variant removed), sitemap routing (S6).
  *
  * Deliberately collection-based and single-threaded: it shares only the
  * pure URL functions (canonicalize/host/hash) with the engine, never the
  * Spark pipeline, so agreement is evidence rather than tautology.
  */
object Oracle {

  final case class Result(
      crawlOrder: Seq[(String, Int)], // (url, depth) in claim order
      seen: Set[String],              // canonical urls ever enqueued
      processed: Long,
      rounds: Int)

  def crawl(
      pages: Map[String, PageDoc],
      robots: Map[String, Seq[String]],
      config: CrawlConfig): Result = {

    val incRes = config.includeUrls.map(_.r.pattern)
    val excRes = config.excludeUrls.map(_.r.pattern)
    val sitemapRe = config.sitemapPattern.r.pattern

    def allowedByRobots(url: String): Boolean = {
      if (!config.robotsTxt) return true
      val host = UrlOps.host(url)
      val path0 = url.replaceFirst("^[a-z][a-z0-9+.-]*://[^/]*", "")
      val path = if (path0.isEmpty) "/" else path0
      !robots.getOrElse(host, Seq.empty).exists(path.startsWith)
    }

    // trap guard — deliberately a DIFFERENT algorithm from the engine's
    // sorted-offset compare: count segment multiplicities with a multiset,
    // so agreement is evidence, not tautology. Like the engine's
    // segmentsOf, the authority is the array's first element.
    def trapOk(url: String): Boolean = {
      if (!config.trapGuard) return true
      val i = url.indexOf("://")
      val rest = if (i < 0) url else url.substring(i + 3)
      val path = rest.takeWhile(c => c != '?' && c != '#')
      val segs = path.split('/').filter(_.nonEmpty)
      !segs.groupBy(identity).values.exists(_.length > config.trapMaxRepeat)
    }

    def includeExcludeOk(url: String): Boolean = {
      val inc = incRes.isEmpty || incRes.exists(_.matcher(url).matches())
      val exc = excRes.exists(_.matcher(url).matches())
      inc && !exc
    }

    def ruleMatches(url: String): Boolean =
      config.rules.exists(r =>
        ("^(?:" + r.urlPattern + ")$").r.pattern.matcher(url).matches() &&
          ("^(?:" + r.mimeTypePattern + ")$").r.pattern.matcher("text/html").matches())

    // frontier: url -> depth
    val frontier = mutable.Map.empty[String, Int]
    val seen = mutable.Set.empty[String]
    val order = Seq.newBuilder[(String, Int)]
    var processed = 0L
    var rounds = 0

    // seeds: canonicalized, robots-filtered, no include/exclude (engine parity)
    // (no depth gate here: seeds are depth 0, which passes every maxDepth —
    // the engine's candidateRows depth filter is likewise vacuous for seeds)
    config.seeds.map(UrlOps.canonicalize).filter(_.nonEmpty).distinct
      .filter(trapOk)
      .filter(allowedByRobots)
      .foreach { u => frontier(u) = 0; seen += u }

    def canonicalLt(a: (String, Int), b: (String, Int)): Boolean = {
      if (a._2 != b._2) a._2 < b._2
      else {
        val (ha, hb) = (UrlOps.urlHash(a._1), UrlOps.urlHash(b._1))
        if (ha != hb) ha < hb else a._1 < b._1
      }
    }

    while (frontier.nonEmpty && processed < config.maxAccessCount && rounds < 1000) {
      rounds += 1
      val remaining = config.maxAccessCount - processed
      // per-host top-k in canonical order
      val perHost = frontier.toSeq.map { case (u, d) => (u, d) }
        .groupBy { case (u, _) => UrlOps.host(u) }
        .values.flatMap(_.sortWith(canonicalLt).take(config.hostBudgetPerRound))
      // global cap in canonical order
      val claimed = perHost.toSeq.sortWith(canonicalLt)
        .take(math.min(remaining, Int.MaxValue.toLong).toInt)
      if (claimed.isEmpty) return Result(order.result(), seen.toSet, processed, rounds)

      val autoRedirect = config.http.autoRedirect.getOrElse(true)
      // the whole round's candidates, batched: the engine dedups a round's
      // candidate set by url with MIN depth (mixed depths occur when
      // politeness defers rows, and redirect targets arrive at the SOURCE's
      // depth while content children arrive one deeper), so the oracle must
      // take the per-round min too — first-occurrence insertion would pin a
      // tied url to whichever parent sorted first
      val roundCands = mutable.Map.empty[String, Int]
      claimed.foreach { case (u, d) =>
        order += ((u, d))
        frontier.remove(u)
        processed += 1
        pages.get(u).foreach { page =>
          // HTTP redirect: bypasses rule matching and the status gate; the
          // target (Location) is enqueued at the SOURCE's depth when
          // autoRedirect (default true), else dropped
          val redirectTargets = page.spans.filter(_.kind == "redirect")
            .sortBy(_.offset).map(_.media_ref).filter(_ != null)
          val isRedirect = redirectTargets.nonEmpty
          val isSitemap = !isRedirect && sitemapRe.matcher(u).matches()
          val rawChildren: Seq[String] =
            if (isRedirect) { if (autoRedirect) redirectTargets else Seq.empty }
            else if (page.httpStatus != 200) Seq.empty // P5: no body, no children
            else if (isSitemap)
              page.spans.filter(_.kind == "sitemap-loc").sortBy(_.offset)
                .map(_.media_ref).filter(_ != null)
            else if (ruleMatches(u)) {
              // default anchor extraction (no is_child in test configs),
              // ordered dedup + blank/self/dup-variant removal (U2)
              val refs = page.spans.filter(_.kind == "a").sortBy(_.offset)
                .map(_.media_ref).filter(r => r != null && r.trim.nonEmpty)
              refs.distinct.filterNot(r => r == u || r == u + "/")
            } else Seq.empty // P4: no rule → no scrape → no children

          val childDepth = if (isRedirect) d else d + 1
          rawChildren
            .map(UrlOps.canonicalize)
            .filter(_.trim.nonEmpty)
            .filter(trapOk)
            .filter(includeExcludeOk)
            .filter(c => config.maxDepth < 0 || childDepth <= config.maxDepth)
            .filter(allowedByRobots)
            .foreach { c =>
              if (roundCands.get(c).forall(childDepth < _)) roundCands(c) = childDepth
            }
        }
      }
      roundCands.toSeq.filterNot { case (c, _) => seen.contains(c) }
        .foreach { case (c, cd) =>
          seen += c
          frontier(c) = cd
        }
    }
    Result(order.result(), seen.toSet, processed, rounds)
  }
}
