package graft.model

import org.json4s.{Extraction => _, _} // json4s.Extraction would shadow ours
import org.json4s.jackson.JsonMethods

/** JSON crawl-config loader (S1) — parses the reference's "river" config
  * document shape (README.md:90-141, RiverWebTest.java:86-94):
  *
  * ```json
  * { "index": "webindex", "url": ["http://..."],
  *   "include_urls": [".*"], "exclude_urls": [".*\\.png"],
  *   "max_depth": 3, "max_access_count": 100, "num_of_thread": 5,
  *   "interval": 1000, "overwrite": true, "incremental": false,
  *   "robots_txt": true,
  *   "target": [ { "pattern": { "url": ".*", "mimeType": "text/html" },
  *     "properties": { "title": { "text": "title" },
  *       "nav.menus": { "text": "nav-li", "is_array": true,
  *                      "trim_spaces": true, "is_distinct": true },
  *       "img": { "attr": "img" }, "label": { "value": "x" },
  *       "body": { "text": "p", "eq": 0 } } } ] }
  * ```
  *
  * Selector strings are span kinds (the corpus is pre-parsed into spans —
  * SURVEY.md F3/F4); `eq`/`lt`/`gt` map the reference's positional
  * pseudo-selectors (ScrapingTransformer.java:467-499). Scalar coercion is
  * lenient like the reference's ConversionUtil (F12: strings/numbers/bools
  * cross-cast; the intValue-truncation bug at ConversionUtil.java:33 is
  * deliberately NOT reproduced).
  */
object ConfigLoader {

  def fromJson(json: String, sessionId: String): CrawlConfig = {
    val j = JsonMethods.parse(json)

    def strs(v: JValue): Seq[String] = v match {
      case JString(s) => Seq(s)
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Seq.empty
    }
    // F12 lenient scalar coercion (config plane only)
    def asLong(v: JValue, dflt: Long): Long = v match {
      case JInt(i) => i.toLong
      case JLong(i) => i
      case JDouble(d) => d.toLong
      case JString(s) => s.trim.toLongOption.getOrElse(dflt)
      case _ => dflt
    }
    def asBool(v: JValue, dflt: Boolean): Boolean = v match {
      case JBool(b) => b
      case JString(s) => s.trim.equalsIgnoreCase("true")
      case JInt(i) => i != 0
      case _ => dflt
    }
    def asStr(v: JValue, dflt: String): String = v match {
      case JString(s) => s
      case JInt(i) => i.toString
      case JBool(b) => b.toString
      case _ => dflt
    }

    // X2 script-source routing (ScrapingTransformer.java:330-340 INLINE/
    // FILE/INDEXED): the transform SPEC may be written inline (default),
    // loaded from a JSON file ("script_type": "file", "script" = path), or
    // looked up by name in the config's script index ("script_type":
    // "indexed", "script" = key; the index is the top-level "script_index"
    // — either an inline object of name→spec or a path to a JSON file of
    // the same shape — the config-table analog of the reference's .scripts
    // index lookup).
    lazy val scriptIndex: Map[String, JValue] = j \ "script_index" match {
      case JString(path) =>
        scala.util.Try(JsonMethods.parse(
          java.nio.file.Files.readString(java.nio.file.Paths.get(path)))) match {
          case scala.util.Success(JObject(fields)) => fields.toMap
          case _ => Map.empty
        }
      case JObject(fields) => fields.toMap
      case _ => Map.empty
    }

    def resolveScriptSpec(o: JObject): Option[JValue] = {
      val m = o.obj.toMap
      asStr(m.getOrElse("script_type", JString("inline")), "inline")
        .toLowerCase match {
        case "file" =>
          m.get("script").map(p => asStr(p, "")).flatMap { path =>
            scala.util.Try(JsonMethods.parse(
              java.nio.file.Files.readString(java.nio.file.Paths.get(path)))).toOption
          }
        case "indexed" =>
          m.get("script").map(p => asStr(p, "")).flatMap(scriptIndex.get)
        case _ => Some(o)
      }
    }

    def namedTransform(spec: JValue): Option[NamedTransform] = spec match {
      case o: JObject =>
        resolveScriptSpec(o).collect { case JObject(fields) => fields.toMap }
          .flatMap { m =>
            m.get("name").map(n => asStr(n, "")).collect {
              case "lower" => NamedTransform.Lower
              case "upper" => NamedTransform.Upper
              case "regex_extract" => NamedTransform.RegexExtract(
                asStr(m.getOrElse("pattern", JString("")), ""),
                asLong(m.getOrElse("group", JInt(1)), 1).toInt)
              case "regex_replace" => NamedTransform.RegexReplace(
                asStr(m.getOrElse("pattern", JString("")), ""),
                asStr(m.getOrElse("replacement", JString("")), ""))
              case "prepend" => NamedTransform.Prepend(asStr(m.getOrElse("arg", JString("")), ""))
              case "append" => NamedTransform.Append(asStr(m.getOrElse("arg", JString("")), ""))
              case "contains_flag" => NamedTransform.ContainsFlag(asStr(m.getOrElse("arg", JString("")), ""))
              // X1 escape hatch: reference a caller-registered
              // Column => Column by name (graft.extract.TransformRegistry)
              // for scripts with no whitelisted equivalent
              case "custom" => NamedTransform.Custom(
                asStr(m.getOrElse("ref", JString("")), ""))
            }
          }
      case _ => None
    }

    def property(name: String, spec: JValue): PropertyRule = {
      val eq = spec \ "eq" match { case JNothing => None; case v => Some(Positional.Eq(asLong(v, 0).toInt)) }
      val ltv = spec \ "lt" match { case JNothing => None; case v => Some(Positional.Lt(asLong(v, 0).toInt)) }
      val gt = spec \ "gt" match { case JNothing => None; case v => Some(Positional.Gt(asLong(v, 0).toInt)) }
      val pos = eq.orElse(ltv).orElse(gt)
      val extraction: Extraction =
        (spec \ "text", spec \ "attr", spec \ "value", spec \ "source", spec \ "data") match {
          // multi-step query navigation (ScrapingTransformer.java:442-463):
          // a JSON array of steps scopes the second step inside the first's
          // regions; two steps supported (the span model has one structural
          // nesting level — section parent → member child)
          case (JArray(steps), _, _, _, _) if steps.size >= 2 =>
            Extraction.SpanPath(asStr(steps(0), ""), asStr(steps(1), ""), "text", pos)
          case (t, _, _, _, _) if t != JNothing => Extraction.SpanText(asStr(t, ""), pos)
          case (_, JArray(steps), _, _, _) if steps.size >= 2 =>
            Extraction.SpanPath(asStr(steps(0), ""), asStr(steps(1), ""), "media_ref", pos)
          case (_, a, _, _, _) if a != JNothing => Extraction.SpanRef(asStr(a, ""), pos)
          case (_, _, v, _, _) if v != JNothing => Extraction.Value(strs(v))
          case (_, _, _, s, _) if s != JNothing => Extraction.Source
          case (_, _, _, _, d) if d != JNothing =>
            Extraction.Base64Data(asLong(spec \ "max_file_size", 1000000L))
          case _ => Extraction.SpanText(name.stripPrefix("[]"), pos)
        }
      // X1/X2: whitelisted named transform instead of arbitrary JS scripts,
      // sourced inline / from a file / from the script index
      val transform = namedTransform(spec \ "script")
      PropertyRule(
        name = name,
        extraction = extraction,
        isArray = asBool(spec \ "is_array", dflt = false),
        isDistinct = asBool(spec \ "is_distinct", dflt = false),
        isChild = asBool(spec \ "is_child", dflt = false),
        trimSpaces = asBool(spec \ "trim_spaces", dflt = false),
        transform = transform)
    }

    def rule(v: JValue): ScrapingRule = {
      val props = v \ "properties" match {
        case JObject(fields) => fields.map { case (n, spec) => property(n, spec) }
        case _ => Seq.empty
      }
      // per-target "settings" map (RiverWeb.java:460; html:false at
      // ScrapingTransformer.java:205) — values stringified leniently so
      // {"html": false} and {"html": "false"} both round-trip
      val settings = v \ "settings" match {
        case JObject(fields) =>
          fields.collect { case (k, sv) if sv != JNothing && sv != JNull =>
            k -> asStr(sv, "")
          }.toMap
        case _ => Map.empty[String, String]
      }
      ScrapingRule(
        urlPattern = asStr(v \ "pattern" \ "url", ".*"),
        mimeTypePattern = asStr(v \ "pattern" \ "mimeType", ".*"),
        properties = props,
        settings = settings)
    }

    val rules = j \ "target" match {
      case JArray(xs) => xs.map(rule)
      case o: JObject => Seq(rule(o))
      case _ => Seq.empty
    }

    val overwrite = asBool(j \ "overwrite", dflt = false)
    val incremental = asBool(j \ "incremental", dflt = false)
    val mode =
      if (overwrite) WriteMode.Overwrite
      else if (incremental) WriteMode.Incremental
      else WriteMode.Default

    // Z1→W2: interval (ms between fetches per thread) × threads per round
    // window ⇒ per-host budget; defaults interval=1000, threads=5
    // (RiverWeb.java:434-439) give the reference's ~5 urls/sec shape.
    val threads = asLong(j \ "num_of_thread", 5L)
    val interval = math.max(asLong(j \ "interval", 1000L), 1L)
    val hostBudget = math.max((threads * 1000L / interval).toInt, 1)

    // HTTP-client surface (RiverWeb.java:268-383): parsed into inert
    // metadata so a reference river config round-trips without key loss
    def optLong(v: JValue): Option[Long] = v match {
      case JNothing | JNull => None
      case x => Some(asLong(x, 0L))
    }
    val proxy = j \ "proxy" match {
      case o: JObject =>
        val m = o.obj.toMap
        m.get("host").map(h => ProxySetting(asStr(h, ""),
          m.get("port").map(p => asLong(p, 8080L).toInt).getOrElse(8080)))
      case _ => None
    }
    // "authentications":[{"scope":{"scheme","host","port","realm"},
    //   "credentials":{"username","password","workstation","domain"}}]
    val auths = j \ "authentications" match {
      case JArray(xs) => xs.flatMap { a =>
        val scope = (a \ "scope").toOption.collect { case o: JObject => o.obj.toMap }
          .getOrElse(Map.empty)
        val creds = (a \ "credentials").toOption.collect { case o: JObject => o.obj.toMap }
          .getOrElse(Map.empty)
        val scheme = asStr(scope.getOrElse("scheme", JNothing), "").toUpperCase
        val username = asStr(creds.getOrElse("username", JNothing), "")
        // the reference skips entries missing scheme or username
        // (RiverWeb.java:330-341)
        if (scheme.isEmpty || username.isEmpty) None
        else Some(AuthSetting(
          scheme = scheme,
          username = username,
          password = asStr(creds.getOrElse("password", JNothing), ""),
          host = asStr(scope.getOrElse("host", JNothing), ""),
          port = scope.get("port").map(p => asLong(p, -1L).toInt).getOrElse(-1),
          realm = asStr(scope.getOrElse("realm", JNothing), ""),
          workstation = asStr(creds.getOrElse("workstation", JNothing), ""),
          domain = asStr(creds.getOrElse("domain", JNothing), "")))
      }
      case _ => Seq.empty
    }
    val headers = j \ "headers" match {
      case JArray(xs) => xs.flatMap { h =>
        (h \ "name", h \ "value") match {
          case (JNothing, _) | (_, JNothing) => None
          case (n, v) => Some((asStr(n, ""), asStr(v, "")))
        }
      }
      case _ => Seq.empty
    }
    val http = HttpSettings(
      connectionTimeout = optLong(j \ "connection_timeout").map(_.toInt),
      soTimeout = optLong(j \ "so_timeout").map(_.toInt),
      userAgent = (j \ "user_agent") match {
        case JString(s) if s.nonEmpty => Some(s); case _ => None
      },
      autoRedirect = (j \ "auto_redirect") match {
        case JNothing | JNull => None; case v => Some(asBool(v, dflt = true))
      },
      proxy = proxy,
      authentications = auths,
      requestHeaders = headers,
      webDriverUrls = strs(j \ "web_driver_urls"))

    CrawlConfig(
      sessionId = sessionId,
      seeds = strs(j \ "url") ++ strs(j \ "urls"),
      includeUrls = strs(j \ "include_urls"),
      excludeUrls = strs(j \ "exclude_urls"),
      maxDepth = asLong(j \ "max_depth", -1L).toInt,
      maxAccessCount = asLong(j \ "max_access_count", 100L),
      hostBudgetPerRound = hostBudget,
      robotsTxt = asBool(j \ "robots_txt", dflt = true),
      mode = mode,
      sitemapPattern = asStr(j \ "sitemap_pattern", ".*sitemap.*"),
      rules = rules,
      http = http,
      roundWindowSeconds =
        math.max(asLong(j \ "round_window_seconds", 60L), 1L),
      trapGuard = asBool(j \ "trap_guard", dflt = false),
      trapMaxRepeat =
        math.max(asLong(j \ "trap_max_repeat", 2L), 1L).toInt)
  }
}
