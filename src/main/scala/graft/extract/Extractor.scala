package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model._

/** Rule matching (P3/P4): first ScrapingRule whose anchored regexes
  * full-match the response fields wins (ScrapingRule.java:45-64,
  * RiverConfig.java:61-68). Java `Matcher.matches()` is whole-string, so
  * patterns are anchored `^(?:…)$`; a null field never matches (reference:
  * `ScrapingRule.java:52-55`). First-match = `when`-chain order (CaseWhen
  * short-circuits — the built-in analog of the reference's precompiled
  * rule-list scan).
  */
object RuleCompiler {
  def anchored(re: String): String = "^(?:" + re + ")$"

  /** The int `ruleId` value (null = no rule matched). */
  def ruleId(rules: Seq[ScrapingRule], url: Column, mimeType: Column): Column =
    rules.zipWithIndex.foldRight(lit(null).cast("int")) { case ((r, i), acc) =>
      when(
        url.rlike(anchored(r.urlPattern)) && mimeType.rlike(anchored(r.mimeTypePattern)),
        lit(i)
      ).otherwise(acc)
    }
}

/** Config → Column extraction pipeline: the whole per-page transform hot
  * path of the reference (ScrapingTransformer.java:195-326,549-604) compiled
  * ONCE per session into declarative Catalyst expressions — no per-row
  * interpretation, no UDFs; everything stays inside whole-stage codegen.
  *
  * Input: a DataFrame with FetchResult columns (`spans` =
  * array<struct<kind,text,media_ref,offset>>). Output: metadata projection
  * (P6) + per-config property columns (nested structs for dotted names, F9)
  * + zip-explode rows for `[]`-groups (X4) + a `children` array (X5).
  */
object Extractor {

  private val MetaCols = Seq("url", "parentUrl", "method", "mimeType", "charSet",
    "httpStatusCode", "contentLength", "executionTime", "lastModified")

  /** ordered texts of spans of `kind` — the CSS-select analog (F3/F4).
    * Spans are stored in document order (offset dense asc), so selection
    * preserves the reference's jsoup DOM order (ScrapingTransformer.java:408-423).
    * Implemented as the fused codegen expression [[graft.functions.SpanField]]
    * (HOF lambdas would break the whole-stage-codegen span).
    */
  def spanTexts(spans: Column, kind: String): Column =
    graft.functions.SpanField.spanField(spans, kind, "text", trimSpaces = false)

  /** ordered media refs of spans of `kind` — attr(src/href)/absUrl analog (F5). */
  def spanRefs(spans: Column, kind: String): Column =
    graft.functions.SpanField.spanField(spans, kind, "media_ref", trimSpaces = false)

  /** :eq/:lt/:gt positional selection over an ordered array (T4;
    * ScrapingTransformer.java:467-499). `slice` is out-of-bounds-safe, so
    * `:eq(n)` beyond the end yields [] like jsoup's empty Elements.
    */
  def positional(arr: Column, p: Positional): Column = p match {
    case Positional.Eq(n) => slice(arr, n + 1, 1)
    case Positional.Lt(n) => slice(arr, 1, n)
    case Positional.Gt(n) => slice(arr, lit(n + 2), greatest(size(arr) - (n + 1), lit(0)))
  }

  /** trim_spaces: collapse whitespace + trim, then drop blanks (F1/A1;
    * ScrapingTransformer.java:523-531,267-273).
    */
  def trimSpacesArr(arr: Column): Column =
    filter(
      transform(arr, x => trim(regexp_replace(x, "\\s+", " "))),
      x => x.isNotNull && x =!= lit(""))

  /** Whitelisted per-element value rewrite (X1 replacement for JSR-223
    * scripts; evaluated once per element like the reference's index loop,
    * ScrapingTransformer.java:288-294).
    */
  def applyTransform(x: Column, t: NamedTransform): Column = t match {
    case NamedTransform.RegexExtract(p, g)  => regexp_extract(x, p, g)
    case NamedTransform.RegexReplace(p, r)  => regexp_replace(x, p, r)
    case NamedTransform.Prepend(p)          => concat(lit(p), x)
    case NamedTransform.Append(s)           => concat(x, lit(s))
    case NamedTransform.Lower               => lower(x)
    case NamedTransform.Upper               => upper(x)
    case NamedTransform.ContainsFlag(n)     => when(x.contains(n), "true").otherwise("false")
    case NamedTransform.Custom(ref)         => TransformRegistry.resolve(ref)(x)
  }

  /** Multi-step query navigation over the span model
    * (ScrapingTransformer.java:442-463): each `parentKind` span opens a
    * region ending at the next `parentKind` span; `childKind` spans inside
    * the region are selected (positional per region, like the reference's
    * per-step :eq), extracted (`field`), and flattened in document order.
    * An empty region yields a NULL placeholder when `isArray` — the
    * reference's alignment quirk for array properties (`:446-452`).
    *
    * Declarative HOF composition (no UDF): spans are stored offset-dense
    * ascending, so region arithmetic is pure offset comparison. The
    * lambdas evaluate interpreted, which is fine off the hot path — pages
    * have tens of parent spans; the hot single-step selectors stay on the
    * codegen SpanField kernel.
    */
  def spanPath(spans: Column, parentKind: String, childKind: String,
      field: String, pos: Option[Positional], isArray: Boolean): Column = {
    val parentOffs = transform(
      filter(spans, s => s.getField("kind") === parentKind),
      s => s.getField("offset"))
    flatten(transform(parentOffs, (o, i) => {
      val next = get(parentOffs, i + 1) // null past the last parent
      val inRegion = filter(spans, s =>
        s.getField("kind") === childKind && s.getField("offset") > o &&
          (next.isNull || s.getField("offset") < next))
      val kids0 = transform(inRegion, s => s.getField(field))
      val kids = pos.fold(kids0)(p => positional(kids0, p))
      if (isArray)
        when(size(kids) === 0, array(lit(null).cast("string"))).otherwise(kids)
      else kids
    }))
  }

  /** Whole raw page text (F8, `source` property type) — one codegen pass
    * (`SpanTextJoin`); the filter/transform/array_join composition
    * evaluates its lambdas interpreted.
    */
  def sourceText(spans: Column): Column =
    graft.functions.SpanFieldColumns.spanTextJoin(spans)

  private val EmptyStrArray: Column = array().cast("array<string>")

  /** The array value of one property rule, before array/scalar shaping.
    * trim_spaces fuses into the SpanField expression when there is no
    * positional selector; with one, trimming must happen AFTER positional
    * selection (the reference trims element text post-select, so blank-drop
    * must not shift :eq/:lt/:gt indices).
    *
    * `htmlParsed = false` (per-rule `settings.html`,
    * ScrapingTransformer.java:205-212): the DOM is never parsed
    * (`document = null`), so span-derived properties (text/attr) stay EMPTY
    * — scalars render "" via the join, arrays [] — while value/source/data
    * properties (which read config literals or the raw response body, not
    * the DOM) are emitted unchanged.
    */
  private def rawArray(spans: Column, pr: PropertyRule,
      htmlParsed: Boolean = true): Column = {
    def spanSide(kind: String, field: String, pos: Option[Positional]): Column =
      if (!htmlParsed) EmptyStrArray
      else pos match {
        case None =>
          graft.functions.SpanField.spanField(spans, kind, field, pr.trimSpaces)
        case Some(p) =>
          val selected = positional(
            graft.functions.SpanField.spanField(spans, kind, field, trimSpaces = false), p)
          if (pr.trimSpaces) trimSpacesArr(selected) else selected
      }
    val trimmed = pr.extraction match {
      case Extraction.SpanText(kind, pos) => spanSide(kind, "text", pos)
      case Extraction.SpanRef(kind, pos) => spanSide(kind, "media_ref", pos)
      case Extraction.SpanPath(pk, ck, f, pos) =>
        if (!htmlParsed) EmptyStrArray
        else {
          val base = spanPath(spans, pk, ck, f, pos, pr.isArray)
          // trim WITHOUT dropping: the null placeholders carry position
          // alignment, so the blank-drop half of trim_spaces cannot apply
          if (pr.trimSpaces)
            transform(base, x => when(x.isNotNull, trim(regexp_replace(x, "\\s+", " "))))
          else base
        }
      case Extraction.Value(vs) =>
        val base = array(vs.map(lit): _*)
        if (pr.trimSpaces) trimSpacesArr(base) else base
      case Extraction.Source =>
        val base = array(sourceText(spans))
        if (pr.trimSpaces) trimSpacesArr(base) else base
      case Extraction.Base64Data(maxSize) =>
        // attachment: base64 of the page text bytes, size-gated (P7/F6)
        val src = sourceText(spans)
        array(when(length(src) <= maxSize, base64(src.cast("binary"))))
    }
    val distinct = if (pr.isDistinct) array_distinct(trimmed) else trimmed
    pr.transform.fold(distinct)(t => transform(distinct, x => applyTransform(x, t)))
  }

  /** Final column value of a property: array as-is, or space-joined with the
    * reference's `String.join` null→"null" rendering (F2 quirk,
    * ScrapingTransformer.java:275).
    */
  private def shaped(spans: Column, pr: PropertyRule,
      htmlParsed: Boolean = true): Column =
    if (pr.isArray) rawArray(spans, pr, htmlParsed)
    else array_join(rawArray(spans, pr, htmlParsed), " ", "null")

  private def stripGroup(name: String): String = name.stripPrefix("[]")

  /** X5 children of a rule-matched page: explicit is_child properties
    * REPLACE default anchor extraction (U3, ScrapingTransformer.java:640-654);
    * default = all `a` hrefs. Requires `spans`, `url`, `ruleId` columns.
    */
  def childArray(config: CrawlConfig): Column = {
    val spans = col("spans")
    val defaultChildren = spanRefs(spans, "a")
    val branches = config.rules.zipWithIndex.map { case (r, i) =>
      val childProps = r.properties.filter(_.isChild)
      // html:false → no DOM → no default anchors; explicit child props keep
      // their own semantics (span-derived → empty, value-derived → emitted)
      val v =
        if (childProps.isEmpty) { if (r.htmlParsed) defaultChildren else EmptyStrArray }
        else concat(childProps.map(pr => rawArray(spans, pr, r.htmlParsed)): _*)
      (col("ruleId") === i) -> v
    }
    // rule-less config: no page matches (P4 filters everything anyway), but
    // the plan must still build — emit the default anchors, not a crash
    val chained =
      if (branches.isEmpty) defaultChildren
      else branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }
    // U2: per-page HashSet dedup + blank (P9) + self/dup-variant removal —
    // fused into one codegen pass (ChildCandidates); runs once per fetched
    // page, and the filter-over-distinct composition evaluates interpreted
    graft.functions.SpanFieldColumns.childCandidates(chained, col("url"))
  }

  /** (parentUrl, depth, child) rows for frontier candidate generation —
    * computed BEFORE zip-explosion so multi-row documents don't duplicate
    * their outgoing links. Requires FetchResult columns plus `depth`.
    */
  def childLinks(fetched: DataFrame, config: CrawlConfig): DataFrame = {
    val rid = RuleCompiler.ruleId(config.rules, col("url"), col("mimeType"))
    fetched
      .withColumn("ruleId", rid)
      .filter(col("ruleId").isNotNull && col("httpStatusCode") === 200)
      .select(col("url").as("parentUrl"), col("depth"),
        explode(childArray(config)).as("child"))
  }

  /** Compile the full extraction for `config` over a fetched DataFrame.
    *
    * @param fetched FetchResult-shaped DataFrame (must include MetaCols + spans)
    * @return DataFrame with metadata + property columns (+ `position` when a
    *         `[]` zip-explode group exists) + `children` array column.
    */
  def extract(fetched: DataFrame, config: CrawlConfig): DataFrame = {
    // P4 no-rule skip + P5 status gate
    val flat = withProperties(fetched
      .withColumn("ruleId", RuleCompiler.ruleId(config.rules, col("url"), col("mimeType")))
      .filter(matched), config)
    // X4 zip-explode over the `[]` group
    val value = (n: String) => col(colAlias(n))
    if (groupNames(config).isEmpty)
      flat.select(docColumns(config, value, None) :+ col("children"): _*)
    else flat
      .withColumn("position", explode(sequence(lit(0), groupLength(config, value) - 1)))
      .select(docColumns(config, value, Some(col("position"))) :+ col("children"): _*)
  }

  /** [[extract]] with no row per document: `fetched` with its `ruleId`,
    * property and `children` columns, one row per page, and the column of
    * each page's documents — an array of structs, each one row of
    * [[extract]] without `children` and with `extra` appended, null for a
    * page the P4/P5 gates store nothing for. A plan that needs both a
    * page's documents and its children in one pass reads them from here.
    */
  def documents(fetched: DataFrame, config: CrawlConfig,
      extra: Seq[Column]): (DataFrame, Column) = {
    val flat = withProperties(fetched
      .withColumn("ruleId", RuleCompiler.ruleId(config.rules, col("url"), col("mimeType"))),
      config)
    val value = (n: String) => col(colAlias(n))
    def doc(pos: Option[Column]): Column = struct(docColumns(config, value, pos) ++ extra: _*)
    val docs =
      if (groupNames(config).isEmpty) array(doc(None))
      else transform(sequence(lit(0), groupLength(config, value) - 1), p => doc(Some(p)))
    (flat, when(matched, docs))
  }

  /** P4 (a rule matched) and P5 (a 200 response): the pages that store
    * documents.
    */
  private val matched: Column = col("ruleId").isNotNull && col("httpStatusCode") === 200

  /** union of output property names across rules (non-child). */
  private def propNames(config: CrawlConfig): Seq[String] = config.rules
    .flatMap(_.properties.filterNot(_.isChild).map(_.name)).distinct

  /** names of the `[]` zip-explode group (X4). */
  private def groupNames(config: CrawlConfig): Seq[String] =
    propNames(config).filter(_.startsWith("[]"))

  /** the group members whose values are lists: one element per position. */
  private def listMembers(config: CrawlConfig): Seq[String] =
    groupNames(config).filter { n =>
      config.rules.exists(_.properties.exists(p => p.name == n && p.isArray))
    }

  /** `fetched` (with `ruleId`) plus one column per property — the first
    * rule's branch wins per row via the ruleId when-chain — and the
    * `children`, in one projection step: each DataFrame step analyzes the
    * whole plan again.
    */
  private def withProperties(fetched: DataFrame, config: CrawlConfig): DataFrame = {
    val spans = col("spans")
    def propCol(name: String): Column = {
      val branches = config.rules.zipWithIndex.flatMap { case (r, i) =>
        r.properties.find(p => p.name == name && !p.isChild)
          .map(pr => (col("ruleId") === i) -> shaped(spans, pr, r.htmlParsed))
      }
      branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, v)) => acc.when(c, v)
      }
    }
    fetched.withColumns(scala.collection.immutable.ListMap(
      propNames(config).map(n => colAlias(n) -> propCol(n)) :+
        ("children" -> childArray(config)): _*))
  }

  /** the rows a page's `[]` group explodes into: its longest list, at
    * least 1.
    */
  private def groupLength(config: CrawlConfig, value: String => Column): Column = {
    val lists = listMembers(config)
    if (lists.isEmpty) lit(1)
    else greatest((lists.map(n => coalesce(size(value(n)), lit(0)).cast("int")) :+ lit(1)): _*)
  }

  /** the columns of one document row, from the property values `value`
    * at the group position `pos` (None: no `[]` group): metadata (P6), the
    * properties with nested structs for dotted names (F9), and `position`.
    * A list member of the group takes its element at `pos`; a non-list
    * member appears only at position 0 (ScrapingTransformer.java:589-595).
    */
  private def docColumns(config: CrawlConfig, value: String => Column,
      pos: Option[Column]): Seq[Column] = {
    val (groups, lists) = (groupNames(config).toSet, listMembers(config).toSet)
    def at(n: String): Column = pos match {
      case Some(p) if lists.contains(n) => get(value(n), p)
      case Some(p) if groups.contains(n) => when(p === 0, value(n))
      case _ => value(n)
    }
    MetaCols.map(col) ++ nestDotted(propNames(config).map(n => stripGroup(n) -> at(n))) ++
      pos.map(_.as("position"))
  }

  /** internal flat column name for a property ([] and dots escaped). */
  private def colAlias(name: String): String =
    "__p_" + name.stripPrefix("[]").replace('.', '$')

  /** Dotted property names → nested struct columns (F9,
    * ScrapingTransformer.java:533-547). e.g. `nav.sideMenus` and `nav.title`
    * become one `nav` struct with fields `sideMenus`, `title`.
    */
  private[extract] def nestDotted(props: Seq[(String, Column)]): Seq[Column] = {
    val (plain, dotted) = props.partition(!_._1.contains('.'))
    val grouped = dotted.groupBy(_._1.takeWhile(_ != '.'))
    val plainCols = plain.map { case (n, c) => c.as(n) }
    val structCols = grouped.toSeq.sortBy(_._1).map { case (top, members) =>
      val inner = members.map { case (n, c) => (n.drop(top.length + 1), c) }
      struct(nestDotted(inner): _*).as(top)
    }
    plainCols ++ structCols
  }
}
