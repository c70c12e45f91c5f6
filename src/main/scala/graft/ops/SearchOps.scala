package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked keyword retrieval over the crawled document store — the query
  * surface the reference delegates to its search backend (the river's
  * whole sink is an Elasticsearch index: RiverWeb.java:183-195 writes
  * docs so users can run ranked term queries over them). A user switching
  * from the reference needs that capability from the engine itself, so
  * this family provides the index build (posting lists + length norms,
  * the Lucene shape re-expressed relationally) and BM25-family top-k
  * search as Spark plans.
  *
  * Two scoring forms, the engine's exact/scale dual-path pattern:
  *
  *  - [[searchTopK]] / [[searchAllTopK]] — **integer-exact rational-idf
  *    BM25**. The tf-saturation factor is textbook BM25 (k1=1.2, b=0.75)
  *    cross-multiplied to a ratio of integers: with L = total corpus
  *    tokens, N = docs, dl = doc length,
  *    `tfsat = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  *           = 22·tf·L / (10·tf·L + 3·L + 9·dl·N)`.
  *    The idf is the RATIONAL variant `(N−df+0.5)/(df+0.5)
  *    = (2N−2df+1)/(2df+1)` — the argument of BM25's log, without the
  *    log. Omitting the log keeps every per-term contribution a single
  *    integer floor-division (computed in DECIMAL(38,0), exact up to
  *    10^38 — fits 100 TB: 1e6·22·tf·L·2N ≈ 1e31 at L=1e13, N=1e10),
  *    so the per-doc score is a SUM OF BIGINTs — order-independent,
  *    bit-identical across engines, partitionings, and cluster sizes,
  *    where a sum of ln()-weighted doubles is neither (libm ulp drift +
  *    float addition non-associativity). Per term the rational idf is a
  *    monotone transform of the log idf (same df ordering); across terms
  *    it weights rare terms more aggressively — documented deviation,
  *    ranking-quality-acceptable for corpus curation queries and the
  *    price of an engine-exact contract.
  *  - [[bm25TopK]] — textbook BM25 (ln idf, double arithmetic), the
  *    drop-in-familiar production scorer; sbt-tested for rank agreement
  *    with the exact form on planted corpora, not oracle-hashable by
  *    design.
  *
  * Scale shape (both forms): the query-term filter is pushed BELOW the
  * tf aggregation, so the (doc, term) shuffle carries only postings that
  * match the query — work is proportional to matching postings, not the
  * corpus. Document length comes from `size(tokens)` map-side (no
  * second corpus-wide explode), corpus stats (N, L) and per-term df are
  * broadcast scalars/tiny dims, and the final top-k is one `row_number()`
  * window filtered on the literal k: Spark plans a partial
  * `WindowGroupLimit` below its one exchange, so each map task ships at
  * most k rows per query and a hot query cannot funnel its postings into
  * one task (for k up to `spark.sql.optimizer.windowGroupLimitThreshold`,
  * default 1000). [[buildIndex]] persists the posting lists bucketed by
  * term via [[graft.sources.BucketedStore]] so repeated query batches
  * skip the tokenize+tf stage entirely.
  */
object SearchOps {

  /** Posting lists + corpus stats: `postings(idCol, term, tf, dl)` and
    * `stats(n, l)` (doc count, total token count). `termFilter`, when
    * non-empty, pushes the query-term filter below the tf aggregation —
    * the searcher's path; leave empty to materialize the full index.
    */
  final case class SearchIndex(postings: DataFrame, stats: DataFrame,
      idCol: String)

  def index(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", termFilter: Seq[String] = Nil): SearchIndex = {
    val toks0 = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(col("__toks")).as("term"),
        size(col("__toks")).as("dl"))
    val toks =
      if (termFilter.isEmpty) toks0
      else toks0.filter(col("term").isin(termFilter: _*))
    val postings = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(TextOps.tokens(col(textCol)))).as("l"))
    SearchIndex(postings, stats, idCol)
  }

  /** Materialize the full index as a term-bucketed catalog table (the
    * persistent analog of Lucene's inverted index): repeated query
    * batches read postings pre-partitioned by term — the tokenize +
    * (doc, term) shuffle is paid once at build. Returns the reloaded
    * index; `stats` is recomputed from the postings (one tiny agg).
    */
  def buildIndex(docs: DataFrame, table: String, path: String,
      nBuckets: Int, idCol: String = "doc_id",
      textCol: String = "text"): SearchIndex = {
    val idx = index(docs, idCol, textCol)
    graft.sources.BucketedStore.write(idx.postings, table, path, nBuckets,
      "term", sortKeys = Seq("term", idCol))
    loadIndex(docs.sparkSession, table, idCol)
  }

  /** Reload a [[buildIndex]] table; stats derive from the postings
    * (n = distinct docs, l = Σ tf — every token is in exactly one
    * posting, so the sums agree with the build-time scan).
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      idCol: String = "doc_id"): SearchIndex = {
    val postings = graft.sources.BucketedStore.read(spark, table)
    val stats = postings.agg(
      count_distinct(col(idCol)).as("n"), sum(col("tf")).as("l"))
    SearchIndex(postings, stats, idCol)
  }

  /** Merge a delta index (e.g. one crawl round's new docs) into an
    * existing one WITHOUT re-tokenizing the old corpus: posting lists
    * for disjoint doc sets union row-wise (a doc appears in exactly one
    * side, so no tf re-aggregation), and (n, l) add. Associative and
    * commutative — `index(a ∪ b) ≡ merge(index(a), index(b))` is the sbt
    * witness — so a long crawl maintains its search index with per-round
    * work proportional to the DELTA. Requires disjoint doc ids (the
    * crawl's seen anti-join guarantees it); overlapping ids would
    * duplicate postings rather than overwrite.
    */
  def mergeIndex(base: SearchIndex, delta: SearchIndex): SearchIndex = {
    require(base.idCol == delta.idCol, "indexes must share the id column")
    val stats = base.stats.unionByName(delta.stats)
      .agg(sum(col("n")).as("n"), sum(col("l")).as("l"))
    SearchIndex(base.postings.unionByName(delta.postings), stats, base.idCol)
  }

  /** Integer-exact per-(query, doc, term) score contribution in ticks of
    * 1e-6 — see the object doc for the derivation. All factors positive,
    * so DECIMAL(38,0) `div` (truncating) equals floor in both engines.
    */
  private val tickExpr: Column = expr(
    """CAST((CAST(1000000 AS DECIMAL(38,0)) * 22 * tf * l * (2*n - 2*df + 1)) div
      |     ((CAST(10 AS DECIMAL(38,0)) * tf * l + 3*l + 9*dl*n) * (2*df + 1))
      |AS BIGINT)""".stripMargin)

  /** Top-k docs for one term query, integer-exact (the oracle form).
    * `requireAll = true` switches OR semantics (any query term matches)
    * to AND (only docs containing EVERY query term score) — the
    * conjunctive gate is a per-doc distinct-term count against the query
    * size, applied before the top-k so the window ranks only qualifying
    * docs.
    */
  def searchTopK(docs: DataFrame, query: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text",
      requireAll: Boolean = false,
      after: Option[(Long, Long)] = None): DataFrame = {
    val qdf = queryFrame(docs, query.distinct)
    searchAllTopK(index(docs, idCol, textCol, termFilter = query), qdf, k,
      requireAll, after).drop("query_id")
  }

  /** Batch form: `queries(query_id, term)` (exploded term list; rows MUST
    * be distinct per (query_id, term) — a duplicate would double-count
    * that term's contribution) against a prebuilt or ad-hoc index. Returns (query_id, idCol, score_ticks,
    * rank ≤ k). One plan for the whole batch: postings ⋈ broadcast
    * queries, per-(query, doc) BIGINT sum, per-query top-k window.
    *
    * `after` is ES `search_after` keyset pagination: given the LAST hit of
    * the previous page as a (score_ticks, id) cursor, return the next k
    * rows strictly after it in (score desc, id asc) order — the predicate
    * `score < s ∨ (score = s ∧ id > i)` filters BEFORE the top-k window,
    * so page N costs the same one ranking pass as page 1 (never a
    * `row_number ≤ N·k` deep-paging scan, the exact trap ES's
    * from/size API has and search_after exists to avoid). The returned
    * `rank` restarts at 1 per page, as ES does.
    */
  def searchAllTopK(idx: SearchIndex, queries: DataFrame, k: Int,
      requireAll: Boolean = false,
      after: Option[(Long, Long)] = None): DataFrame = {
    require(k > 0, "k must be positive")
    val id = col(idx.idCol)
    val p = idx.postings.join(broadcast(queries), "term")
    val dfreq = idx.postings
      .join(broadcast(queries.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val base = p
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(idx.stats))
      .withColumn("__ticks", tickExpr)
      .groupBy(col("query_id"), id)
    // the AND gate needs a per-doc matched-term count — postings are
    // unique per (doc, term) and `queries` rows per (query_id, term), so
    // a plain count suffices (no expand-distinct); only pay it when
    // requireAll is on
    val scored =
      if (requireAll) {
        val qSizes = queries.groupBy("query_id")
          .agg(count_distinct(col("term")).as("__qn"))
        base.agg(sum(col("__ticks")).as("score_ticks"),
            count(lit(1)).as("__hit"))
          .join(broadcast(qSizes), "query_id")
          .filter(col("__hit") === col("__qn"))
          .drop("__qn", "__hit")
      } else base.agg(sum(col("__ticks")).as("score_ticks"))
    val paged = after match {
      case Some((s, i)) => scored.filter(
        col("score_ticks") < s || (col("score_ticks") === s && id > i))
      case None => scored
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ticks").desc, id.asc)
    paged.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Field-boosted ranked retrieval — the ES multi-field (`most_fields`)
    * surface the reference's users query through: each field (body,
    * title, inbound anchor text — anchor text being web search's
    * strongest signal, Brin & Page 1998) is indexed INDEPENDENTLY with
    * its own postings, document-frequency, and length stats, exactly as
    * ES keeps per-field BM25 statistics; the document score is the
    * weighted sum Σ_f w_f · ticks_f. Integer weights over the integer
    * tick scores keep the ranking bit-identical across engines.
    *
    * `fields` is (textColumn, weight); null/empty field values simply
    * contribute no postings (a doc nobody links to has no anchor field).
    * Scale shape: per field, the same term-filtered postings pipeline as
    * [[searchTopK]] (the query-term filter sits below the tf aggregation,
    * so each field's exchange carries only matching postings); the
    * cross-field combine is a union + one per-doc sum on the id the
    * field pipelines already hash by; then the global top-k.
    */
  def fieldedTopK(docs: DataFrame, query: Seq[String], k: Int,
      fields: Seq[(String, Long)], idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    require(fields.nonEmpty && fields.forall(_._2 > 0),
      "need at least one field, all weights positive")
    val q = query.distinct
    val id = col(idCol)
    val perField = fields.map { case (textCol, w) =>
      val fdocs = docs
        .select(col(idCol), col(textCol))
        .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      val idx = index(fdocs, idCol, textCol, termFilter = q)
      val dfreq = idx.postings.groupBy("term").agg(count(lit(1)).as("df"))
      idx.postings
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(idx.stats))
        .withColumn("__ticks", tickExpr)
        .groupBy(id)
        .agg((sum(col("__ticks")) * lit(w)).as("__fticks"))
    }
    val scored = perField.reduce(_.unionByName(_))
      .groupBy(id).agg(sum(col("__fticks")).as("score_ticks"))
    val w = Window.partitionBy(lit(1)).orderBy(col("score_ticks").desc, id.asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Lucene-form BM25 (k1=1.2, b=0.75, idf = ln(1 + (N−df+0.5)/(df+0.5))
    * — the `1 +` keeps idf positive for df > N/2, exactly as the
    * reference's Elasticsearch/Lucene scorer does) top-k — the
    * production scorer; double-precision, so rank-stable but not
    * engine-hashable. Same plan shape as [[searchTopK]].
    */
  def bm25TopK(docs: DataFrame, query: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    val idx = index(docs, idCol, textCol, termFilter = query)
    val id = col(idCol)
    val dfreq = idx.postings.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = idx.postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(idx.stats))
      .withColumn("__c",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + 0.3 + (col("dl") * 0.9 * col("n")) / col("l")))
      .groupBy(id).agg(sum(col("__c")).as("score"))
    val w = Window.partitionBy(lit(1)).orderBy(col("score").desc, id.asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact phrase search: top-k docs by the number of CONSECUTIVE
    * occurrences of `phrase` (the ES `match_phrase` the reference's users
    * run over crawled docs). Positional postings are a `posexplode`
    * filtered to the phrase's terms — the exchange carries only matching
    * (doc, pos) pairs — and the adjacency check is a chain of m−1 hash
    * joins on (doc, pos − offset): no per-doc sort, no window, keys
    * uniformly spread (a hot DOC is fine — its positions distribute by
    * hash). Count per doc, then the global top-k. A repeated
    * term in the phrase is handled naturally (each join leg re-filters
    * the same postings at its own offset).
    */
  def phraseTopK(docs: DataFrame, phrase: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(phrase.size >= 2, "phrase needs at least two terms")
    require(k > 0, "k must be positive")
    val toks = docs
      .select(col(idCol), posexplode(TextOps.tokens(col(textCol)))
        .as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
    var cur = toks.filter(col("term") === phrase.head)
      .select(col(idCol).as("__id"), col("pos").as("__pos"))
    phrase.zipWithIndex.drop(1).foreach { case (t, i) =>
      val nxt = toks.filter(col("term") === t)
        .select(col(idCol).as("__idn"), (col("pos") - i).as("__posn"))
      cur = cur.join(nxt,
          col("__id") === col("__idn") && col("__pos") === col("__posn"))
        .select(col("__id"), col("__pos"))
    }
    val counts = cur.groupBy(col("__id"))
      .agg(count(lit(1)).as("matches"))
      .withColumnRenamed("__id", idCol)
    val id = col(idCol)
    val w = Window.partitionBy(lit(1)).orderBy(col("matches").desc, id.asc)
    counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Snippet/highlight column: the ±`width`-token window around the FIRST
    * occurrence of `term` (ES highlighting's fragment, deterministically
    * the first hit), null when the term is absent. Pure map-side array
    * arithmetic — `array_position` + `slice` — so it composes onto
    * search results with zero extra exchange.
    */
  def snippet(text: Column, term: String, width: Int): Column = {
    require(width >= 0, "width must be non-negative")
    val toks = TextOps.tokens(text)
    val p = array_position(toks, term.toLowerCase)
    val start = greatest(lit(1L), p - width)
    val len = least(size(toks).cast("long"), p + width) - start + 1L
    when(p === 0L, lit(null).cast("string"))
      .otherwise(array_join(
        slice(toks, start.cast("int"), len.cast("int")), " "))
  }

  /** More-like-this: top-k docs most similar to the doc `srcId` (the ES
    * `more_like_this` query users run over crawled docs). Shape follows
    * ES: select the source doc's `maxQueryTerms` strongest terms
    * (tf desc, term asc — deterministic), then score every OTHER doc by
    * the sum of integer idf ticks over its SHARED terms (boolean term
    * match × rational idf, floor((2n−2df+1)·10⁶/(2df+1)) — exact DECIMAL
    * division on any engine; set semantics keeps the BIGINT sum safe to
    * ~5·10¹¹ docs at 25 query terms).
    *
    * Scale shape: the source doc's term profile is one doc's postings —
    * a bounded (≤ maxQueryTerms) driver pull that pushes the term filter
    * BELOW the corpus tf aggregation, so the (doc, term) exchange
    * carries only postings matching the profile (the [[searchTopK]]
    * recipe); df/idf are a ≤ maxQueryTerms broadcast; the final top-k is
    * a global top-k window. Returns (idCol, score_ticks, n_shared,
    * rank).
    */
  def moreLikeThis(docs: DataFrame, srcId: Long, k: Int,
      maxQueryTerms: Int = 10, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0 && maxQueryTerms > 0, "k and maxQueryTerms must be positive")
    val srcTerms = docs.filter(col(idCol) === srcId)
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(maxQueryTerms)
      .select("term").collect().map(_.getString(0)).toSeq
    require(srcTerms.nonEmpty, s"source doc $srcId has no terms")
    val postings = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(srcTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val weights = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .withColumn("w", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * (2*n - 2*df + 1)) div
          |     (2*df + 1) AS BIGINT)""".stripMargin))
      .select("term", "w")
    val scored = postings.filter(col(idCol) =!= srcId)
      .join(broadcast(weights), "term")
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score_ticks"), count(lit(1)).as("n_shared"))
    val id = col(idCol)
    val w = Window.partitionBy(lit(1)).orderBy(col("score_ticks").desc, id.asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Full-corpus ordered export with global positions — the ES scroll API
    * surface (the reference's users export crawled indexes with scroll,
    * never from/size deep paging). A naive global row number is a
    * `Window.orderBy()` with no partition — ONE task sorts the corpus.
    * This is the scale form: a range exchange places rows in globally
    * ordered partitions (each task sorts only its slice), per-partition
    * counts (one row per partition, trivially collectable) prefix-sum on
    * the driver, and the global position is the within-partition
    * row_number plus the broadcast partition offset — the
    * [[Sampling.packSequences]] prefix-sum recipe applied to ordering.
    *
    * `order` must be a TOTAL order (include a unique tiebreaker, e.g. the
    * doc id, as the last sort column): range boundaries may split equal
    * keys across partitions, and the oracle replay
    * (`row_number() OVER (ORDER BY …)`) is only engine-deterministic for
    * a total order. Returns the input columns + `scroll_pos` (1-based
    * global position) + `page_no` (0-based, `pageSize` rows per page).
    */
  def scrollExport(df: DataFrame, order: Seq[Column], pageSize: Long,
      partitions: Int = 0): DataFrame =
    scrollExportReleasable(df, order, pageSize, partitions)._1

  /** [[scrollExport]] plus a release handle for the internal persisted
    * ranged frame (the counts pass and the output pass must see the same
    * range split; same discipline as [[Sampling.packSequencesReleasable]]).
    */
  def scrollExportReleasable(df: DataFrame, order: Seq[Column],
      pageSize: Long, partitions: Int = 0): (DataFrame, () => Unit) = {
    require(pageSize > 0, "pageSize must be positive")
    require(order.nonEmpty, "need at least one sort column")
    val spark = df.sparkSession
    val nPart =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(nPart, order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    // pass 1: per-partition row counts — rows = nPart, bounded
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = counts.scanLeft((0, 0L)) {
      case ((_, acc), (pid, c)) => (pid, acc + c)
    }.sliding(2).collect { case Array((_, acc), (pid, _)) => pid -> acc }.toMap
    // pass 2: within-partition rank (parallel per range slice) + offset
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    val offsetCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(offsets), col("__pid")), lit(0L))
    val out = ranged
      .withColumn("scroll_pos", row_number().over(w).cast("long") + offsetCol)
      .withColumn("page_no", expr(s"(scroll_pos - 1) div ${pageSize}L"))
      .drop("__pid")
    (out, () => { ranged.unpersist(blocking = false); () })
  }

  /** Completion suggester (the ES suggest surface): for each query prefix,
    * the top-k corpus terms starting with it, ranked by corpus term
    * frequency (weight desc, term asc). The prefix match runs map-side
    * against the broadcast prefix list BEFORE the term-frequency
    * aggregation, so the exchange carries only (prefix, term) pairs that
    * match — work proportional to matching tokens, not the corpus — and a
    * hot prefix ranks through the per-prefix group limit. Returns
    * (prefix, term, weight, rank ≤ k).
    */
  def suggest(docs: DataFrame, prefixes: Seq[String], k: Int,
      textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    require(prefixes.nonEmpty && prefixes.forall(_.nonEmpty),
      "need at least one non-empty prefix")
    val spark = docs.sparkSession
    import spark.implicits._
    val pdf = prefixes.distinct.map(_.toLowerCase).toDF("prefix")
    val freq = docs
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .join(broadcast(pdf), col("term").startsWith(col("prefix")))
      .groupBy(col("prefix"), col("term"))
      .agg(count(lit(1)).as("weight"))
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("weight").desc, col("term").asc)
    freq.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All deletion variants of `c` up to `maxEdits` chars removed,
    * including `c` itself — the SymSpell blocking key set (Garbe 2012):
    * two strings within Levenshtein distance d share at least one common
    * string in each other's ≤ d-deletion neighborhoods. Pure built-in
    * array arithmetic (sequence + transform + substr), no UDF.
    */
  private def delKeys(c: String, maxEdits: Int): Column = {
    val d1 = s"""array_distinct(array_union(array($c),
                |  transform(sequence(0, length($c) - 1),
                |    i -> concat(substr($c, 1, i), substr($c, i + 2)))))""".stripMargin
    if (maxEdits == 1) expr(d1)
    else expr(
      s"""array_distinct(flatten(transform($d1, v ->
         |  array_union(array(v), transform(sequence(0, length(v) - 1),
         |    j -> concat(substr(v, 1, j), substr(v, j + 2)))))))""".stripMargin)
  }

  /** Vocabulary terms within Levenshtein distance `maxEdits` (1 or 2) of
    * each query term — the ES `fuzziness` surface. The naive form
    * compares every vocabulary term against every query term (O(V·Q)
    * edit-distance computations); this one blocks by DELETION
    * NEIGHBORHOOD (SymSpell): terms within distance d share a deletion
    * variant, so the candidate join runs on a bounded key (≤ len^d
    * variants per term, query side broadcast), then the EXACT
    * `levenshtein(a, b) ≤ maxEdits` filter removes the superset's false
    * positives (e.g. a transposed pair like "ab"/"ba" shares deletion
    * keys but is distance 2). Exactness: the neighborhood is a proven
    * SUPERSET of the distance-≤ d ball, and the post-filter is the exact
    * metric — so the result EQUALS the full scan, at blocking cost.
    * Returns (query_term, term, distance).
    */
  def fuzzyTerms(docs: DataFrame, query: Seq[String], maxEdits: Int = 1,
      textCol: String = "text"): DataFrame = {
    require(maxEdits == 1 || maxEdits == 2, "maxEdits must be 1 or 2")
    require(query.nonEmpty && query.forall(_.nonEmpty),
      "need at least one non-empty query term")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs
      .select(explode(TextOps.tokens(col(textCol))).as("term")).distinct()
    val vkeys = vocab.select(col("term"),
      explode(delKeys("term", maxEdits)).as("__k"))
    val qkeys = query.distinct.map(_.toLowerCase).toDF("query_term")
      .select(col("query_term"), explode(delKeys("query_term", maxEdits)).as("__k"))
    vkeys.join(broadcast(qkeys), "__k")
      .select("query_term", "term").distinct()
      .withColumn("distance",
        levenshtein(col("query_term"), col("term")).cast("long"))
      .filter(col("distance") <= maxEdits)
  }

  /** Fuzzy ranked retrieval: expand each query term to its distance-≤
    * `maxEdits` vocabulary matches (capped at `maxExpansions` by
    * (min distance asc, term asc) — ES's max_expansions, default 50),
    * then score the expanded OR-query through [[searchTopK]]. The
    * expansion pull is bounded (≤ maxExpansions strings — the
    * [[moreLikeThis]] term-profile pattern), which lets the expanded term
    * filter push BELOW the corpus tf aggregation; keeping the expansion
    * distributed would force a corpus-wide postings build instead. A
    * query term present in the vocabulary matches itself at distance 0,
    * so exact hits always participate.
    */
  def fuzzyTopK(docs: DataFrame, query: Seq[String], k: Int,
      maxEdits: Int = 1, maxExpansions: Int = 50, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxExpansions > 0, "maxExpansions must be positive")
    val expanded = fuzzyTerms(docs, query, maxEdits, textCol)
      .groupBy("term").agg(min(col("distance")).as("__d"))
      .orderBy(col("__d").asc, col("term").asc)
      .limit(maxExpansions)
      .select("term").collect().map(_.getString(0)).toSeq
    // no vocabulary match ⟹ no original term exists either (distance-0
    // self-match), so searching the raw query is an equivalent cheap empty
    val terms = if (expanded.isEmpty) query else expanded
    searchTopK(docs, terms, k, idCol, textCol)
  }

  /** Percolation — the ES percolator, i.e. reverse search: match every
    * document against a catalog of STORED queries (conjunctive term sets)
    * and return which queries each doc satisfies. The reference's users
    * percolate newly crawled docs against saved alerts/filters; a training
    * pipeline uses the same shape for rule-tagged routing.
    *
    * Scale shape: the stored-query catalog is small relative to the corpus
    * → broadcast both the (query, term) pairs and the per-query term
    * counts; per-doc DISTINCT terms are computed map-side
    * (`array_distinct` before the explode), the broadcast join keeps only
    * tokens some query mentions, and the single exchange carries
    * (doc, query) hit counts — work proportional to matches, not the
    * corpus. A doc matches when its distinct-hit count equals the query's
    * term count (the [[searchAllTopK]] requireAll gate, reversed).
    * Returns (idCol, query_id).
    */
  def percolate(docs: DataFrame, queries: Seq[(String, Seq[String])],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one stored query, each with at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = queries
      .flatMap { case (qid, ts) => ts.map(_.toLowerCase).distinct.map((qid, _)) }
      .toDF("query_id", "term")
    val qSizes = queries
      .map { case (qid, ts) => (qid, ts.map(_.toLowerCase).distinct.size.toLong) }
      .toDF("query_id", "__qn")
    docs
      .select(col(idCol),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("term"))
      .join(broadcast(qdf), "term")
      .groupBy(col(idCol), col("query_id"))
      .agg(count(lit(1)).as("__hit"))
      .join(broadcast(qSizes), "query_id")
      .filter(col("__hit") === col("__qn"))
      .select(col(idCol), col("query_id"))
  }

  /** Map-side percolation twin for BOUNDED stored-query catalogs: the
    * catalog folds into the plan as literals, each doc checks every query
    * with `array_contains` over its distinct tokens, and matches explode —
    * ZERO exchange, so it runs in whole-stage codegen and, being
    * stateless, composes directly into a streaming query in append mode
    * ([[graft.streaming.StreamingOps.percolateStream]]). Semantics equal
    * [[percolate]] (parity spec); use the exchange form when the catalog
    * is too large to fold into the plan (thousands of queries — the plan
    * literal and per-row check both grow linearly with it).
    */
  def percolateInline(docs: DataFrame, queries: Seq[(String, Seq[String])],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one stored query, each with at least one term")
    val toks = array_distinct(TextOps.tokens(col(textCol)))
    val qCols = queries.map { case (qid, ts) =>
      when(ts.map(_.toLowerCase).distinct
        .map(t => array_contains(toks, t)).reduce(_ && _), lit(qid))
    }
    docs
      .select(col(idCol),
        explode(filter(array(qCols: _*), x => x.isNotNull)).as("query_id"))
  }

  /** Significant terms — the ES `significant_terms` aggregation: terms
    * OVERREPRESENTED in a foreground slice relative to the whole corpus
    * (what characterizes German pages / this domain / spam-flagged docs),
    * scored by JLH (ES's classic heuristic):
    * `(fgPct − bgPct) · (fgPct / bgPct)` with fgPct = ft/F, bgPct = bt/B
    * (term tokens over total tokens in the slice / corpus). Cross-
    * multiplied to one exact integer division,
    * `ticks = floor(10⁶ · ft · (ft·B − bt·F) / (F² · bt))`, computed in
    * DECIMAL(38,0): exact while 10⁶·ft²·B < 10³⁸, i.e. foreground slices
    * up to ~3·10¹⁰ tokens against a corpus of ~3·10¹⁰ — beyond that,
    * rescale the tick unit. Only positive scores (fgPct > bgPct) are
    * kept, as ES does — which also keeps the truncating `div` equal to
    * floor on both engines.
    *
    * Scale shape: two term-keyed aggregations (foreground counts from the
    * filtered slice, background from the corpus) joined on term — all
    * exchanges carry (term, count) pairs bounded by vocabulary, the
    * slice totals ride a broadcast scalar, and the final top-k is the
    * global top-k over the vocabulary-sized score list.
    * Returns (term, fg_count, bg_count, score_ticks, rank ≤ k).
    */
  def significantTerms(docs: DataFrame, foreground: Column, k: Int,
      textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    def termCounts(df: DataFrame, cnt: String) = df
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as(cnt))
    val fg = termCounts(docs.filter(foreground), "fg_count")
    val bg = termCounts(docs, "bg_count")
    val fgTotal = docs.filter(foreground)
      .agg(sum(size(TextOps.tokens(col(textCol)))).as("F"))
    val bgTotal = docs
      .agg(sum(size(TextOps.tokens(col(textCol)))).as("B"))
    val scored = fg.join(bg, "term")
      .crossJoin(broadcast(fgTotal)).crossJoin(broadcast(bgTotal))
      // positive-score gate BEFORE the division: truncation == floor
      .filter(col("fg_count") * col("B") > col("bg_count") * col("F"))
      .withColumn("score_ticks", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * fg_count *
          |      (fg_count*B - bg_count*F)) div (F*F*bg_count)
          |AS BIGINT)""".stripMargin))
      .select("term", "fg_count", "bg_count", "score_ticks")
    val w = Window.partitionBy(lit(1))
      .orderBy(col("score_ticks").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hybrid retrieval — keyword + embedding rankings fused by RECIPROCAL
    * RANK FUSION (Cormack, Clarke & Büttcher 2009; the method ES 8.x
    * ships for hybrid search): each candidate list contributes
    * `floor(10⁶ / (rrfK + rank))` ticks per appearance, summed per doc.
    * Integer ticks over integer RANKS keep the fusion engine-exact even
    * though the embedding side's scores are doubles (only its rank order
    * enters, and that order is the rounded-cosine total order
    * [[Similarity.bruteForceTopKMulti]] already fixes).
    *
    * The keyword list is [[searchTopK]] (pool of `poolK`); the embedding
    * list is exact cosine top-poolK against the embedding of
    * `queryVecId`. Both sides end in bounded lists, so the fusion input
    * is ≤ 2·poolK rows. Returns
    * (idCol, rrf_ticks, n_lists, rank ≤ k); `n_lists` says whether a doc
    * was found by both retrievers or one.
    */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
      query: Seq[String], queryVecId: Long, k: Int, poolK: Int = 60,
      rrfK: Int = 60, idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && poolK >= k && rrfK > 0,
      "need k > 0, poolK >= k, rrfK > 0")
    val kw = searchTopK(docs, query, poolK, idCol, textCol)
      .select(col(idCol).as("__id"), col("rank").as("__rk"))
    val ann = Similarity.bruteForceTopKMulti(embeddings,
        embeddings.filter(col(vecIdCol) === queryVecId), poolK,
        vecIdCol, vecCol)
      .select(col(vecIdCol).as("__id"), col("rank").as("__rk"))
    val fused = kw.unionByName(ann)
      .withColumn("__t", expr(s"CAST(1000000 div ($rrfK + __rk) AS BIGINT)"))
      .groupBy(col("__id"))
      .agg(sum(col("__t")).as("rrf_ticks"), count(lit(1)).as("n_lists"))
    val order = Seq(col("rrf_ticks").desc, col("__id").asc)
    fused
      .withColumn("rank",
        row_number().over(Window.partitionBy(lit(1)).orderBy(order: _*)))
      .filter(col("rank") <= k)
      .withColumnRenamed("__id", idCol)
  }

  private def queryFrame(docs: DataFrame, query: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    query.map(("q", _)).toDF("query_id", "term")
  }

  /** Substring ("wildcard") search — Elasticsearch's `*needle*` query
    * over the doc store, answered with a TRIGRAM prefilter instead of a
    * corpus-wide scan-and-match: a doc can contain `needle` only if its
    * text contains every trigram of `needle`, so candidates are docs
    * whose trigram sets cover the query's (distinct-trigram hit count ==
    * query trigram count), and only candidates pay the exact `contains`
    * verify. Exact by the necessary-condition argument (the verify step
    * removes trigram-coincidence false positives; no true match is lost
    * because containment implies every trigram is present). Returns
    * (idCol, n_query_trigrams) for each matching doc. Queries shorter
    * than 3 chars fall back to the direct scan — they have no trigram.
    *
    * Scale shape: the doc-side trigram explode filters to the query's
    * trigram set IN THE SAME projection (an `array_intersect` against a
    * plan-literal array — map-side, so the aggregation input carries only
    * (doc, matched-trigram) pairs for the ≤ |needle|−2 query trigrams,
    * not the corpus's full trigram stream); the cover check is one
    * map-side-combinable distinct-count keyed by doc; the verify is a
    * semi-join-shaped filter on the surviving candidates only. With a
    * PERSISTED trigram index (the [[buildIndex]] pattern) the explode
    * pass would be replaced by an index lookup; inline, the win is that
    * the expensive per-row `contains` runs on candidates instead of the
    * corpus — and the trigram projection prunes to ONE column read.
    */
  def wildcardSearch(docs: DataFrame, needle: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(needle.nonEmpty, "needle must be non-empty")
    val lowered = needle.toLowerCase
    val grams = lowered.sliding(3).toSeq.distinct
    // Inline (index-less) form: `contains(text, needle)` IMPLIES every
    // query trigram is present, so a trigram-cover pre-pass over the raw
    // corpus is pure overhead — it materializes an O(|text|) trigram array
    // per row and shuffles (id, gram) pairs only to re-read the text for
    // the verify. The theoretically cheapest inline execution is ONE scan
    // with one substring search per row (guide-style napkin math: the text
    // bytes must be read either way), which is exactly this single
    // zero-exchange filter. Trigram pruning pays only when it avoids
    // reading the text at all — the persisted-index path
    // ([[buildTrigramIndex]] / [[wildcardSearchIndexed]]), which touches
    // postings first and text only for candidates.
    val nGrams = if (lowered.length < 3) 0 else grams.length
    docs.filter(contains(lower(col(textCol)), lit(lowered)))
      .select(col(idCol), lit(nGrams).as("n_query_trigrams"))
  }

  /** Persisted trigram postings for [[wildcardSearch]] at corpus scale:
    * one (id, gram) row per DISTINCT doc trigram, written as a
    * [[graft.sources.BucketedStore]] catalog table bucketed AND sorted by
    * `gram` — so a query's gram lookup bucket-prunes the scan (only the
    * buckets holding the needle's ≤ |needle|−2 trigrams are read) and
    * the corpus text column is never touched until the candidate verify.
    * Build cost is one corpus pass + one write-side shuffle, paid ONCE;
    * every subsequent query reads postings only (the
    * [[graft.ops.Dedup.buildMinhashIndex]] discipline applied to
    * substring search).
    */
  def buildTrigramIndex(docs: DataFrame, table: String, path: String,
      nBuckets: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val postings = docs
      .select(col(idCol),
        explode(array_distinct(
          transform(sequence(lit(1), greatest(length(lower(col(textCol))) - 2,
            lit(1))),
            i => lower(col(textCol)).substr(i, lit(3))))).as("gram"))
      // sub-3-char tails from docs shorter than 3 chars can never match a
      // 3-char query gram — don't store them
      .filter(length(col("gram")) === 3)
    graft.sources.BucketedStore.write(postings, s"${table}_tri",
      s"$path/tri", nBuckets, "gram", Seq("gram", idCol))
    graft.sources.BucketedStore.read(docs.sparkSession, s"${table}_tri")
  }

  /** [[wildcardSearch]] against a [[buildTrigramIndex]] postings table:
    * the candidate pass filters the index on the query's trigrams — an
    * IN-list on the bucket-and-sort `gram` column — then counts gram
    * cover per doc over that bounded posting slice; only candidates join
    * back to `docs` for the exact `contains` verify. Identical output to
    * the inline form (spec-pinned); the difference is WHERE the trigram
    * pass reads from — at 10^10 docs the inline form re-derives every
    * doc's trigrams per query, the indexed form skips to the needle's
    * postings. Two pruning mechanisms, both spec-locked: (1) the IN-list
    * reaches the parquet scan as a pushed filter, and because each file
    * is SORTED by gram, row-group min/max statistics skip everything but
    * the matching gram runs — this works out of the box; (2) full bucket
    * pruning (`SelectedBucketsCount` < total) additionally applies when
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled` is false —
    * by default Spark's DisableUnnecessaryBucketedScan rule turns the
    * bucketed scan OFF here because the downstream aggregation keys on
    * the doc id, not the bucket column, and disabling it also forfeits
    * the bucket-set prune (a Spark planner trade-off, not an indexing
    * gap; deployments that run wildcard query batches should pin the
    * conf).
    */
  def wildcardSearchIndexed(docs: DataFrame, index: DataFrame,
      needle: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(needle.nonEmpty, "needle must be non-empty")
    val lowered = needle.toLowerCase
    val grams = lowered.sliding(3).toSeq.distinct
    if (lowered.length < 3)
      return docs.filter(contains(lower(col(textCol)), lit(lowered)))
        .select(col(idCol), lit(0).as("n_query_trigrams"))
    val candidates = index
      .filter(col("gram").isin(grams: _*))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === grams.length)
      .select(col(idCol))
    // exact verify on candidates only (the index prunes the text reads)
    docs.join(candidates, idCol)
      .filter(contains(lower(col(textCol)), lit(lowered)))
      .select(col(idCol), lit(grams.length).as("n_query_trigrams"))
  }
}
