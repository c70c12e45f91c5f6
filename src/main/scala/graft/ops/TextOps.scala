package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a documents
  * table (`doc_id, text, lang, source, n_chars`). All pure built-ins —
  * codegen'd end to end, no UDFs — so each is independently expressible in
  * ANSI SQL for the DuckDB oracle (SparkEntry.oracleSql).
  */
object TextOps {

  /** whitespace tokenization, lowercased. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
    * the usual GPT-2-style regex shape, counted not materialized.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Portable token hash: identical arithmetic is expressible in DuckDB SQL
    * (ascii/substr/length only), so minhash/simhash pipelines built on it
    * can be oracle-checked end to end. Weak on purpose — portability over
    * dispersion; swap for xxhash64 when no oracle is needed.
    */
  /** Default token hash for minhash/simhash at scale: xxhash64 — full
    * 64-bit dispersion, codegen'd. Not oracle-checkable (DuckDB has no
    * xxhash64 twin); oracle-backed queries pass [[portableHash]] instead.
    * A stable function VALUE (not a def) so the sketch builders can
    * recognize the default by reference and take their fused single-pass
    * kernel path (`VecKernel.shingleXxHashes`/`tokenXxHashes`).
    */
  val fastHash: Column => Column = (tok: Column) => xxhash64(tok)

  def portableHash(tok: Column): Column = {
    val padded = concat(tok, lit("xx"))
    (ascii(substring(padded, 1, 1)) * 961 +
      ascii(substring(padded, 2, 1)) * 31 +
      ascii(substring(padded, 3, 1)) +
      length(tok) * 7919).cast("long")
  }

  /** Tiny per-language stopword lexicons for the n-gram/stopword language-ID
    * heuristic. Fixed and public — the oracle SQL embeds the same lists.
    */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une", "de", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "y", "es", "un", "una", "de", "en", "por", "para"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "bu"))

  /** language-ID: argmax of lexicon-hit counts over whitespace tokens;
    * deterministic tie-break = lexicon order ("und" ties included). Counts
    * token *occurrences* (not distinct) so repeated stopwords vote.
    */
  def langId(text: Column): Column = {
    // all 5 lexicon scores from ONE kernel pass over the tokens
    // (TextKernel.lexiconCounts; the per-lexicon `filter(toks, …)` forms
    // evaluate interpreted); argmax with first-wins tie-break via
    // array_position-of-max so each score appears once in the plan
    val scores = graft.functions.TextExpressions.lexiconCounts(
      tokens(text), Lexicons.map(_._2))
    val langs = typedLit(Lexicons.map(_._1))
    val top = array_max(scores)
    when(top > 0, element_at(langs, array_position(scores, top).cast("int")))
      .otherwise(lit("und"))
  }

  /** Quality-score features + a composite score (length, punctuation ratio,
    * stopword ratio, mean token length) — the standard pre-training text
    * quality heuristics.
    */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val toks = tokens(text)
    val nTok = size(toks)
    val allStop = Lexicons.flatMap(_._2).distinct
    val stopHits = element_at(
      graft.functions.TextExpressions.lexiconCounts(toks, Seq(allStop)), 1)
    df
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_token_len",
        round((length(text) - nTok + 1).cast("double") / nTok, 4))
      .withColumn("punct_ratio",
        round(length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") /
          greatest(length(text), lit(1)), 4))
      .withColumn("stopword_ratio",
        round(stopHits.cast("double") / greatest(nTok, lit(1)), 4))
      // floor-quantized, not round()ed: the rounded inputs × decimal weights
      // structurally land on .5 boundaries where Spark's BigDecimal-valueOf
      // rounding and DuckDB's double rounding disagree; floor over identical
      // doubles is engine-invariant
      .withColumn("quality_score",
        floor((least(nTok.cast("double") / 64.0, lit(1.0)) * 0.5 +
          col("stopword_ratio") * 0.3 +
          (lit(1.0) - col("punct_ratio")) * 0.2) * 10000) / 10000.0)
  }

  /** Repetition-based quality features (the Gopher-style pre-training
    * filters): per document, the fraction of 2-gram OCCURRENCES that are
    * repeats (1 − distinct/total) and the fraction of characters covered
    * by the single most frequent 2-gram. One shuffle on (doc_id, bigram)
    * with map-side partial aggregation; SQL-expressible for the oracle.
    */
  def repetitionFeatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bi = docs.select(col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars_doc"),
      explode(Dedup.shingles(col(textCol), 2)).as("bigram"))
    val g1 = bi.groupBy("doc_id", "n_chars_doc", "bigram")
      .agg(count(lit(1)).as("n"))
    g1.groupBy("doc_id", "n_chars_doc")
      .agg(
        count(lit(1)).as("distinct_bigrams"),
        sum("n").as("total_bigrams"),
        // argmax by (count, length): ties on both give the same n·len, so
        // the metric is deterministic either way
        max(struct(col("n"), length(col("bigram")).as("len"))).as("top"))
      .select(col("doc_id"),
        round(lit(1.0) - col("distinct_bigrams").cast("double") / col("total_bigrams"), 4)
          .as("dup_2gram_frac"),
        round(col("top.n").cast("double") * col("top.len") /
          greatest(col("n_chars_doc"), lit(1)), 4).as("top_2gram_char_frac"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * content-defined identity for exact dedup across formatting variants.
    * (md5 is bit-identical in DuckDB → hash-compare-safe.)
    */
  def fingerprint(text: Column): Column =
    // lowercase + \s+ collapse + trim as ONE byte scan (TextKernel) — the
    // regexp form dominated exact-dedup CPU; output strings are identical
    md5(graft.functions.TextExpressions.normalizeWsLower(text))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, the MOSS
    * scheme — public construction): hash every k-token shingle, slide a
    * w-hash window, keep each window's MINIMAL hash (leftmost on ties);
    * the distinct (position, hash) selections are the document's
    * fingerprints. Coverage guarantee: any shared token run of length
    * ≥ w+k−1 shares at least one fingerprint; expected density 2/(w+1),
    * so the downstream match join carries ~2/(w+1) of the shingle stream
    * instead of all of it.
    *
    * Entirely MAP-SIDE: shingle hashing, the sliding minima, and the
    * distinct-selection dedup are array expressions inside one Project —
    * zero exchanges (plan-locked in PlanSpec). Documents shorter than one
    * window emit their single whole-text window. `hash` defaults to
    * xxhash64 (production); pass [[portableHash]] for the DuckDB twin.
    * Returns (idCol, pos, fp) rows.
    */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int,
      idCol: String = "doc_id", textCol: String = "text",
      hash: Column => Column = fastHash): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val hs = Dedup.shingleHashes(col(textCol), k, hash)
    val nWin = greatest(lit(1), size(hs) - (w - 1))
    val sel = array_distinct(transform(sequence(lit(0), nWin - 1), i => {
      val win = slice(hs, i + 1, lit(w)) // clamps at the tail / short docs
      val mn = array_min(win)
      struct((i + array_position(win, mn) - 1).cast("long").as("pos"),
        mn.as("fp"))
    }))
    docs.select(col(idCol), explode(sel).as("__s"))
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** Top-k characteristic terms per document, tf-idf-style: term frequency
    * weighted by inverse document frequency. The weight is the RAW ratio
    * `tf · (N+1)/(df+1)` rather than the usual log form: an integer-ratio
    * division is correctly rounded under IEEE-754, so the score — and
    * therefore the ranking — is bit-identical across engines (ln() is only
    * ~1-ulp accurate in most libms, which can flip a rank at a rounding
    * boundary and break the DuckDB oracle).
    *
    * Scale shape: one (doc, term) shuffle with map-side partial counts, a
    * vocabulary aggregation, a term-keyed join (the vocabulary side is
    * orders smaller than the corpus), and a per-doc top-k window — the
    * window partitions by doc_id, so no global sort.
    */
  def topTerms(docs: DataFrame, k: Int, totalDocs: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val terms = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("score",
        col("tf") * (lit(totalDocs + 1).cast("double")) / (col("df") + 1))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score"),
        col("__rank").as("rank"))
  }

  /** C4-style corpus-wide line dedup (Raffel et al. 2020, the boilerplate
    * filter): lines occurring more than `maxLineFreq` times ACROSS the
    * corpus (cookie banners, nav text) are removed from every document;
    * each document's surviving lines reassemble in original order. A doc
    * whose lines are all boilerplate drops out entirely.
    *
    * Scale shape: explode → one shuffle keyed on the line with map-side
    * partial counts (the hot set is tiny — boilerplate by definition —
    * so the removal anti-join broadcasts under AQE) → per-doc ordered
    * reassembly on the doc-id shuffle. Returns (idCol, textCol).
    *
    * `hashLines` (default true) keys the corpus-wide frequency exchange and
    * the removal anti-join on `xxhash64(line)` — an 8-byte key instead of
    * the raw line text, which for exactly the lines this filter targets
    * (cookie banners, nav boilerplate) is routinely 50–200 bytes, an
    * order-of-magnitude-wider exchange at corpus scale. A hash collision
    * can only over-remove a line pair at ~2^-64 (and line dedup already
    * errs toward removal by contract); pass false for the string-keyed
    * DuckDB-oracle-checkable form — same pattern as
    * [[graft.ops.Dedup.ngramContamination]]'s `hashShingles`.
    */
  def lineDedup(docs: DataFrame, maxLineFreq: Long,
      idCol: String = "doc_id", textCol: String = "text",
      hashLines: Boolean = true): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val key = if (hashLines) xxhash64(col("__line")) else col("__line")
    val keyed = lines.withColumn("__k", key)
    val hot = keyed.groupBy("__k").agg(count(lit(1)).as("__freq"))
      .filter(col("__freq") > maxLineFreq).select("__k")
    keyed.join(hot, Seq("__k"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), "\n").as(textCol))
  }

  /** Within-document repeated-line removal, keeping the FIRST occurrence of
    * every line — the intra-document half of boilerplate stripping (a page
    * that repeats its own nav/footer block). Entirely map-side: split,
    * order-preserving `array_distinct` (Spark keeps first occurrence),
    * rejoin — ZERO shuffle, whole-stage codegen, so at 100 TB it costs one
    * scan and composes freely with the corpus-wide [[lineDedup]] (which
    * needs its frequency exchange; this one never does).
    */
  def intraDocLineDedup(text: Column): Column =
    array_join(array_distinct(split(text, "\n")), "\n")

  /** Fixed-size document chunking with overlap — the RAG/long-context
    * preparation step: each document's whitespace tokens split into
    * `chunkTokens`-token windows advancing by `chunkTokens − overlapTokens`
    * (the last chunk may be shorter; a doc shorter than one chunk yields
    * itself). Entirely map-side — `transform`/`sequence`/`slice` over the
    * token array then one `posexplode` — zero shuffle, whole-stage codegen,
    * so at 100 TB it costs one scan and the output order is a pure function
    * of the input row. Unlike [[Sampling.packSequences]] (corpus-level
    * concat-and-chunk for training sequences), chunks here never cross
    * document boundaries. Returns (idCol, chunk_idx, chunk_text,
    * chunk_tokens).
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlapTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "need 0 <= overlapTokens < chunkTokens")
    val stride = chunkTokens - overlapTokens
    val toks = split(col(textCol), "\\s+")
    val n = size(toks)
    val nChunks = greatest(
      ceil((n - lit(overlapTokens)) / lit(stride.toDouble)).cast("int"), lit(1))
    // NULL text yields no chunks (greatest(NULL,1)=1 would otherwise emit a
    // spurious all-NULL row that a SQL unnest-over-NULL-list never produces)
    docs.filter(col(textCol).isNotNull).select(col(idCol),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * stride + 1, lit(chunkTokens)), " ")))
        .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("chunk_tokens",
        size(split(col("chunk_text"), "\\s+")).cast("long"))
  }

  /** Domain-level quality rollup (the FineWeb/DCLM-style curation step:
    * score domains, not just documents): per `domainCol`, the document
    * count and the SUM of per-doc quality scores in integer ten-thousandths
    * ("ticks"). Summing exact integer ticks instead of averaging doubles
    * makes the rollup — and any threshold decision on it — bit-identical
    * across summation orders and engines; the quantization is lossless
    * because [[qualityFeatures]] floor-quantizes the score to 4 decimals.
    * One shuffle keyed on the domain; at web scale the domain cardinality
    * is ~10^7 — the rollup output is MBs where the corpus is TBs.
    */
  def domainQualityRollup(docs: DataFrame, textCol: String = "text",
      domainCol: String = "source"): DataFrame =
    qualityFeatures(docs, textCol)
      .select(col(domainCol),
        // score = k/10000 exactly (floor-quantized); +0.5-floor recovers k
        // with ~1e-12 headroom — engine-invariant integer ticks
        floor(col("quality_score") * 10000.0 + 0.5).cast("long").as("__ticks"))
      .groupBy(domainCol)
      .agg(count(lit(1)).as("n_docs"), sum("__ticks").as("sum_ticks"))

  /** Drop every document whose DOMAIN's mean quality score falls below
    * `minMeanScore` (quantized to ticks): integer cross-multiplied compare
    * `sum_ticks ≥ round(minMeanScore·10⁴)·n_docs` — no double division, so
    * the keep/drop decision is exact at the boundary. The surviving-domain
    * set joins back as a left-semi; it is the post-aggregation rollup
    * (runtime-tiny next to the corpus), so AQE plans the probe as a
    * broadcast join — docs never reshuffle.
    */
  def domainQualityFilter(docs: DataFrame, minMeanScore: Double,
      textCol: String = "text", domainCol: String = "source"): DataFrame = {
    val thrTicks = math.round(minMeanScore * 10000.0)
    val keep = domainQualityRollup(docs, textCol, domainCol)
      .filter(col("sum_ticks") >= lit(thrTicks) * col("n_docs"))
      .select(domainCol)
    docs.join(keep, Seq(domainCol), "left_semi")
  }

  /** Unigram language-model surprisal scoring — the CCNet-style perplexity
    * filter (Wenzek et al. 2020) with the LM trained ON the corpus itself:
    * per token, surprisal = −ln(count/total) quantized to integer millionths
    * ("ticks", exact at 1e-6 with ~1e-10 ulp headroom per distinct token);
    * per document, the COUNT of tokens and the SUM of ticks. Summing exact
    * integers makes the per-doc score order-invariant — a double log-prob
    * sum would differ across partition orders and engines.
    *
    * CORPUS-DEPENDENT exactness caveat (unlike the genuinely integer-exact
    * operators): the tick quantization assumes JVM `Math.log` and the
    * oracle engine's `ln` agree to within the ~1e-10 headroom. libm
    * implementations differ by ulps, so a (count, total) pair whose
    * −ln(p)·1e6 + 0.5 lands within an ulp of an integer COULD flip floor()
    * between engines — probability ~1e-10 per distinct vocabulary ratio,
    * zero observed on the test corpora, but not a structural guarantee.
    * Downstream compares ([[perplexityBuckets]]) are exact GIVEN the ticks.
    *
    * Tokens rarer than `minTokenFreq` fall out of the vocabulary and score
    * as out-of-vocabulary at the maximum surprisal ln(total) — the standard
    * OOV floor, and the thing that bounds the vocabulary at web scale
    * (unique typos/URLs are ~half of all distinct tokens).
    *
    * Scale shape: one token-keyed shuffle builds the counts (map-side
    * partial agg); the frequency-cut vocabulary is orders smaller than the
    * corpus, so AQE broadcasts it into the scoring join; one doc-keyed
    * shuffle sums the integer ticks. The 1-row total rides an explicit
    * broadcast. Returns (idCol, n_tokens, surprisal_ticks).
    */
  def lmSurprisal(docs: DataFrame, minTokenFreq: Long = 1L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
    val counts = toks.groupBy("__tok").agg(count(lit(1)).as("__cnt"))
    val totalDf = counts.agg(sum("__cnt").as("__total"))
    val vocab = counts.filter(col("__cnt") >= minTokenFreq)
      .crossJoin(broadcast(totalDf))
      .select(col("__tok"), floor(
        -log(col("__cnt").cast("double") / col("__total")) * 1e6 + 0.5)
        .cast("long").as("__ticks"))
    toks.crossJoin(broadcast(totalDf))
      .join(vocab, Seq("__tok"), "left")
      .select(col(idCol), coalesce(col("__ticks"),
        floor(log(col("__total").cast("double")) * 1e6 + 0.5).cast("long"))
        .as("__t"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("__t").as("surprisal_ticks"))
  }

  /** CCNet head/middle/tail perplexity bucketing over [[lmSurprisal]]
    * scores: a document is `head` when its mean per-token surprisal is at
    * most the corpus mean, `tail` when it exceeds `tailNum/tailDen` × the
    * corpus mean (default 5/4), `middle` between. Every compare is an
    * integer cross-multiplication in decimal(38,0) — no division, so the
    * bucket boundary is exact and cluster-size-invariant even where BIGINT
    * would overflow (corpus tick totals reach ~2×10²⁰ at 100 TB; the
    * decimal(38,0) products cap at ~10³⁴). The corpus totals are a 1-row
    * aggregate riding an explicit broadcast — the corpus is scanned by
    * [[lmSurprisal]] and never reshuffled here.
    */
  def perplexityBuckets(docs: DataFrame, minTokenFreq: Long = 1L,
      tailNum: Int = 5, tailDen: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = lmSurprisal(docs, minTokenFreq, idCol, textCol)
    val corpus = scored.agg(
      sum("n_tokens").as("__N"), sum("surprisal_ticks").as("__T"))
    val dec = "decimal(38,0)"
    val docSide = col("surprisal_ticks").cast(dec) * col("__N").cast(dec)
    val corpusSide = col("__T").cast(dec) * col("n_tokens").cast(dec)
    scored.crossJoin(broadcast(corpus))
      .select(col(idCol), col("n_tokens"), col("surprisal_ticks"),
        when(docSide <= corpusSide, "head")
          .when(docSide * lit(tailDen) <= corpusSide * lit(tailNum), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** PII scrubbing for training corpora: emails, IPv4 addresses and
    * phone-shaped numbers become typed placeholder tokens. Pure
    * regexp_replace chain (codegen'd, map-side, no shuffle); the patterns
    * avoid lookarounds so the same expressions run under Java regex here
    * and RE2 in the DuckDB oracle. Order matters: emails first (their
    * digits must not be phone-matched), then IPs (dotted digits must not
    * be phone-matched), then phones.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9][0-9 -]{6,13}[0-9]"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  private[graft] val RollingFpP = 1000000007L
  // 31^(i mod 8) mod P — bounded weights keep the math in 63 bits both here
  // and in DuckDB (31^7 < 2^53, so the pow round-trip is exact)
  private[graft] val RollingFpWeights: Array[Long] =
    Array.tabulate(8)(i => math.pow(31, i).toLong % RollingFpP)

  /** Rolling polynomial fingerprint over token hashes (position-weighted mod
    * arithmetic; portable to SQL via the same CASE-mod formulation) — one
    * codegen pass ([[graft.functions.TextKernel.rollingFp]]): the
    * declarative `transform`+`zip_with`+`aggregate` build evaluates its
    * lambdas interpreted, a full-corpus per-row cost at scale. Identical
    * fold arithmetic (see [[rollingFingerprintDeclarative]], kept as the
    * parity witness), so DuckDB-oracle hashes are unchanged.
    */
  def rollingFingerprint(text: Column): Column =
    graft.functions.TextExpressions.rollingFp(
      tokens(text), RollingFpWeights, RollingFpP)

  /** The pre-kernel declarative formulation — sum(h_i · 31^(i mod 8) mod P)
    * mod P via higher-order functions. Retained ONLY as the spec's
    * value-parity witness for the kernel (TextOpsSpec).
    */
  private[graft] def rollingFingerprintDeclarative(text: Column): Column = {
    val P = RollingFpP
    val toks = tokens(text)
    val hashes = transform(toks, t => portableHash(t))
    val weighted = zip_with(hashes, sequence(lit(0), size(toks) - 1),
      (h, i) => pmod(h * element_at(typedlit(RollingFpWeights.toSeq),
        (pmod(i, lit(8)) + 1).cast("int")), lit(P)))
    pmod(aggregate(weighted, lit(0L), (acc, x) => pmod(acc + x, lit(P))), lit(P))
  }

  /** Hashed-bag-of-words linear classifier score — the model-based filter
    * stage of an LLM data pipeline (the fastText-style quality/toxicity
    * classifiers of CCNet/GPT-3-era curation, Joulin 2017 / Brown 2020):
    * `score = bias + Σ_token weights[h(token) mod dim]`, with weights in
    * integer ticks so the per-doc score is a BIGINT sum —
    * order-independent and engine-exact. The weight table folds into the
    * plan as a literal and the whole scorer is ONE codegen kernel pass
    * per row ([[graft.functions.TextKernel.linearScoreTicks]]) — pure
    * map-side, so classifier-filtering (`linearScoreTicks(...) >= lit(t)`)
    * composes onto any plan with zero exchange. Uses the portable token
    * hash (oracle-replayable); [[linearScoreTicksDeclarative]] is the
    * spec's value-parity witness.
    */
  def linearScoreTicks(text: Column, weightTicks: Seq[Long],
      biasTicks: Long = 0L): Column = {
    require(weightTicks.nonEmpty, "need at least one weight")
    graft.functions.TextExpressions.linearScoreTicks(
      tokens(text), weightTicks.toArray, biasTicks)
  }

  /** Declarative twin of [[linearScoreTicks]] (interpreted HOFs) — kept as
    * the kernel's value-parity witness in the spec.
    */
  private[graft] def linearScoreTicksDeclarative(text: Column,
      weightTicks: Seq[Long], biasTicks: Long): Column = {
    val dim = weightTicks.size
    aggregate(
      transform(tokens(text), t => element_at(typedlit(weightTicks),
        (pmod(portableHash(t), lit(dim.toLong)) + 1).cast("int"))),
      lit(biasTicks), (acc, x) => acc + x)
  }

  // ---- BPE tokenizer training (Sennrich, Haddow & Birch 2016) -------------

  /** Word vocabulary as symbol sequences: (syms: array<string> of initial
    * single characters, freq). THE key scale move of corpus BPE: all merge
    * iterations run over the DISTINCT-WORD table (bounded by vocabulary,
    * ~10⁷–10⁸ rows at web scale), never over the corpus — the corpus is
    * scanned exactly once, here.
    */
  private def bpeVocab(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))").as("syms"),
        col("freq"))

  /** Adjacent-pair frequencies over symbol sequences: (l, r, c) with
    * c = Σ word_freq per occurrence. One bounded-key exchange (pairs of
    * the live symbol alphabet). 0-based `syms[i]` indexing.
    */
  private def bpePairCountsOf(vocab: DataFrame): DataFrame =
    vocab
      // single-symbol rows carry no pairs — and sequence(0, -1) would
      // DESCEND ([0, -1]), fabricating a null-symbol pair
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(0, size(syms) - 2),
          |  i -> struct(syms[i] AS l, syms[i+1] AS r))""".stripMargin)).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("c"))

  /** The top-k merge CANDIDATES of iteration 1 (adjacent character pairs
    * weighted by word frequency) — the oracle-checkable window into BPE
    * training; [[bpeTrain]]'s first selected merge is row 1. Global
    * top-k over the pair alphabet.
    */
  def bpePairCandidates(docs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(1))
      .orderBy(col("c").desc, col("l").asc, col("r").asc)
    bpePairCountsOf(bpeVocab(docs, textCol))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** BPE tokenizer TRAINING over the corpus: `nMerges` rounds of
    * (count adjacent symbol pairs weighted by word frequency → pick the
    * most frequent, ties broken (count desc, l asc, r asc) for
    * determinism → merge it everywhere). Returns the learned merge table
    * (rank, l, r, count) — the model itself, bounded by nMerges, hence a
    * driver-side value.
    *
    * Scale shape: iterations run over the distinct-word vocabulary (see
    * [[bpeVocab]]), each costing one bounded-key pair-count exchange +
    * one argmax (a 1-row driver pull, the standard per-merge round-trip
    * of distributed BPE) + one map-side kernel merge pass
    * ([[graft.functions.TextKernel.mergePair]] — codegen, no interpreted
    * HOF). The vocab is persisted per round and lineage-truncated with
    * `localCheckpoint` (the [[GraphOps.pageRank]] discipline) so long
    * merge schedules don't grow the plan.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int,
      textCol: String = "text"): Seq[(Int, String, String, Long)] = {
    require(nMerges > 0, "nMerges must be positive")
    var vocab = bpeVocab(docs, textCol).persist()
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val top = bpePairCountsOf(vocab)
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, c))
        val next = vocab
          .select(graft.functions.TextExpressions.mergePair(
            col("syms"), l, r).as("syms"), col("freq"))
          .localCheckpoint(true)
        vocab.unpersist(blocking = false)
        vocab = next
        rank += 1
      }
    }
    vocab.unpersist(blocking = false)
    merges.toSeq
  }

  /** Apply a learned merge table to a text column: tokenize, split each
    * word into characters, replay the merges IN RANK ORDER (the standard
    * BPE encoder), concatenate. Pure map-side kernel passes — composes
    * onto any plan with zero exchange. `merges` is the caller's model
    * (from [[bpeTrain]] or elsewhere), folded into the plan as literals.
    */
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(tokens(text), x =>
      merges.foldLeft(
        transform(sequence(lit(1), length(x)), i => x.substr(i, lit(1)))) {
        case (acc, (l, r)) =>
          graft.functions.TextExpressions.mergePair(acc, l, r)
      }))

  /** Corpus n-gram counts with a count floor — the statistics pass every
    * LM data pipeline runs (KN smoothing tables, contamination n-gram
    * blocklists, memorization audits): each document's token stream
    * yields its `n`-token windows; windows count corpus-wide; grams below
    * `minCount` drop. Returns (ngram, cnt) with space-joined grams.
    *
    * Scale shape: the window expansion is a per-row `transform` over the
    * token array (map-side, no exchange, whole-stage codegen — the same
    * `sequence`/`slice` construction as [[chunkDocuments]]); the count is
    * ONE aggregation keyed by the gram with map-side partial combine, so
    * the exchange carries (gram, partial-count) pairs bounded by the
    * distinct-gram vocabulary per partition, not by corpus positions.
    * The `minCount` filter runs post-aggregation (it must see global
    * counts) but pre-materialization — singleton grams (the long tail,
    * typically >80% of distinct grams at n≥3) never leave the agg.
    */
  def ngramCounts(docs: DataFrame, n: Int, minCount: Long = 2L,
      textCol: String = "text"): DataFrame = {
    require(n > 0 && minCount >= 1, "n and minCount must be positive")
    docs
      .select(explode(ngrams(tokens(col(textCol)), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Space-joined `n`-token windows of a token-array column (empty array
    * when the document has fewer than `n` tokens — the guard is explicit
    * because Spark's `sequence(1, 0)` DESCENDS instead of being empty).
    */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Collocation mining — bigrams that co-occur far more than their parts
    * predict (the "New York" detector; phrase vocabularies for tokenizers
    * and query segmentation come from exactly this table). Association is
    * LIFT in integer ticks:
    *   lift = P(xy) / (P(x)·P(y)) = (c_xy / Nb) / ((c_x/Nu)·(c_y/Nu))
    *   lift_ticks = floor(1e6 · c_xy · Nu² / (Nb · c_x · c_y))
    * computed by ONE decimal(38,0) cross-multiplied division — exact and
    * engine-identical while 1e6·c_xy·Nu² < 1e38 (Nu ≈ 10¹² tokens with
    * c_xy ≤ 10⁸ fits; the bound is documented, not silent — beyond it the
    * decimal overflows loudly). Lift rather than log-PMI KEEPS the score
    * in integer arithmetic: log-PMI would reintroduce the libm-ulp
    * hazard [[lmSurprisal]] documents, and the two orderings are
    * identical (log is monotone). Returns the top `k` bigrams with both
    * unigram counts above `minCount`, ranked by (lift_ticks desc, bigram
    * asc).
    *
    * Scale shape: two vocabulary-bounded aggregations (bigram counts,
    * unigram counts) + two joins of the bigram table against the unigram
    * table keyed on a single term — all exchanges carry (term, count)
    * pairs; the corpus totals ride broadcast scalars ([[ngramCounts]] /
    * `significantTerms` discipline); the final global top-k plans as a
    * `TakeOrderedAndProject`, with no window over the scored table.
    */
  def collocations(docs: DataFrame, k: Int, minCount: Long = 5L,
      textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    // ONE corpus pass, ONE corpus-sized exchange. Every token position
    // emits a (token, following-token-or-null) pair; the (x, y) count
    // table then yields EVERYTHING downstream without touching the corpus
    // again: unigram counts = Σ_y cnt(x, y) (each occurrence is exactly
    // one pair's x — document tails pair with null), bigram counts = the
    // y-non-null cells, and the corpus totals Nu = Σ cnt, Nb = Σ
    // cnt[y≠null]. The four derivations reference the same aggregation
    // subtree, so ReuseExchange runs the scan+tokenize+shuffle once and
    // the re-aggs replay from the (vocabulary-bounded) shuffle files —
    // previously this was FOUR independent corpus scans (uni, bi, and
    // two total aggs), each re-tokenizing every document.
    // token array materialized in its OWN projection: the pair lambda
    // reads it twice (element + successor), and inlining the split() into
    // the lambda body would re-tokenize per ELEMENT (O(n²) per doc —
    // CollapseProject keeps multi-referenced non-cheap aliases apart)
    val pairs = docs
      .select(tokens(col(textCol)).as("__t"))
      .select(explode(transform(col("__t"),
        (t, i) => struct(t.as("x"), get(col("__t"), i + 1).as("y")))).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("cnt"))
    val uni = pairs.groupBy(col("x").as("term"))
      .agg(sum(col("cnt")).as("c"))
      .filter(col("c") >= minCount)
    val bi = pairs.filter(col("y").isNotNull && col("cnt") >= minCount)
      .select(concat(col("x"), lit(" "), col("y")).as("ngram"),
        col("x"), col("y"), col("cnt"))
    val totals = pairs.agg(
      sum(col("cnt")).as("Nu"),
      coalesce(sum(when(col("y").isNotNull, col("cnt"))), lit(0L)).as("Nb"))
    val scored = bi
      .join(uni.withColumnRenamed("term", "x").withColumnRenamed("c", "cx"), "x")
      .join(uni.select(col("term").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(totals))
      .withColumn("lift_ticks", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * cnt * Nu * Nu)
          |     div (CAST(Nb AS DECIMAL(38,0)) * cx * cy)
          |AS BIGINT)""".stripMargin))
      .select(col("ngram").as("bigram"), col("cnt"), col("cx"), col("cy"),
        col("lift_ticks"))
    val w = Window.partitionBy(lit(1))
      .orderBy(col("lift_ticks").desc, col("bigram").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
