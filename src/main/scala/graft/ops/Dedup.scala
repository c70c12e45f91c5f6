package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines — exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine — over a documents table
  * (`doc_id, text, …`) and an embeddings table (`vec_id, embedding`).
  *
  * Scale design: every variant is one shuffle on a bounded key
  * (fingerprint / band signature / shingle / bucket) followed by bounded
  * per-group work; no cross-product materializes unless two documents share
  * a key. Candidate verification re-ranks exactly, so LSH fpp only costs
  * compute, never correctness.
  */
object Dedup {

  // --- exact ---------------------------------------------------------------

  /** Exact dedup by normalized-content fingerprint (hash-groupBy): one
    * representative (min doc_id) per distinct content + duplicate count.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", TextOps.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // --- shingles ------------------------------------------------------------

  /** k-token shingles (ordered), as strings — one codegen pass over the
    * token array ([[graft.functions.TextKernel.shingleStrings]]); the
    * declarative `transform` + per-position `concat_ws` build evaluates
    * interpreted. Values identical (DuckDB oracles unchanged).
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.TextExpressions.shingleStrings(TextOps.tokens(text), k)

  /** numeric shingle hashes in [0, P). `hash` defaults to xxhash64 (full
    * 64-bit dispersion — the production choice at 100 TB, where a weak hash
    * floods LSH buckets with false candidates); pass
    * [[TextOps.portableHash]] for DuckDB-oracle-checkable runs. The default
    * takes a fused single-pass kernel (tokens → shingle hashes, no
    * materialized shingle strings, values identical — asserted by
    * DedupSpec); custom hashes keep the declarative two-pass build.
    */
  def shingleHashes(text: Column, k: Int,
      hash: Column => Column = TextOps.fastHash): Column =
    if (hash eq TextOps.fastHash)
      graft.functions.LshExpressions.shingleXxHashes(TextOps.tokens(text), k, MinhashP)
    else transform(shingles(text, k), s => pmod(hash(s), lit(MinhashP)))

  // --- MinHash + LSH ---------------------------------------------------------

  val MinhashP = 2147483647L // 2^31 - 1 (Mersenne prime)

  /** deterministic (a, b) coefficients for hash family j. */
  def minhashCoef(j: Int): (Long, Long) = {
    // & Long.MaxValue (not abs — abs(MinValue) is negative) keeps the
    // coefficients nonnegative so `%` and `pmod` agree across engines
    val a = (graft.corpus.SyntheticCorpus.mix64(j.toLong * 2 + 1) & Long.MaxValue) % (MinhashP - 1) + 1
    val b = (graft.corpus.SyntheticCorpus.mix64(j.toLong * 2 + 2) & Long.MaxValue) % MinhashP
    (a, b)
  }

  /** MinHash signature: array of `numHashes` values, h_j = min over shingle
    * hashes s of (a_j·s + b_j) mod P. Computed per row over the shingle
    * array — no explode, no shuffle; one pass per document.
    *
    * NOTE for pipelines: this embeds the shingle-hash subtree once per hash
    * function. Project the hashes first ([[shingleHashes]] in its own select)
    * and call [[minhashSignatureFromHashes]] so the tokenize+shingle work is
    * planned once — Catalyst keeps the projection boundary because the
    * producer expression is non-cheap and referenced `numHashes` times.
    */
  def minhashSignature(text: Column, k: Int = 3, numHashes: Int = 16,
      hash: Column => Column = TextOps.fastHash): Column =
    minhashSignatureFromHashes(shingleHashes(text, k, hash), numHashes)

  /** signature from a precomputed shingle-hash array column — one
    * single-pass codegen kernel ([[graft.functions.VecKernel.minhashSig]])
    * instead of `numHashes` interpreted `aggregate` folds per row; fold
    * identical, so the DuckDB-oracle signatures are unchanged.
    */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int): Column = {
    val coefs = (0 until numHashes).map(minhashCoef)
    graft.functions.LshExpressions.minhashSig(hashes,
      coefs.map(_._1).toArray, coefs.map(_._2).toArray, MinhashP)
  }

  /** MinHash LSH near-dup candidate pairs: band the signature, bucket-join
    * on (band index, band signature), verify with exact signature
    * similarity. `bands · rowsPerBand == numHashes`.
    *
    * Shuffle profile: the band explode carries (id, band, bandSig) ONLY —
    * shipping the full signature on both join sides would multiply the
    * exchange width by `bands`. Candidate pairs are deduped while still
    * narrow, then the signatures are re-joined by id for the exact verify.
    */
  /** `hashBandKeys` (default true) buckets on `xxhash64(band slice)` — an
    * 8-byte key instead of shipping the `rowsPerBand`-long slice array on
    * both sides of the band self-join (~3× narrower exchange at 4-long
    * bands). A key collision only adds a candidate pair, and the exact
    * signature-similarity verify rejects it; pass false for the
    * slice-keyed DuckDB-oracle-checkable form.
    */
  /** (signatures(id, sig), banded(id, band, bandSig)) for `docs` — the
    * shared front end of the batch and incremental minhash paths.
    */
  private[graft] def bandedSignatures(docs: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int, rowsPerBand: Int,
      hash: Column => Column, hashBandKeys: Boolean): (DataFrame, DataFrame) = {
    val numHashes = bands * rowsPerBand
    val sigd = docs
      .select(col(idCol).as("id"), shingleHashes(col(textCol), k, hash).as("__h"))
      .select(col("id"), minhashSignatureFromHashes(col("__h"), numHashes).as("sig"))
    def bandKey(b: Column): Column = {
      val sliced = slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
      // hashed form folds the band INDEX into the key, so the bucket join
      // runs on ONE atomic column — the shape both the bucketed
      // incremental index and Spark's bucket-join matching need (a
      // two-column (band, key) join can't reuse a bucketBy(bandSig)
      // layout). A cross-band collision only adds a candidate pair; the
      // exact verify rejects it.
      if (hashBandKeys) xxhash64(b, sliced) else sliced
    }
    val banded = sigd.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b => bandKey(b))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandSig")
    (sigd, banded)
  }

  /** band-join keys: the hashed form's key already encodes the band. */
  private def bandJoinKeys(hashBandKeys: Boolean): Seq[String] =
    if (hashBandKeys) Seq("bandSig") else Seq("band", "bandSig")

  def minhashNearDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minSignatureSim: Double = 0.5,
      hash: Column => Column = TextOps.fastHash,
      hashBandKeys: Boolean = true): DataFrame = {
    val numHashes = bands * rowsPerBand
    val (sigd, banded) = bandedSignatures(docs, idCol, textCol, k, bands,
      rowsPerBand, hash, hashBandKeys)
    val keys = bandJoinKeys(hashBandKeys)
    val candPairs = banded
      .select((keys.map(col) :+ col("id").as("id_a")): _*)
      .join(banded.select((keys.map(col) :+ col("id").as("id_b")): _*), keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candPairs
      .join(sigd.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigd.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / numHashes).as("sig_sim"))
      .filter(col("sig_sim") >= minSignatureSim)
  }

  /** Persisted MinHash index of an already-deduped corpus: banded keys
    * bucketed by `bandSig` and signatures bucketed by `id`, both catalog
    * tables ([[graft.sources.BucketedStore]]). Requires hashed band keys
    * (bucketing needs an atomic key column).
    */
  final case class MinhashIndex(bands: DataFrame, sigs: DataFrame)

  /** Build and persist the [[MinhashIndex]] for `docs`. The corpus-side
    * shuffle (banding + signature layout) is paid ONCE here; every
    * subsequent incremental round reads both tables pre-bucketed, so the
    * candidate join and the verify join exchange only the DELTA (see
    * [[minhashNearDupsIncremental]]) — at 10^10 accumulated docs that is
    * the difference between re-shuffling the corpus per crawl round and
    * shuffling a few million new rows.
    */
  def buildMinhashIndex(docs: DataFrame, table: String, path: String,
      nBuckets: Int, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      hash: Column => Column = TextOps.fastHash): MinhashIndex = {
    val (sigd, banded) = bandedSignatures(docs, idCol, textCol, k, bands,
      rowsPerBand, hash, hashBandKeys = true)
    graft.sources.BucketedStore.write(banded, s"${table}_bands",
      s"$path/bands", nBuckets, "bandSig", Seq("bandSig", "band", "id"))
    graft.sources.BucketedStore.write(sigd, s"${table}_sigs",
      s"$path/sigs", nBuckets, "id", Seq("id"))
    val spark = docs.sparkSession
    MinhashIndex(
      graft.sources.BucketedStore.read(spark, s"${table}_bands"),
      graft.sources.BucketedStore.read(spark, s"${table}_sigs"))
  }

  /** INCREMENTAL near-dup detection — each crawl round's NEW docs against
    * everything already indexed, plus within the delta itself: exactly
    * the pairs `minhashNearDups(existing ∪ new)` emits that touch a new
    * doc (the property spec states it as batch-minus-existing-pairs).
    * Only the delta is tokenized, banded and shuffled; with a
    * [[buildMinhashIndex]]-backed existing side both the candidate join
    * (on bandSig) and the old-side signature verify (on id) read
    * pre-bucketed tables — zero exchange on the corpus side
    * (plan-locked in the spec). `existing` may also be ad-hoc
    * (sigs, bands) frames — e.g. the slice-keyed oracle twin — at the
    * cost of the corpus-side shuffle.
    *
    * Doc ids must be globally unique across existing and new (the crawl
    * seen-set guarantees it). Returns (id_a, id_b, sig_sim) with
    * id_a < id_b, ≥ minSignatureSim, at least one side new.
    */
  def minhashNearDupsIncremental(
      newDocs: DataFrame,
      existingBands: DataFrame,
      existingSigs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minSignatureSim: Double = 0.5,
      hash: Column => Column = TextOps.fastHash,
      hashBandKeys: Boolean = true): DataFrame = {
    val numHashes = bands * rowsPerBand
    val (newSigs0, newBanded) = bandedSignatures(newDocs, idCol, textCol, k,
      bands, rowsPerBand, hash, hashBandKeys)
    val newSigs = newSigs0.persist()
    val keys = bandJoinKeys(hashBandKeys)
    // new-vs-existing: the delta side shuffles to the existing table's
    // bucket layout (key = the one bucketed bandSig column); canonicalize
    // pair order (new ids need not sort after existing ids)
    val crossPairs = newBanded
      .select((keys.map(col) :+ col("id").as("id_new")): _*)
      .join(existingBands
        .select((keys.map(col) :+ col("id").as("id_old")): _*), keys)
      .select(least(col("id_old"), col("id_new")).as("id_a"),
        greatest(col("id_old"), col("id_new")).as("id_b"))
    // new-vs-new: the batch self-join shape, delta-sized
    val selfPairs = newBanded
      .select((keys.map(col) :+ col("id").as("id_a")): _*)
      .join(newBanded.select((keys.map(col) :+ col("id").as("id_b")): _*), keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val candPairs = crossPairs.unionByName(selfPairs).distinct()
    // verify: look each endpoint up in the existing and the new signature
    // sets SEPARATELY — a union would force a corpus-sized re-shuffle of
    // the existing signatures every round, while the split keeps the
    // bucketed sigs table join exchange-free and only the delta moves.
    // Ids are unique across the two sets; coalesce prefers the delta.
    val verified = Seq("id_a", "id_b").foldLeft(candPairs) { (df, c) =>
      df.join(existingSigs
          .select(col("id").as(c), col("sig").as(s"__e$c")), Seq(c), "left")
        .join(newSigs
          .select(col("id").as(c), col("sig").as(s"__n$c")), Seq(c), "left")
        .withColumn(s"__sig$c", coalesce(col(s"__n$c"), col(s"__e$c")))
        .drop(s"__e$c", s"__n$c")
    }
    verified
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("__sigid_a"), col("__sigid_b"),
          (x, y) => x === y), b => b)).cast("double") / numHashes)
          .as("sig_sim"))
      .filter(col("sig_sim") >= minSignatureSim)
  }

  // --- SimHash ---------------------------------------------------------------

  /** SimHash over token hashes: bit b of the result is 1 iff the sum over
    * tokens of (2·bit_b(h(tok)) − 1) is positive. Per-row computation, no
    * shuffle; `bits ≤ 16` keeps the portable hash's entropy honest.
    */
  def simhash(text: Column, bits: Int = 16,
      hash: Column => Column = TextOps.fastHash): Column = {
    val hashes =
      if (hash eq TextOps.fastHash)
        graft.functions.LshExpressions.tokenXxHashes(TextOps.tokens(text))
      else transform(TextOps.tokens(text), t => hash(t))
    // one codegen pass over the token hashes
    // ([[graft.functions.VecKernel.simhash]]) instead of `bits` interpreted
    // aggregate folds; per-bit integer sums are order-independent, so the
    // values (and the DuckDB-oracle twins) are unchanged
    graft.functions.LshExpressions.simhash(hashes, bits)
  }

  /** Hamming distance between two simhash values. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** block partition for the simhash LSH: `maxHamming + 1` disjoint bit
    * blocks. Pigeonhole: a pair within Hamming ≤ maxHamming has at most
    * maxHamming differing bits spread over maxHamming+1 blocks, so at least
    * one block is identical — recall is exact, not probabilistic.
    */
  private[graft] def simhashBlocks(bits: Int, maxHamming: Int): Seq[(Int, Int, Long)] = {
    val nBlocks = math.min(maxHamming + 1, bits)
    // split the bits EXACTLY (floor width, remainder spread over the first
    // blocks): a ceil width would push the last block past the signature
    // when bits % nBlocks != 0 — every doc keys that block to 0, silently
    // turning it into a quadratic all-pairs self-join
    val base = bits / nBlocks
    val extra = bits % nBlocks
    var shift = 0
    (0 until nBlocks).map { b =>
      val width = base + (if (b < extra) 1 else 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      val out = (b, shift, mask)
      shift += width
      out
    }
  }

  /** SimHash near-dup pairs within `maxHamming`: block on maxHamming+1
    * disjoint bit ranges (any qualifying pair shares ≥1 block — see
    * [[simhashBlocks]]), then verify by exact Hamming distance, so both
    * recall and precision are exact.
    */
  def simhashNearDups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", bits: Int = 16, maxHamming: Int = 3,
      hash: Column => Column = TextOps.fastHash): DataFrame = {
    val sigd = docs.select(col(idCol).as("id"), simhash(col(textCol), bits, hash).as("sh"))
    val blocked = sigd.select(col("id"), col("sh"),
      explode(array(simhashBlocks(bits, maxHamming).map { case (b, shift, mask) =>
        struct(lit(b).as("blk"),
          shiftright(col("sh"), shift).bitwiseAND(mask).as("key"))
      }: _*)).as("b"))
      .select(col("id"), col("sh"), col("b.blk"), col("b.key"))
    val l = blocked.select(col("blk"), col("key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = blocked.select(col("blk"), col("key"), col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("blk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hammingDist(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // --- n-gram Jaccard ----------------------------------------------------------

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle:
    * explode distinct shingles → self-join on shingle → |∩| per pair →
    * J = |∩| / (|A| + |B| − |∩|). One shuffle on the shingle key; hot
    * shingles are the skew risk (cap via `maxShingleFreq` like a stopword
    * cut — standard in web-dedup pipelines).
    */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      threshold: Double = 0.2,
      maxShingleFreq: Long = 1000L): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), k))).as("shingle"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("setSize"))
    val filtered = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("freq"))
        .filter(col("freq") <= maxShingleFreq && col("freq") >= 2),
      Seq("shingle"), "left_semi")
    val pairs = filtered.select(col("shingle"), col("id").as("id_a"))
      .join(filtered.select(col("shingle"), col("id").as("id_b")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("setSize", "size_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("setSize", "size_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination — the train/test n-gram-overlap check run
    * before LLM training: flag every training document sharing at least
    * `minShared` distinct k-token shingles with any probe (benchmark)
    * document, with per-doc shared-shingle and probes-hit counts.
    *
    * Scale shape: one shuffle on the shingle key (the probe side is the
    * benchmark set — small — and the join only materializes genuine
    * shingle matches, never a cross product). Boilerplate shingles shared
    * by more than `maxShingleFreq` training docs are dropped first (skew
    * guard; rare-n-gram matching IS the decontamination contract — k ≥ 5
    * in practice).
    *
    * `hashShingles` (default true) keys the shuffle on 8-byte xxhash64
    * shingle hashes instead of ~50-byte strings — ~6× narrower exchange at
    * corpus scale. A collision can only ADD a flag (expected extra pairs
    * ≈ |docSh|·|probeSh|/2^64 — vanishing), and decontamination errs
    * conservative by contract; pass false for the string-keyed
    * DuckDB-oracle-checkable form.
    */
  def ngramContamination(
      docs: DataFrame,
      probes: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      minShared: Long = 1L,
      maxShingleFreq: Long = 1000L,
      hashShingles: Boolean = true): DataFrame =
    ngramContaminationReleasable(docs, probes, idCol, textCol, k, minShared,
      maxShingleFreq, hashShingles)._1

  /** [[ngramContamination]] plus a release handle for the internal persisted
    * shingle explosion: the plain form leans on LRU eviction, which is fine
    * for one-shot runs but accumulates cached blocks across repeated calls
    * in a long-lived session — call the handle once the result is
    * materialized (non-blocking, same discipline as the crawl round's
    * claimed/docs persists).
    */
  def ngramContaminationReleasable(
      docs: DataFrame,
      probes: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      minShared: Long = 1L,
      maxShingleFreq: Long = 1000L,
      hashShingles: Boolean = true): (DataFrame, () => Unit) = {
    def sh(text: Column): Column =
      if (hashShingles)
        array_distinct(graft.functions.LshExpressions.shingleXxHashes(
          TextOps.tokens(text), k, Long.MaxValue))
      else array_distinct(shingles(text, k))
    // persisted: the shingle explosion feeds BOTH the hot-frequency
    // aggregate and the anti-join probe side — without the cache the
    // tokenize+shingle+hash scan runs twice (no CSE across plan branches)
    val dSh = docs.select(col(idCol).as("doc_id"),
      explode(sh(col(textCol))).as("shingle"))
      .persist()
    val hot = dSh.groupBy("shingle").agg(count(lit(1)).as("freq"))
      .filter(col("freq") > maxShingleFreq)
    val dOk = dSh.join(hot, Seq("shingle"), "left_anti")
    val pSh = probes.select(col(idCol).as("probe_id"),
      explode(sh(col(textCol))).as("shingle"))
    // the join output is DISTINCT (doc_id, shingle, probe_id) triples by
    // construction (both sides are per-id distinct shingle sets), and a doc
    // can hit at most |probe corpus| distinct probes — so probes_hit uses a
    // bounded collect_set instead of a second countDistinct: two distincts
    // in one aggregate plan as an Expand that doubles every pre-shuffle row
    val out = dOk.join(pSh, Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("shared_ngrams"),
        size(collect_set(col("probe_id"))).cast("long").as("probes_hit"))
      .filter(col("shared_ngrams") >= minShared)
    (out, () => { dSh.unpersist(blocking = false); () })
  }

  // --- embedding near-dup --------------------------------------------------------

  /** Embedding near-dup pairs via banded sign-LSH — the scale path:
    * `bands` independent hash tables of `bitsPerBand` hyperplane signs each
    * (OR-amplification, exactly the minhash-banding construction). A pair is
    * a candidate if it collides in ANY band; verification recomputes cosine
    * exactly, so precision is exact. Per-pair recall at angle θ is
    * 1 − (1 − p^bitsPerBand)^bands with p = 1 − θ/π.
    *
    * Tuning: bucket pruning is (1/2)^bitsPerBand per band for unrelated
    * (near-orthogonal) pairs, so bitsPerBand must be LARGE for the
    * candidate volume to beat brute force — the defaults (20 bands × 10
    * bits) prune unrelated pairs ~50× while keeping recall ≈0.99 at cosine
    * 0.9 and ≈0.88 at 0.8. Low thresholds (< ~0.6) are not a near-dup
    * regime: no banded parameterization prunes and recalls there — use
    * fewer bits/more bands explicitly (recall over pruning) or brute force.
    */
  def embeddingNearDupsLsh(
      embeddings: DataFrame,
      threshold: Double,
      bands: Int = 20,
      bitsPerBand: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val first = embeddings.select(size(col(vecCol))).take(1)
    if (first.isEmpty) // empty input: empty pairs, not a head() crash
      return embeddings.limit(0).select(col(idCol).as("id_a"),
        col(idCol).as("id_b"), lit(0.0).as("cosine"))
    val dim = first(0).getInt(0)
    val planes = Similarity.hyperplanes(bands * bitsPerBand, dim)
    // raw float vectors throughout — the codegen kernels (band keys, dot,
    // norm) widen elements to double exactly like an elementwise cast
    val base = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    // All band keys from ONE single-pass codegen kernel over the raw
    // (float) vectors — see [[graft.functions.LshKernel]]: the declarative
    // form (200 higher-order dot-product folds per row at the production
    // 20×10) evaluates interpreted, ~2 ms/row, and the self-join pays it on
    // both sides. The band explode then carries (id, band, key) ONLY —
    // replicating the full vector per band multiplies the exchange width by
    // `bands` (2 KB × 20 per row at dim 256); vectors re-join by id for the
    // exact verify.
    val keyed = embeddings
      .select(col(idCol).as("id"), posexplode(
        graft.functions.LshExpressions.bandKeys(col(vecCol), planes, bands, bitsPerBand)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")
    val candPairs = keyed.select(col("band"), col("key"), col("id").as("id_a"))
      .join(keyed.select(col("band"), col("key"), col("id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // a pair may collide in several bands — dedup while narrow
    val withNorm = base.withColumn("norm", Similarity.l2norm(col("v")))
    candPairs
      .join(withNorm.select(col("id").as("id_a"), col("v").as("v_a"),
        col("norm").as("n_a")), Seq("id_a"))
      .join(withNorm.select(col("id").as("id_b"), col("v").as("v_b"),
        col("norm").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** (id, band, key) sign-LSH band keys for `embeddings`; with `hashKeys`,
    * adds the single-column `bkey = xxhash64(band, key)` the bucketed
    * incremental index joins on (a key collision only adds a candidate —
    * the exact cosine verify rejects it).
    */
  private[graft] def embeddingKeyed(embeddings: DataFrame, bands: Int,
      bitsPerBand: Int, idCol: String, vecCol: String,
      hashKeys: Boolean): DataFrame = {
    val first = embeddings.select(size(col(vecCol))).take(1)
    require(first.nonEmpty, "embeddings must be non-empty to derive dim")
    val dim = first(0).getInt(0)
    val planes = Similarity.hyperplanes(bands * bitsPerBand, dim)
    val keyed = embeddings
      .select(col(idCol).as("id"), posexplode(
        graft.functions.LshExpressions.bandKeys(col(vecCol), planes, bands, bitsPerBand)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")
    if (hashKeys) keyed.withColumn("bkey", xxhash64(col("band"), col("key")))
    else keyed
  }

  /** Persisted sign-LSH index of an already-deduped embedding corpus —
    * the [[MinhashIndex]] pattern for the embedding family: band keys
    * bucketed by `bkey`, vectors+norms bucketed by `id`.
    */
  final case class EmbeddingLshIndex(bands: DataFrame, vecs: DataFrame)

  def buildEmbeddingLshIndex(embeddings: DataFrame, table: String,
      path: String, nBuckets: Int, bands: Int = 20, bitsPerBand: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): EmbeddingLshIndex = {
    val keyed = embeddingKeyed(embeddings, bands, bitsPerBand, idCol, vecCol,
      hashKeys = true).select("id", "bkey")
    graft.sources.BucketedStore.write(keyed, s"${table}_bands",
      s"$path/bands", nBuckets, "bkey", Seq("bkey", "id"))
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", Similarity.l2norm(col("v")))
    graft.sources.BucketedStore.write(vecs, s"${table}_vecs",
      s"$path/vecs", nBuckets, "id", Seq("id"))
    val spark = embeddings.sparkSession
    EmbeddingLshIndex(
      graft.sources.BucketedStore.read(spark, s"${table}_bands"),
      graft.sources.BucketedStore.read(spark, s"${table}_vecs"))
  }

  /** Incremental embedding near-dups — each round's new vectors against
    * the indexed corpus plus each other; equals the batch
    * [[embeddingNearDupsLsh]] pairs touching a new id (property spec).
    * Same physical discipline as [[minhashNearDupsIncremental]]: only the
    * delta computes band keys and shuffles; with a
    * [[buildEmbeddingLshIndex]]-backed existing side the candidate join
    * and the old-side vector verify read pre-bucketed tables. `existing*`
    * may also be ad-hoc frames (e.g. the slice-keyed oracle twin with
    * `hashKeys = false` — then `existingBands` carries (id, band, key)).
    * Ids must be globally unique across existing and new.
    */
  def embeddingNearDupsLshIncremental(
      newEmbeddings: DataFrame,
      existingBands: DataFrame,
      existingVecs: DataFrame,
      threshold: Double,
      bands: Int = 20,
      bitsPerBand: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      hashKeys: Boolean = true): DataFrame = {
    val keys = if (hashKeys) Seq("bkey") else Seq("band", "key")
    val newKeyed = embeddingKeyed(newEmbeddings, bands, bitsPerBand, idCol,
      vecCol, hashKeys)
    val crossPairs = newKeyed
      .select((keys.map(col) :+ col("id").as("id_new")): _*)
      .join(existingBands
        .select((keys.map(col) :+ col("id").as("id_old")): _*), keys)
      .select(least(col("id_old"), col("id_new")).as("id_a"),
        greatest(col("id_old"), col("id_new")).as("id_b"))
    val selfPairs = newKeyed
      .select((keys.map(col) :+ col("id").as("id_a")): _*)
      .join(newKeyed.select((keys.map(col) :+ col("id").as("id_b")): _*), keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val candPairs = crossPairs.unionByName(selfPairs).distinct()
    val newVecs = newEmbeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", Similarity.l2norm(col("v")))
    // separate existing/new lookups — never a corpus-re-shuffling union
    val verified = Seq("id_a", "id_b").foldLeft(candPairs) { (df, c) =>
      df.join(existingVecs.select(col("id").as(c), col("v").as(s"__ev$c"),
          col("norm").as(s"__en$c")), Seq(c), "left")
        .join(newVecs.select(col("id").as(c), col("v").as(s"__nv$c"),
          col("norm").as(s"__nn$c")), Seq(c), "left")
        .withColumn(s"__v$c", coalesce(col(s"__nv$c"), col(s"__ev$c")))
        .withColumn(s"__n$c", coalesce(col(s"__nn$c"), col(s"__en$c")))
        .drop(s"__ev$c", s"__en$c", s"__nv$c", s"__nn$c")
    }
    verified
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("__vid_a"), col("__vid_b")) /
          (col("__nid_a") * col("__nid_b")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, exact within
    * an id subset (brute force is quadratic — gate the subset; the scale
    * path is [[embeddingNearDupsLsh]]).
    */
  def embeddingNearDups(
      embeddings: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val withNorm = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", Similarity.l2norm(col("v")))
    val l = withNorm.select(col("id").as("id_a"), col("v").as("v_a"), col("norm").as("n_a"))
    val r = withNorm.select(col("id").as("id_b"), col("v").as("v_b"), col("norm").as("n_b"))
    l.crossJoin(r)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-document duplicated-window coverage — the fixed-anchor-length
    * surrogate for exact-substring (suffix-array) dedup scoring (Lee et
    * al. 2021, arXiv:2107.06499, public construction): the fraction of a
    * doc's k-token windows that occur at least twice ANYWHERE in the
    * corpus, self-repeats included (the paper's any-other-position
    * criterion). Docs above a coverage threshold are the substring-dup
    * removal candidates.
    *
    * Scale shape: one shuffle on the window key — 8-byte xxhash64 by
    * default (`hashShingles`; a collision adds a ~2^-64 false dup flag,
    * the conservative direction; pass false for the string-keyed
    * DuckDB-oracle-checkable form) — with map-side partial counts; the
    * duplicated-window set then semi-joins back per occurrence. The
    * window explosion feeds three plan branches, so it is persisted;
    * use [[duplicatedWindowStatsReleasable]] in long-lived sessions.
    *
    * Returns (doc_id, windows_total, windows_dup, dup_frac).
    */
  def duplicatedWindowStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5,
      hashShingles: Boolean = true): DataFrame =
    duplicatedWindowStatsReleasable(docs, idCol, textCol, k, hashShingles)._1

  def duplicatedWindowStatsReleasable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5,
      hashShingles: Boolean = true): (DataFrame, () => Unit) = {
    def sh(text: Column): Column =
      if (hashShingles)
        graft.functions.LshExpressions.shingleXxHashes(
          TextOps.tokens(text), k, Long.MaxValue)
      else shingles(text, k)
    val w = docs.select(col(idCol).as("doc_id"), explode(sh(col(textCol))).as("w"))
      .persist()
    val dupSet = w.groupBy("w").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("w")
    val dup = w.join(dupSet, Seq("w"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("windows_dup"))
    val out = w.groupBy("doc_id").agg(count(lit(1)).as("windows_total"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("windows_total"),
        coalesce(col("windows_dup"), lit(0L)).as("windows_dup"),
        round(coalesce(col("windows_dup"), lit(0L)).cast("double") /
          col("windows_total"), 4).as("dup_frac"))
    (out, () => { w.unpersist(blocking = false); () })
  }

  /** Exact substring-removal dedup — the REMOVAL step of Lee et al. 2021
    * (arXiv:2107.06499, public construction) that
    * [[duplicatedWindowStats]] only scores: every k-token window that
    * occurs at least twice anywhere in the corpus is removed from every
    * occurrence EXCEPT the canonical first one (minimum (doc_id, pos) —
    * keep-first, deterministic), overlapping removal windows are merged
    * per document, and the document text is rebuilt from the surviving
    * tokens. Documents shorter than k tokens contribute one whole-document
    * window (the [[shingles]] convention), so an exact short-doc duplicate
    * is removed entirely.
    *
    * Scale shape: ONE shuffle on the window key (8-byte xxhash64 by
    * default — a collision can only merge two window groups, which removes
    * a non-duplicated occurrence: the conservative direction for dedup;
    * pass `hashShingles = false` for the string-keyed DuckDB-replayable
    * form) carrying a map-side-partial (count, min-occurrence) aggregate,
    * re-joined to occurrences on the SAME key (exchange reuse, no second
    * wide shuffle). Interval merging is a gaps-and-islands window
    * partitioned BY DOCUMENT — per-partition work is bounded by a single
    * document's window count, never corpus-sized. The rebuild is a doc_id
    * equi-join plus a codegen higher-order `filter` over the token array
    * against the (few) merged intervals; kept tokens are never exploded.
    * The occurrence explosion feeds two plan branches, so it is persisted;
    * use [[substringDedupReleasable]] in long-lived sessions.
    *
    * Returns (idCol, spans_removed, tokens_removed, tokens_kept,
    * cleaned_text) — cleaned_text is the surviving tokens joined by single
    * spaces (token-space normalization, same as the oracle replay).
    */
  def substringDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5,
      hashShingles: Boolean = true): DataFrame =
    substringDedupReleasable(docs, idCol, textCol, k, hashShingles)._1

  def substringDedupReleasable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 5,
      hashShingles: Boolean = true): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    def sh(text: Column): Column =
      if (hashShingles)
        graft.functions.LshExpressions.shingleXxHashes(
          TextOps.tokens(text), k, Long.MaxValue)
      else shingles(text, k)
    val occ = docs
      .select(col(idCol).as("doc_id"), size(TextOps.tokens(col(textCol))).as("n"),
        posexplode(sh(col(textCol))).as(Seq("pos", "w")))
      .persist()
    // (count, canonical first occurrence) per window, one map-side-partial agg
    val winAgg = occ.groupBy("w").agg(count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).as("first"))
    // non-canonical occurrences of duplicated windows -> removal intervals
    val rem = occ.join(winAgg.filter(col("cnt") >= 2), Seq("w"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos").as("s"),
        least(col("pos") + lit(k), col("n")).as("e"))
    // gaps-and-islands merge of overlapping intervals, per document only
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val prevMax = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val merged = rem
      .withColumn("ni", when(col("s") > coalesce(prevMax, lit(-1)), 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl").agg(min("s").as("s"), max("e").as("e"))
    val perDoc = merged.groupBy("doc_id").agg(
      sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
      count(lit(1)).as("spans_removed"),
      sum(col("e") - col("s")).cast("long").as("tokens_removed"))
    val toks = TextOps.tokens(col(textCol))
    val out = docs.select(col(idCol), col(textCol))
      .join(perDoc.withColumnRenamed("doc_id", "__pd_id"),
        col(idCol) === col("__pd_id"), "left")
      .select(col(idCol),
        coalesce(col("spans_removed"), lit(0L)).as("spans_removed"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        (size(toks) - coalesce(col("tokens_removed"), lit(0L))).cast("long")
          .as("tokens_kept"),
        when(col("ivs").isNull, concat_ws(" ", toks))
          .otherwise(concat_ws(" ", filter(toks, (_, i) =>
            !exists(col("ivs"), iv =>
              i >= iv.getField("s") && i < iv.getField("e")))))
          .as("cleaned_text"))
    (out, () => { occ.unpersist(blocking = false); () })
  }

  // --- duplicate clusters ----------------------------------------------------

  /** Connected components over an undirected near-dup pair list
    * (`id_a, id_b`) — the CLUSTER step a dedup pipeline runs after pair
    * generation: pairwise survivors (keep-min-per-pair) under-delete on
    * transitive chains A~B~C, so the keep set must come from components,
    * each represented by its minimum id. Returns (id, rep) for every node
    * that appears in a pair (isolated docs are trivially their own rep).
    *
    * Algorithm: min-label propagation WITH pointer doubling to a fixpoint —
    * label(v) ← min(label(v), label(label(v)), min over neighbors label(u))
    * — the public-construction MapReduce CC shape (cf. Kiveris et al. 2014
    * "Connected Components in MapReduce"; the jump step is the classic
    * Shiloach-Vishkin shortcut). Neighbor-min alone needs diameter rounds
    * (a k-chain takes k); the label(label(v)) self-join halves every
    * pointer chain per round, so convergence is O(log diameter) — and
    * near-dup clusters are near-cliques anyway (2-4 rounds). Each round is
    * two shuffles on 8-byte keys (neighbor min + jump join) with map-side
    * partial min. Each round is eagerly localCheckpoint-ed: the loop is
    * self-referential (labels feeds three plan branches of the next
    * round), so without lineage TRUNCATION the logical plan grows ~4^round
    * and the driver OOMs just BUILDING it — the same discipline as the
    * crawl loop's BFS frontier. At fixpoint the
    * label is constant per component and equals the component min (labels
    * are monotonically nonincreasing member ids; a constant c > min m
    * would contradict label(m) ≤ m).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist()
    var labels = edges.groupBy(col("src").as("id"))
      // each node starts at min(self, neighbors) — one propagation step
      // folded into initialization (saves a round on near-cliques)
      .agg(least(min(col("dst")), first(col("src"))).as("rep"))
      .localCheckpoint(true)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // candidate label for dst = min over incoming edges of src's label
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src").withColumnRenamed("rep", "srcRep"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("srcRep")).as("nbrRep"))
      // pointer doubling: rep(rep(v)) — halves every label chain per round
      val viaJump = labels
        .join(labels.select(col("id").as("rep"), col("rep").as("jumpRep")), "rep")
        .select(col("id"), col("jumpRep"))
      // the labels that moved, counted by the checkpoint's own job
      val changed = org.apache.spark.sql.Observation(s"cc-changed-$iters")
      labels = labels
        .join(viaNeighbors, Seq("id"), "left")
        .join(viaJump, Seq("id"), "left")
        .select(col("id"),
          least(col("rep"),
            coalesce(col("nbrRep"), col("rep")),
            coalesce(col("jumpRep"), col("rep"))).as("rep"),
          (least(coalesce(col("nbrRep"), col("rep")),
            coalesce(col("jumpRep"), col("rep"))) < col("rep")).as("changed"))
        .observe(changed, sum(col("changed").cast("long")).as("n"))
        .drop("changed")
        .localCheckpoint(true) // eager: truncates lineage + materializes once
      converged = Option(changed.get("n")).forall(_ == 0L)
      iters += 1
    }
    edges.unpersist(blocking = false)
    labels
  }

  /** Representative selection after clustering — the step that turns a
    * cluster map into a deduplicated corpus: keep exactly ONE doc per
    * duplicate cluster, the argmax of `scoreCol` (ties broken by MIN id,
    * so the survivor is deterministic — the keep-longest/keep-best rule
    * every near-dup pipeline applies after MinHash/SimHash clustering).
    * `clusters` is [[connectedComponents]] output (id, rep); docs absent
    * from it are singletons — their own cluster, always kept.
    *
    * Scale shape: cluster assignment is a LEFT join on id (clusters is the
    * pair-connected subset, usually far smaller than the corpus — Spark
    * broadcasts it under the threshold, else both sides hash on id); the
    * per-cluster argmax is a plain `max(struct(score, −id))` aggregation,
    * so a hot near-clique cluster collapses MAP-SIDE via partial
    * aggregation — no window, no salt needed. One exchange on cluster for
    * the agg; the member↔winner join reuses that partitioning on the agg
    * side. Returns every doc: (id, cluster, cluster_size, kept).
    */
  def keepBest(docs: DataFrame, clusters: DataFrame, scoreCol: Column,
      idCol: String = "doc_id"): DataFrame = {
    val assigned = docs
      .select(col(idCol).as("id"), scoreCol.as("__score"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("cluster"),
        col("__score"))
    val best = assigned.groupBy("cluster").agg(
      count(lit(1)).as("cluster_size"),
      max(struct(col("__score"), (-col("id")).as("__negId"))).as("__best"))
    assigned.join(best, "cluster")
      .select(col("id").as(idCol), col("cluster"), col("cluster_size"),
        (col("id") === -col("__best.__negId")).as("kept"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540 —
    * public construction): assign every embedding to its nearest k-means
    * centroid ([[Similarity.ivfTrain]] cells), then WITHIN each cell drop
    * any doc that has a lower-id neighbor with cosine ≥ `threshold`
    * (keep-min-id, the same deterministic survivor rule as [[exact]]).
    *
    * Scale shape: the cell id is the blocking key, so the candidate join is
    * an equi-join shuffled on `cell` — quadratic only within a cell
    * (cells ~N/k; pick k so cells fit comfortably, exactly how SemDeDup
    * runs at corpus scale), never the corpus cross-join. Assignment is a
    * map-side expression (centroid literals ride into the plan); cosine is
    * rounded to 6 decimals for cross-engine determinism.
    *
    * Returns the KEPT rows: (id, cell).
    */
  def semanticDedup(
      embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    semanticDedupReleasable(embeddings, centroids, threshold, idCol, vecCol)._1

  /** [[semanticDedup]] plus a release handle for the internal persisted
    * assignment (see [[ngramContaminationReleasable]] for the discipline).
    */
  def semanticDedupReleasable(
      embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, () => Unit) = {
    // persisted: the plan references the assignment THREE times (both join
    // sides + the final anti-join) and Spark does not CSE across join
    // sides — without the cache each reference re-runs the embeddings
    // scan + 8-way argmax + norm (same pattern as the crawl round's
    // claimed/docs persists; LRU-evicted when cold)
    val assigned = Similarity.ivfAssign(embeddings, centroids, vecCol)
      .select(col(idCol).as("id"), col("centroid").as("cell"), col(vecCol).as("v"))
      .withColumn("n", Similarity.l2norm(col("v")))
      .persist()
    val l = assigned.select(col("cell"), col("id").as("id_a"),
      col("v").as("v_a"), col("n").as("n_a"))
    val r = assigned.select(col("cell"), col("id").as("id_b"),
      col("v").as("v_b"), col("n").as("n_b"))
    val dropped = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        round(Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6)
          >= threshold)
      .select(col("id_b").as("id")).distinct()
    val out = assigned.join(dropped, Seq("id"), "left_anti").select("id", "cell")
    (out, () => { assigned.unpersist(blocking = false); () })
  }
}
