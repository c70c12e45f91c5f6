package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`vec_id, embedding: array<float>`).
  *
  * Baseline: brute-force cosine top-k — one corpus scan, dot products inside
  * whole-stage codegen (`zip_with` + `aggregate`), global
  * TakeOrderedAndProject for the top-k (no full sort materialization).
  *
  * Scale path: deterministic random-hyperplane LSH — `nBits` sign
  * projections bucket the corpus; a query probes only its bucket (and
  * optionally multi-probe neighbors), then re-ranks exactly. Bucketing is a
  * single hash shuffle; at 100 TB the bucketed table is written once and
  * partition-pruned per query.
  */
object Similarity {

  // dot/norm/cosine are single-pass codegen kernels
  // ([[graft.functions.VecKernel]]): the declarative
  // `aggregate(zip_with(...))` forms evaluate interpreted with boxed
  // lambdas — ~100× slower per row — with identical fold order, so the
  // produced doubles (and the DuckDB-oracle hashes over them) are
  // unchanged. Float arrays are read directly (widening == the elementwise
  // double cast), so callers pass raw embedding columns.
  def dot(a: Column, b: Column): Column =
    graft.functions.LshExpressions.dot(a, b)

  def l2norm(v: Column): Column =
    graft.functions.LshExpressions.norm(v)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** cosine against a constant query vector (norm pre-folded). */
  private def cosineConst(v: Column, query: Seq[Double]): Column = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    graft.functions.LshExpressions.dotConst(v, query) /
      (graft.functions.LshExpressions.norm(v) * lit(qNorm))
  }

  /** Brute-force cosine top-k for one query vector. Deterministic total
    * order: (rounded cosine desc, vec_id asc).
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      query: Seq[Double],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol),
        round(cosineConst(col(vecCol), query), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** Deterministic pseudo-gaussian hyperplanes: component c of plane b is
    * derived from mix64(seed, b·dim+c), mapped to (-1, 1). Public-knowledge
    * construction (random projection LSH, Charikar 2002).
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(nBits) { b =>
      Array.tabulate(dim) { c =>
        val h = graft.corpus.SyntheticCorpus.mix64(seed + b.toLong * dim + c)
        (h.toDouble / Long.MaxValue.toDouble)
      }
    }

  /** sign-projection bucket id (0 .. 2^nBits-1) for a vector column —
    * single-pass codegen kernel (see [[graft.functions.LshKernel]]; the
    * per-plane `when(dot > 0)` composition evaluates interpreted).
    */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    graft.functions.LshExpressions.lshBucket(v, planes)

  /** Bucket the corpus once (the write-once side of the scale path). */
  def lshBuckets(embeddings: DataFrame, nBits: Int, dim: Int,
      vecCol: String = "embedding", seed: Long = 42L): DataFrame =
    embeddings.withColumn("bucket", lshBucket(col(vecCol), hyperplanes(nBits, dim, seed)))

  /** LSH-accelerated top-k: probe the query's bucket plus all buckets within
    * `probeHamming` bit flips, re-rank exactly by cosine. Recall grows with
    * probes; correctness of returned distances is exact.
    */
  def lshTopK(
      bucketed: DataFrame,
      query: Seq[Double],
      k: Int,
      nBits: Int,
      probeHamming: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nBits, query.size, seed)
    val qBucket = planes.zipWithIndex.map { case (p, b) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d > 0) 1L << b else 0L
    }.sum
    val probes: Seq[Long] =
      if (probeHamming <= 0) Seq(qBucket)
      else qBucket +: (0 until nBits).map(b => qBucket ^ (1L << b))
    val cand = bucketed.filter(col("bucket").isInCollection(probes))
    bruteForceTopK(cand, query, k, idCol, vecCol)
  }

  // --- multi-query evaluation ----------------------------------------------
  //
  // An ANN index is only as good as its measured recall: these run MANY
  // queries through the exact and the approximate path in ONE job each and
  // score recall@k per query — the evaluation harness a production index
  // ships with (the same public methodology as ann-benchmarks). The query
  // set is small by nature (an evaluation sample), so it rides broadcast;
  // the corpus is never replicated.

  /** Exact top-k for a (small) DataFrame of query vectors in one corpus
    * pass: broadcast the queries, score every (query, vector) pair with the
    * codegen cosine kernel, then rank per query with one window filtered
    * on the literal k. Spark plans a partial `WindowGroupLimit` below the
    * window's exchange, so each map task ships at most k rows per query
    * instead of funnelling corpusSize rows per query through one task
    * (the [[graft.frontier.Politeness]] hot-host shape). Output: (q_id,
    * idCol, cosine, rank).
    */
  def bruteForceTopKMulti(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).cast("long").as("q_id"), col(vecCol).as("__q_vec")))
    val scored = embeddings.crossJoin(q)
      .select(col("q_id"), col(idCol),
        round(cosine(col(vecCol), col("__q_vec")), 6).as("cosine"))
    topKPerQuery(scored, k, idCol)
  }

  /** LSH-accelerated top-k for a DataFrame of query vectors: bucket each
    * query with the SAME planes as the corpus, expand its probe set (own
    * bucket + all Hamming-1 neighbors, the [[lshTopK]] policy) columnar-ly,
    * then one broadcast join probes→buckets prunes the corpus to candidates
    * before the exact re-rank. The probe expansion is a literal-mask
    * `transform` (probes are distinct by construction: flipping distinct
    * bits of one bucket id can't collide), so no candidate dedup is needed.
    */
  def lshTopKMulti(
      bucketed: DataFrame,
      queries: DataFrame,
      k: Int,
      nBits: Int,
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nBits, dim, seed)
    val masks = array((0 until nBits).map(b => lit(1L << b)): _*)
    val probed = queries.select(
        col(idCol).cast("long").as("q_id"), col(vecCol).as("__q_vec"),
        lshBucket(col(vecCol), planes).as("__qb"))
      .select(col("q_id"), col("__q_vec"),
        explode(concat(array(col("__qb")),
          transform(masks, m => col("__qb").bitwiseXOR(m)))).as("bucket"))
    val cand = bucketed.join(broadcast(probed), Seq("bucket"))
      .select(col("q_id"), col(idCol),
        round(cosine(col(vecCol), col("__q_vec")), 6).as("cosine"))
    topKPerQuery(cand, k, idCol)
  }

  /** per-query top-k over (q_id, idCol, cosine) rows. */
  private def topKPerQuery(scored: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** recall@k scoring: per query, |approx ∩ exact| / k. Inputs are the
    * (q_id, idCol)-keyed outputs of the exact and approximate paths; the
    * semi-join + count is exact because both sides rank with the identical
    * deterministic (rounded cosine desc, id asc) total order. Queries whose
    * approximate set misses everything still appear (n_matched = 0).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val matched = exact.select("q_id", idCol)
      .join(approx.select("q_id", idCol), Seq("q_id", idCol), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("__m"))
    exact.select("q_id").distinct()
      .join(matched, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("__m"), lit(0L)).as("n_matched"),
        round(coalesce(col("__m"), lit(0L)) / lit(k.toDouble), 4).as("recall"))
  }

  // --- IVF (inverted-file) coarse quantizer --------------------------------
  //
  // The second scale path: partition the corpus into `nCentroids` cells by
  // nearest centroid; a query probes only the `nProbe` cells nearest to it
  // and re-ranks exactly. At 100 TB the assignment is a one-time map-side
  // pass (centroids broadcast — they are always tiny), the assigned table is
  // written partitioned by `centroid`, and each query becomes a
  // partition-pruned scan of nProbe/nCentroids of the data.
  //
  // Centroid init is deterministic (the first nCentroids vectors by id);
  // [[ivfTrain]] runs Lloyd refinement iterations on top. Neither changes
  // the assignment/probe plan — training happens once, offline.

  /** driver-side centroid init: (centroid_id, RAW double-cast vector) — the
    * first `nCentroids` vectors by id, deliberately NOT unit-normalized:
    * the DuckDB oracle replays the identical un-normalized init, and cosine
    * scoring is scale-invariant anyway, so normalizing here would only risk
    * cross-engine drift at 6-decimal rounding boundaries.
    */
  def ivfCentroids(embeddings: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Long, Seq[Double])] =
    embeddings.filter(col(idCol) < nCentroids)
      .select(col(idCol).cast("long"), transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  /** nearest-centroid id for a vector column: argmax of rounded cosine,
    * smallest centroid id on ties (deterministic; the rounding keeps the
    * tie-break portable across evaluation orders). Pure map-side expression —
    * centroids ride into the plan as literals (broadcast analog).
    */
  def ivfAssignCol(v: Column, centroids: Seq[(Long, Seq[Double])]): Column = {
    val scored = centroids.map { case (id, c) =>
      struct(
        round(cosineConst(v, c), 6).as("cos"),
        lit(-id).as("negId"))
    }
    -array_max(array(scored: _*)).getField("negId")
  }

  /** corpus → (…, centroid) — the write-once side of the IVF path. */
  def ivfAssign(embeddings: DataFrame, centroids: Seq[(Long, Seq[Double])],
      vecCol: String = "embedding"): DataFrame =
    embeddings.withColumn("centroid", ivfAssignCol(col(vecCol), centroids))

  /** One Lloyd (k-means) refinement step: assign every vector to its
    * nearest centroid (cosine, the [[ivfAssignCol]] map-side expression),
    * then move each centroid to the per-dimension MEAN of its assigned
    * vectors. Distributed shape: posexplode to (cell, dim, x) with map-side
    * partial aggregation, so the shuffle carries ~partitions×cells×dim
    * partial sums — never the vectors; the driver collects only cells×dim
    * means. Means are rounded to 9 decimals so the refined centroids are
    * bit-identical across engines/summation orders (the DuckDB oracle
    * replays the same step); an empty cell keeps its previous centroid.
    */
  def ivfRefine(embeddings: DataFrame, centroids: Seq[(Long, Seq[Double])],
      vecCol: String = "embedding"): Seq[(Long, Seq[Double])] = {
    val means = embeddings
      .select(ivfAssignCol(col(vecCol), centroids).as("c"),
        posexplode(transform(col(vecCol), x => x.cast("double"))).as(Seq("i", "x")))
      .groupBy("c", "i").agg(round(avg("x"), 9).as("m"))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    centroids.map { case (id, prev) =>
      val refined = prev.indices.map(i => means.get((id, i)))
      if (refined.forall(_.isDefined)) (id, refined.map(_.get))
      else (id, prev)
    }
  }

  /** first-N init + `iters` Lloyd refinements (offline training; the
    * assignment/probe plans are unchanged by where the centroids came from).
    */
  def ivfTrain(embeddings: DataFrame, nCentroids: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Long, Seq[Double])] = {
    var cents = ivfCentroids(embeddings, nCentroids, idCol, vecCol)
    for (_ <- 0 until iters) cents = ivfRefine(embeddings, cents, vecCol)
    cents
  }

  /** the nProbe centroid ids nearest to `query` (rounded cosine desc, id asc). */
  def ivfProbes(query: Seq[Double], centroids: Seq[(Long, Seq[Double])],
      nProbe: Int): Seq[Long] = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      d / (na * nb)
    }
    centroids.map { case (id, c) =>
      (BigDecimal(cos(query, c)).setScale(6, BigDecimal.RoundingMode.HALF_UP), id)
    }.sortBy { case (c, id) => (-c, id) }.take(nProbe).map(_._2)
  }

  /** IVF-accelerated top-k: probe nProbe cells, re-rank exactly. */
  def ivfTopK(
      assigned: DataFrame,
      query: Seq[Double],
      centroids: Seq[(Long, Seq[Double])],
      k: Int,
      nProbe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val probes = ivfProbes(query, centroids, nProbe)
    bruteForceTopK(assigned.filter(col("centroid").isInCollection(probes)),
      query, k, idCol, vecCol)
  }

  /** PERSIST the IVF layout the header comment promises: the assigned
    * corpus written `partitionBy("centroid")`, so each cell is its own
    * directory and a query's probe filter prunes at the PARTITION level —
    * `PartitionFilters` in the scan, directory listing skips
    * (nCentroids − nProbe)/nCentroids of the data before any file opens.
    * Directory-level pruning rather than bucketing because cell counts
    * are small-bounded (64-4096) and partition pruning has no planner
    * opt-out caveat (unlike the bucketed-scan auto-disable documented on
    * [[graft.ops.SearchOps.wildcardSearchIndexed]]). Assignment is paid
    * ONCE at build; every query after is a pruned scan + exact re-rank
    * over nProbe cells — the [[graft.ops.Dedup.buildMinhashIndex]]
    * discipline applied to ANN.
    */
  def buildIvfIndex(embeddings: DataFrame,
      centroids: Seq[(Long, Seq[Double])], path: String,
      vecCol: String = "embedding"): DataFrame = {
    ivfAssign(embeddings, centroids, vecCol)
      .write.mode("overwrite").partitionBy("centroid").parquet(path)
    embeddings.sparkSession.read.parquet(path)
  }

  /** [[ivfTopK]] against a [[buildIvfIndex]] table: identical output
    * (spec-pinned) — the difference is the probe filter hitting a
    * partition column, so the scan reads ONLY the probed cells'
    * directories instead of re-assigning the corpus per query.
    */
  def ivfTopKIndexed(index: DataFrame, query: Seq[Double],
      centroids: Seq[(Long, Seq[Double])], k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = ivfProbes(query, centroids, nProbe)
    bruteForceTopK(index.filter(col("centroid").isInCollection(probes)),
      query, k, idCol, vecCol)
  }
}
