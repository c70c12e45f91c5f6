package graft.frontier

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen filtering (J1) — the rebuild of fess-crawler's ES-backed
  * `EsUrlFilterService`/duplicate-id queue insert (RiverWeb.java:392-398).
  *
  * Source of truth is an EXACT `left_anti` join on `(urlHash, url)` — the
  * full URL participates because xxhash64 collides a handful of times at
  * 10^10 URLs (n²/2^65 ≈ 2.7), and the north rule demands exact seen-set
  * membership. The Bloom filter is ONLY a router (SURVEY.md §7.5.3):
  * `mightContain == false` proves a URL is new and skips the join;
  * `true` falls through to the exact anti-join. A false positive therefore
  * costs a join probe, never a dropped URL.
  *
  * One bloom route: the crawl loop passes the filter that
  * [[IncrementalSeenBloom]] keeps (O(new URLs) per round) while the seen
  * set is between `CrawlSession.AutoBloomMinItems` and [[MaxBloomItems]],
  * and takes the exact anti-join (SHJ-hinted while it fits task memory,
  * else sort-merge) on either side of that band. A per-hash-range
  * partitioned bloom is the documented 10^10 upgrade (DESIGN.md).
  */
object SeenSet {

  /** Rows of `candidates` whose (urlHash, url) is NOT in `seen`.
    * Both inputs must carry `urlHash: long` and `url: string`.
    *
    * @param seenCount rows in `seen` (caller tracks it; avoids a count job)
    */
  def filterNew(
      candidates: DataFrame,
      seen: DataFrame,
      seenCount: Long,
      maxBloomItems: Long = MaxBloomItems,
      fpp: Double = 0.03,
      prebuiltBloom: Option[BloomFilter] = None): DataFrame = {

    if (seenCount == 0) return candidates

    // Join-strategy pick (guide §3.1): the exact anti-join's default plan
    // is sort-merge — BOTH multi-million-row sides exchanged AND sorted.
    // The seen side builds a fine per-partition hash table instead while
    // seenCount/partition stays modest, and the candidates side then needs
    // only its exchange (whose partitioning the upstream url-dedup groupBy
    // already established — zero extra work on the stream side). Gated
    // ADAPTIVELY on rows per shuffle partition (~60 B/row ⇒ ≤60 MB build
    // per task at the cap), so a 10^10-row seen set on any partition count
    // falls back to sort-merge and its graceful spill.
    val shufflePartitions =
      candidates.sparkSession.sessionState.conf.numShufflePartitions
    def seenSide(df: DataFrame): DataFrame =
      if (seenCount <= ShuffledHashRowsPerPartition * shufflePartitions)
        df.hint("shuffle_hash")
      else df

    // The two bloom branches (definitely-new ∪ maybe-seen⋈seen) each scan
    // `candidates`; routing only pays when that input is materialized
    // (persisted by the caller, or a table scan). Otherwise the recompute
    // costs more than the anti-join saves — fall through to the plain join.
    val materialized =
      candidates.storageLevel.useMemory || candidates.storageLevel.useDisk

    if (materialized && (prebuiltBloom.isDefined || seenCount <= maxBloomItems)) {
      // prebuilt filter (incrementally maintained by the caller — see
      // [[IncrementalSeenBloom]]) skips the O(|seen|) per-round build scan
      val bloom: BloomFilter = prebuiltBloom.getOrElse(
        seen.stat.bloomFilter("urlHash", math.max(seenCount, 1000L), fpp))
      // native codegen probe (Spark's own runtime-row-filtering expression;
      // same sketch serialization) — keeps the route inside whole-stage
      // codegen instead of a ScalaUDF break; the literal rides the task
      // binary, which Spark torrent-broadcasts once per stage
      val bytes = { val bos = new ByteArrayOutputStream(); bloom.writeTo(bos); bos.toByteArray }
      val mightContain = {
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.column(BloomFilterMightContain(
          Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
          ColumnBridge.expression(col("urlHash"))))
      }
      val routed = candidates.withColumn("__maybeSeen", mightContain)
      val definitelyNew = routed.filter(!col("__maybeSeen")).drop("__maybeSeen")
      val maybeSeen = routed.filter(col("__maybeSeen")).drop("__maybeSeen")
      definitelyNew.unionByName(
        maybeSeen.join(seenSide(seen.select("urlHash", "url")),
          Seq("urlHash", "url"), "left_anti"))
    } else {
      candidates.join(seenSide(seen.select("urlHash", "url")),
        Seq("urlHash", "url"), "left_anti")
    }
  }

  /** Build-side rows per shuffle partition below which the exact anti-join
    * hints SHUFFLE_HASH instead of sort-merge (the build must fit in task
    * memory — SHJ does not spill its hash table; ~60 B/row ⇒ ~60 MB/task
    * at the cap). Scales with the session's partition count, never a
    * local-mode constant.
    */
  val ShuffledHashRowsPerPartition: Long = 1000000L

  /** Single-bloom ceiling: above this many seen rows [[filterNew]] builds
    * no filter and the crawl loop passes none, so the exact anti-join runs
    * alone (the filter's bytes ride every probing task's binary).
    */
  val MaxBloomItems: Long = 50000000L
}

/** Incrementally maintained seen-set Bloom router (the fix for the
  * per-round O(|seen|) `stat.bloomFilter` rebuild — a crawl's cumulative
  * routing cost was quadratic in rounds).
  *
  * The seen set is `table`'s append log ([[SnapshotTable.appendedOf]]: for
  * the crawl, the frontier's seed segment plus every round's new-entries
  * segment); this keeps ONE filter of fixed capacity and merges in a
  * per-NEW-SEGMENT bloom at each advance (`mergeInPlace` requires identical
  * sizing, hence the fixed capacity). When the seen count outgrows the
  * capacity the filter is rebuilt at 4× from a full scan of the log —
  * geometric growth, so total rebuild cost over a crawl is O(N), not
  * O(N·rounds). Overflow between rebuilds only degrades fpp (more join
  * probes), never correctness: a bloom OR has no false negatives, and
  * `mightContain=true` falls through to the exact anti-join.
  *
  * The filter lives in memory only: it is an index the append log can
  * always rebuild, so a fresh instance (a resumed crawl) builds it once
  * from a full scan of the log.
  */
final class IncrementalSeenBloom(table: SnapshotTable, fpp: Double = 0.03) {

  private var filter: Option[BloomFilter] = None
  private var capacity: Long = 0L
  private var coveredVersion: Long = -1L
  private var coveredSegments: Set[String] = Set.empty

  /** Bloom covering the append log of snapshot `v` (`rows` rows), advancing
    * the cached filter over only the NEW segments since the last call.
    */
  def forVersion(v: Long, rows: Long): BloomFilter = {
    if (coveredVersion == v && filter.isDefined) return filter.get
    val segs = table.appendedOf(v)
    val canAdvance = filter.isDefined && rows <= capacity &&
      coveredSegments.subsetOf(segs.toSet)
    if (canAdvance) {
      val f = filter.get
      segs.filterNot(coveredSegments).foreach { seg =>
        // skip empty segments (a round can add 0 new URLs):
        // stat.bloomFilter NPEs on zero-row input
        if (table.segmentRows(seg) > 0L) f.mergeInPlace(bloomOf(Seq(seg)))
      }
    } else {
      capacity = math.max(4 * rows, 1L << 16)
      filter = Some(bloomOf(segs))
    }
    coveredVersion = v
    coveredSegments = segs.toSet
    filter.get
  }

  private def bloomOf(segs: Seq[String]): BloomFilter =
    table.readSegments(segs).stat.bloomFilter("urlHash", capacity, fpp)
}
