package graft.frontier

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport

/** Snapshot-versioned table shim (S3/Z6) — stands in for Iceberg (no Iceberg
  * runtime jar ships offline; SURVEY.md §7.1). Semantics mirrored:
  *   - data lives in immutable `segments/<k>/` parquet dirs; a snapshot is a
  *     `meta.json` listing its live segments plus lineage + metrics
  *     (north_rule: per-partition lineage = the parquet file list, one file
  *     per writing partition);
  *   - a commit writes a new segment then atomically renames a manifest
  *     pointing at the new snapshot — the rename IS the commit, so readers
  *     always see a complete table (the reference's delete-on-claim
  *     exactly-once discipline, RiverWeb.java:183-195, becomes
  *     snapshot-transition atomicity);
  *   - `commitFull` = copy-on-write replace, `commitAppend` = delta segment
  *     (seen-set growth, doc appends) — merge-on-read via multi-dir parquet
  *     scan; `commitDeltaTo` = delta segment PLUS a tombstone segment
  *     (frontier round transition: the claimed rows become tombstones
  *     anti-joined out on read, so a round writes O(claim batch + new URLs)
  *     instead of rewriting a 10^10-row frontier to remove 10^5 claimed
  *     rows), with automatic copy-on-write compaction once tombstones
  *     outgrow the broadcast-anti-join budget;
  *   - resume = read the current manifest (session isolation + resume,
  *     RiverWeb.java:80-84,238-240); crawl state (round, processed) rides in
  *     the metrics map.
  * The interface is deliberately Iceberg-shaped so a real catalog slots in
  * unchanged on a cluster (atomic rename → Iceberg commit).
  */
final class SnapshotTable(dir: String, spark: SparkSession,
    // Iceberg-style sequence-aware equality deletes: every data segment is
    // stamped with a hidden `__seq` column (= commit version) and a
    // tombstone only deletes rows with a LOWER sequence — so a single
    // commit can replace same-keyed rows (delete old + insert new), which
    // plain equality tombstones cannot (they would delete the fresh rows
    // too). Opt-in per table: the frontier/seen never re-insert a
    // tombstoned key, so they skip the +8 B/row.
    val sequenced: Boolean = false,
    // read-side broadcast budget for the tombstone anti-join; above it the
    // merge-on-read falls back to a shuffled anti-join (test-injectable)
    val broadcastTombRows: Long = SnapshotTable.MaxTombRows) {

  import SnapshotTable._

  /** absolute and normalized: shared-ref entries other tables build from it
    * must read as absolute dirs (see [[segPath]]) whatever the working dir.
    */
  val root: String = Paths.get(dir).toAbsolutePath.normalize.toString

  private def manifestPath: Path = Paths.get(root, "manifest.json")
  Files.createDirectories(Paths.get(root, "segments"))
  Files.createDirectories(Paths.get(root, "tombstones"))
  Files.createDirectories(Paths.get(root, "snapshots"))

  /** current snapshot version, or -1 if never committed. */
  def currentVersion: Long =
    if (!Files.exists(manifestPath)) -1L
    else readLong(Files.readString(manifestPath), "current").getOrElse(-1L)

  private def readLong(json: String, key: String): Option[Long] =
    ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong)

  private def metaPath(v: Long): Path =
    Paths.get(root, "snapshots", v.toString, "meta.json")

  /** live segment dirs of snapshot v. */
  def segmentsOf(v: Long): Seq[String] = listOf(v, "segments")

  /** tombstone segment dirs of snapshot v (rows anti-joined out on read). */
  def tombstonesOf(v: Long): Seq[String] = listOf(v, "tombstones")

  private def listOf(v: Long, key: String): Seq[String] = {
    val json = Files.readString(metaPath(v))
    ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(json) match {
      case Some(m) =>
        m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq
      case None => Seq.empty
    }
  }

  /** a metric recorded at commit time of snapshot v. */
  def metric(v: Long, key: String): Option[String] = {
    if (v < 0 || !Files.exists(metaPath(v))) return None
    val json = Files.readString(metaPath(v))
    ("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(json).map(_.group(1))
  }

  /** LIVE rows of snapshot v (data rows minus tombstoned rows). */
  def rowsOf(v: Long): Long =
    metric(v, "rows").map(_.toLong).getOrElse(0L)

  /** cumulative tombstone rows carried by snapshot v. */
  def tombRowsOf(v: Long): Long =
    metric(v, "tombRows").map(_.toLong).getOrElse(0L)

  def isEmpty: Boolean = currentVersion < 0

  /** Read the current snapshot (caller guards `isEmpty`). */
  def read(): DataFrame = readVersion(currentVersion)

  /** Optional fixed read schema (set via [[withReadSchema]]): lets a table
    * reference shared segments carrying EXTRA columns (see
    * [[commitAppendRef]]) — the parquet reader prunes to these columns by
    * name, so 2-col seen reads work over 5-col frontier segment files.
    */
  private var readSchema: Option[org.apache.spark.sql.types.StructType] = None
  def withReadSchema(s: org.apache.spark.sql.types.StructType): this.type = {
    // a narrowed schema would drop the hidden __seq column the sequenced
    // tombstone rule needs — the two features serve different tables
    require(!sequenced, "withReadSchema is incompatible with sequenced tables")
    readSchema = Some(s); this
  }

  private def readParquet(paths: Seq[String]): DataFrame = readSchema match {
    case None => parquetAt(paths)
    case Some(s) => spark.read.schema(s).parquet(paths: _*)
      .select(s.fieldNames.map(org.apache.spark.sql.functions.col): _*)
  }

  /** `spark.read.parquet(dirs)` without its one-task schema-inference job:
    * the schema is the Spark row-metadata key of one footer, read on the
    * driver from the file Spark's own `mergeSchema=false` inference reads
    * (the least data-file path). With schema merging on, or a footer that
    * lacks the key, Spark infers as before.
    */
  private def parquetAt(dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else dirs.flatMap(d => parquetFiles(d).map(f => s"$d/$f")).minOption
        .flatMap(f => footer(f)(r => Option(r.getFileMetaData
          .getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
    schema.fold(spark.read)(spark.read.schema).parquet(dirs: _*)
  }

  /** a segment entry is a local name, or an absolute dir for shared refs. */
  private def segPath(s: String): String =
    if (s.startsWith("/")) s else s"$root/segments/$s"

  /** Merge-on-read: union of live data segments, minus tombstoned rows.
    * Up to [[broadcastTombRows]] accumulated tombstones the anti-join
    * broadcasts the tombstone side — a map-side BroadcastHashJoin that
    * never shuffles the (possibly 10^10-row) data. Above the budget it
    * falls back to a shuffled anti-join: one extra exchange of the live
    * rows per read, which is what lets the compaction cap scale with
    * table size instead of forcing a full rewrite every ~1M claims
    * (the 10^10-frontier amortization fix; Iceberg readers make the same
    * broadcast-vs-shuffle call on equality-delete files).
    */
  def readVersion(v: Long): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val segs = segmentsOf(v)
    val data = readParquet(segs.map(segPath))
    val tombs = tombstonesOf(v)
    if (tombs.isEmpty) { if (sequenced) data.drop(SeqCol) else data }
    else {
      val tomb = parquetAt(tombs.map(t => s"$root/tombstones/$t"))
      val tside = if (tombRowsOf(v) <= broadcastTombRows) broadcast(tomb) else tomb
      if (!sequenced)
        data.join(tside, tomb.columns.toSeq, "left_anti")
      else {
        // sequence rule: a tombstone deletes only rows written BEFORE it
        val keyCols = tomb.columns.filterNot(_ == SeqCol)
        val cond = keyCols.map(c => data(c) === tomb(c)).reduce(_ && _) &&
          data(SeqCol) < tomb(SeqCol)
        data.join(tside, cond, "left_anti").drop(SeqCol)
      }
    }
  }

  /** read one raw data segment (no tombstone application). */
  def readSegment(seg: String): DataFrame = readParquet(Seq(segPath(seg)))

  /** raw row count of one segment from its parquet footers (driver-side,
    * no Spark job) — works for local and shared-ref segments alike.
    */
  def segmentRows(seg: String): Long = dirRowCount(segPath(seg))

  /** Append a SHARED segment by absolute path instead of rewriting the
    * rows — the round loop writes each round's new URLs ONCE (the frontier
    * delta segment) and the seen table references the same files, halving
    * the per-round new-URL write bytes. The referencing table must have a
    * [[withReadSchema]] narrowing to its own columns. Lifecycle: refs are
    * valid for the owning session (frontier compaction orphans but never
    * deletes segment dirs; `cleanup()` drops both tables together).
    */
  def commitAppendRef(absSegmentDir: String, parentVersion: Long,
      metrics: Map[String, String] = Map.empty): (Long, Long) = {
    // referenced files carry the WRITER's columns — they would lack this
    // table's __seq stamp and break the sequenced tombstone rule
    require(!sequenced, "commitAppendRef is incompatible with sequenced tables")
    val prev = if (parentVersion < 0) Seq.empty else segmentsOf(parentVersion)
    val prevRows = if (parentVersion < 0) 0L else rowsOf(parentVersion)
    val prevTombs = if (parentVersion < 0) Seq.empty else tombstonesOf(parentVersion)
    val prevTombRows = if (parentVersion < 0) 0L else tombRowsOf(parentVersion)
    commitManifest(absSegmentDir, metrics, appendTo = prev, prevRows = prevRows,
      tombSegs = prevTombs, tombRows = prevTombRows)
  }

  def commitFull(df: DataFrame, metrics: Map[String, String] = Map.empty): (Long, Long) =
    commit(df, metrics, appendTo = Seq.empty, prevRows = 0L)

  def commitAppend(df: DataFrame, metrics: Map[String, String] = Map.empty): (Long, Long) =
    commitAppendTo(df, currentVersion, metrics)

  /** Append anchored at an EXPLICIT parent snapshot rather than the table's
    * own head — the caller (CrawlSession) tracks the committed version in
    * its round checkpoint, so an orphan snapshot left by a crash between a
    * round's two table commits is ignored on resume instead of silently
    * folded into the next append.
    */
  def commitAppendTo(df: DataFrame, parentVersion: Long,
      metrics: Map[String, String] = Map.empty): (Long, Long) = {
    val prev = if (parentVersion < 0) Seq.empty else segmentsOf(parentVersion)
    val prevRows = if (parentVersion < 0) 0L else rowsOf(parentVersion)
    // carry the parent's tombstones forward — an append must not resurrect
    // logically deleted rows
    val prevTombs = if (parentVersion < 0) Seq.empty else tombstonesOf(parentVersion)
    val prevTombRows = if (parentVersion < 0) 0L else tombRowsOf(parentVersion)
    commit(df, metrics, appendTo = prev, prevRows = prevRows,
      tombSegs = prevTombs, tombRows = prevTombRows)
  }

  /** Delta transition anchored at `parentVersion`: append `newRows` as a
    * data segment and `tombstones` (key columns of rows to logically
    * delete) as a tombstone segment. Write cost is O(new + tombstones)
    * regardless of table size — the round-loop fix for the per-round
    * O(frontier) copy-on-write rewrite.
    *
    * Compaction: once accumulated tombstones would exceed a quarter of the
    * live rows (floor 4096), the transition is applied as a full
    * copy-on-write rewrite instead and the tombstone list resets. The
    * budget scales WITH the table — amortized, one rewrite per live/4
    * claimed rows ≈ 4 rows rewritten per claim at any size (at 10^10 rows
    * an absolute cap forced a full rewrite every ~1M claims ≈ 10^4 rows
    * per claim). Reads between compactions stay broadcast-anti-join up to
    * [[broadcastTombRows]] tombstones and shuffled-anti-join beyond.
    */
  /** `deletedRows` — how many LIVE rows the tombstones actually match, for
    * exact row accounting. Default -1 means "tombstones match 1:1" (the
    * frontier claim case, where every tombstoned key exists exactly once);
    * sequenced replace-style callers pass the measured count because a
    * tombstoned key may match 0 (first write of a url) or several
    * (Default-mode duplicate appends) live rows.
    */
  /** `tombstoneRowsHint` ≥ 0: the caller's exact tombstone row count
    * (e.g. the crawl round's claim count — tombstones are 1:1 there).
    * When the hint predicts NO compaction, the tombstone and data-segment
    * writes run CONCURRENTLY (two independent Spark jobs — guide §2.6);
    * the decision is still re-verified from the written footers, and a
    * wrong hint falls back to the compaction path (the pre-written
    * segment dir is reclaimed), so the hint can cost at most one wasted
    * write, never correctness.
    */
  def commitDeltaTo(newRows: DataFrame, tombstones: DataFrame,
      parentVersion: Long,
      metrics: Map[String, String] = Map.empty,
      deletedRows: Long = -1L,
      tombstoneRowsHint: Long = -1L): (Long, Long) = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val v = currentVersion + 1
    val prevRows = if (parentVersion < 0) 0L else rowsOf(parentVersion)
    val prevTombRows = if (parentVersion < 0) 0L else tombRowsOf(parentVersion)
    val compactionBudget = math.max(4096L, prevRows / 4)
    val tombDir = s"$root/tombstones/$v"
    val segDir = s"$root/segments/$v"
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) listDir(p).foreach(rm)
      Files.deleteIfExists(p)
    }
    try {
      val stamped =
        if (sequenced) tombstones.withColumn(SeqCol, lit(v)) else tombstones
      var segPreWritten = false
      if (tombstoneRowsHint >= 0 &&
          prevTombRows + tombstoneRowsHint <= compactionBudget) {
        // hint predicts the delta path → the data segment is needed either
        // way; write it concurrently with the tombstones
        val segOut =
          if (sequenced) newRows.withColumn(SeqCol, lit(v)) else newRows
        val tombF = scala.concurrent.Future {
          stamped.write.mode("overwrite").parquet(tombDir)
        }(SnapshotTable.writeEc)
        // a failed segment write first waits the tombstone write out: left
        // running, it would race the cleanup below and a retry's write of
        // the same dir
        try segOut.write.mode("overwrite").parquet(segDir)
        catch { case NonFatal(e) =>
          scala.util.Try(scala.concurrent.Await.result(tombF,
            scala.concurrent.duration.Duration.Inf))
          throw e
        }
        scala.concurrent.Await.result(tombF,
          scala.concurrent.duration.Duration.Inf)
        segPreWritten = true
      } else {
        // write the tombstone segment first; its footer count drives the
        // compaction decision (no Spark count() job, no trusting the caller)
        stamped.write.mode("overwrite").parquet(tombDir)
      }
      val newTombRows = dirRowCount(tombDir)
      val deleted = if (deletedRows >= 0) deletedRows else newTombRows
      val totalTomb = prevTombRows + newTombRows
      if (totalTomb > math.max(4096L, prevRows / 4)) {
        // a wrong hint pre-wrote the delta segment — reclaim it (it was
        // never referenced by any manifest)
        if (segPreWritten) rm(Paths.get(segDir))
        // compact: parent live rows minus the fresh tombstones, plus newRows.
        // readVersion(parent) already applied older tombstones (and dropped
        // __seq for sequenced tables); the fresh ones apply by key alone —
        // every parent row was written before this commit
        val tombRaw = parquetAt(Seq(tombDir)).drop(SeqCol)
        val tomb =
          if (newTombRows <= broadcastTombRows) broadcast(tombRaw) else tombRaw
        val kept = readVersion(parentVersion).join(tomb,
          tombRaw.columns.toSeq, "left_anti")
        val merged = kept.unionByName(newRows.select(kept.columns.map(c =>
          org.apache.spark.sql.functions.col(c)): _*))
        val out = commit(merged, metrics, appendTo = Seq.empty, prevRows = 0L)
        // the tombstone dir is orphaned by the full rewrite — reclaim it
        rm(Paths.get(tombDir))
        out
      } else {
        val prevSegs = if (parentVersion < 0) Seq.empty else segmentsOf(parentVersion)
        val prevTombs = if (parentVersion < 0) Seq.empty else tombstonesOf(parentVersion)
        if (segPreWritten)
          // segment already on disk from the concurrent write — manifest only
          commitManifest(v.toString, metrics, appendTo = prevSegs,
            prevRows = prevRows - deleted,
            tombSegs = prevTombs :+ v.toString, tombRows = totalTomb,
            expectVersion = v)
        else commit(newRows, metrics, appendTo = prevSegs,
          prevRows = prevRows - deleted,
          tombSegs = prevTombs :+ v.toString, tombRows = totalTomb,
          expectVersion = v)
      }
    } catch { case NonFatal(e) if currentVersion < v =>
      // no manifest references snapshot v's dirs yet: drop them (partial
      // ones included) so a retry starts from a clean slate; best-effort,
      // so the write's own failure is what the caller sees
      Seq(tombDir, segDir).foreach(d => scala.util.Try(rm(Paths.get(d))))
      throw e
    }
  }

  private def dirRowCount(dir: String): Long =
    parquetFiles(dir).map(f => footerRowCount(s"$dir/$f")).sum

  private def parquetFiles(dir: String): Seq[String] =
    listDir(Paths.get(dir)).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).sorted

  private def commit(df: DataFrame, metrics: Map[String, String],
      appendTo: Seq[String], prevRows: Long,
      tombSegs: Seq[String] = Seq.empty, tombRows: Long = 0L,
      expectVersion: Long = -1L): (Long, Long) = {
    val v = currentVersion + 1
    require(expectVersion < 0 || expectVersion == v,
      s"concurrent commit detected: expected $expectVersion, at $v")
    val seg = v.toString
    val segDir = s"$root/segments/$seg"
    val out =
      if (sequenced) df.withColumn(SeqCol, org.apache.spark.sql.functions.lit(v))
      else df
    out.write.mode("overwrite").parquet(segDir)
    commitManifest(seg, metrics, appendTo, prevRows, tombSegs, tombRows,
      expectVersion = v)
  }

  /** manifest-only commit step: record `segEntry` (a local segment name, or
    * an ABSOLUTE shared dir from [[commitAppendRef]]) as snapshot v's new
    * segment. Row count comes straight from the parquet footers on the
    * driver — no Spark job (a count() per commit was ~3 driver round-trips
    * per crawl round of pure scheduling overhead).
    */
  private def commitManifest(segEntry: String, metrics: Map[String, String],
      appendTo: Seq[String], prevRows: Long,
      tombSegs: Seq[String] = Seq.empty, tombRows: Long = 0L,
      expectVersion: Long = -1L): (Long, Long) = {
    val v = currentVersion + 1
    require(expectVersion < 0 || expectVersion == v,
      s"concurrent commit detected: expected $expectVersion, at $v")
    val segDir = segPath(segEntry)
    val files = parquetFiles(segDir)
    val segRows = files.map(f => footerRowCount(s"$segDir/$f")).sum
    val rows = prevRows + segRows
    val segs = appendTo :+ segEntry
    val metricsJson = (metrics ++ Map(
      "parentVersion" -> currentVersion.toString,
      "rows" -> rows.toString,
      "segmentRows" -> segRows.toString,
      "tombRows" -> tombRows.toString))
      .toSeq.sortBy(_._1)
      .map { case (k, q) => s""""$k": "${q.replace("\"", "'")}"""" }
      .mkString(",\n  ")
    val segsJson = segs.map(s => s""""$s"""").mkString("[", ",", "]")
    val tombsJson = tombSegs.map(s => s""""$s"""").mkString("[", ",", "]")
    val filesJson = files.map(f => s""""$f"""").mkString("[", ",", "]")
    Files.createDirectories(metaPath(v).getParent)
    Files.writeString(metaPath(v),
      s"""{\n  "version": $v,\n  $metricsJson,\n  "segments": $segsJson,\n  "tombstones": $tombsJson,\n  "newFiles": $filesJson\n}\n""")
    val tmp = Paths.get(root, s".manifest.$v.tmp")
    Files.writeString(tmp, s"""{"current": $v}""")
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    (v, rows)
  }

  /** Files.list with the stream closed (it holds a directory fd open —
    * leaking one per commit starves a long-running daemon of fds).
    */
  private def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  private def footerRowCount(file: String): Long = footer(file)(_.getRecordCount)

  private def footer[A](file: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try f(r) finally r.close()
  }

  /** every segment / tombstone entry referenced by any snapshot in
    * [max(0, from), currentVersion] — crash-orphan snapshots in that range
    * included, so a conservative GC never deletes what a resume (which
    * anchors at the checkpointed version ≥ `from`) could still read.
    */
  def referencedEntries(from: Long): (Set[String], Set[String]) = {
    val vs = (math.max(0L, from) to currentVersion)
      .filter(v => Files.exists(metaPath(v)))
    (vs.flatMap(segmentsOf).toSet, vs.flatMap(tombstonesOf).toSet)
  }

  /** Expire storage not referenced by any snapshot ≥ `from` (the Iceberg
    * `expire_snapshots` analog for this shim): deletes LOCAL segment and
    * tombstone dirs outside the retain sets and the metas of snapshots
    * below `from`. `extraRetain` holds claims other tables have on THIS
    * table's local segments via [[commitAppendRef]] (pass the ref paths;
    * matching is by resolved path). Absolute entries in this table's own
    * manifests are external and never touched. Time travel below `from`
    * stops working, exactly like Iceberg snapshot expiry.
    */
  def expireBefore(from: Long, extraRetain: Set[String] = Set.empty): (Int, Int) = {
    val (segs, tombs) = referencedEntries(from)
    val keepSegs = segs.filterNot(_.startsWith("/")) ++
      extraRetain.collect {
        case p if p.startsWith(s"$root/segments/") =>
          p.stripPrefix(s"$root/segments/")
      }
    def sweep(kind: String, keep: Set[String]): Int = {
      var n = 0
      listDir(Paths.get(root, kind)).foreach { p =>
        if (!keep.contains(p.getFileName.toString)) {
          def rm(q: Path): Unit = {
            if (Files.isDirectory(q)) listDir(q).foreach(rm)
            Files.deleteIfExists(q)
          }
          rm(p); n += 1
        }
      }
      n
    }
    val deletedSegs = sweep("segments", keepSegs)
    val deletedTombs = sweep("tombstones", tombs.filterNot(_.startsWith("/")))
    (0L until math.max(0L, from)).foreach { v =>
      Files.deleteIfExists(metaPath(v))
      Files.deleteIfExists(metaPath(v).getParent)
    }
    (deletedSegs, deletedTombs)
  }

  /** Drop the whole table (S9 cleanup sink, RiverWeb.java:482-508). */
  def drop(): Unit = {
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) listDir(p).foreach(rm)
      Files.deleteIfExists(p)
    }
    rm(Paths.get(root))
  }
}

object SnapshotTable {
  /** hidden per-segment sequence column of `sequenced` tables. */
  val SeqCol = "__seq"

  /** driver pool for the concurrent tombstone+segment delta write
    * ([[SnapshotTable.commitDeltaTo]] with a tombstone-rows hint).
    */
  private[frontier] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(r, "graft-delta-write"); t.setDaemon(true); t
      }))

  /** Default read-side BROADCAST budget for accumulated tombstones
    * (~60 B/row ⇒ ~60 MB broadcast at the cap). No longer a compaction
    * trigger: below it merge-on-read is a map-side BroadcastHashJoin,
    * above it a shuffled anti-join — compaction fires only at live/4
    * tombstones, so rewrite amortization (4 rows/claim) is independent of
    * table size.
    */
  val MaxTombRows: Long = 1000000L

  def apply(root: String)(implicit spark: SparkSession): SnapshotTable =
    new SnapshotTable(root, spark)
}
