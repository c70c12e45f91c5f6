package graft.frontier

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graftbridge.PhysicalRows
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.util.SerializableConfiguration

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
  *     (doc appends) — merge-on-read via multi-dir parquet scan;
  *     `commitDeltaTo` = delta segment PLUS a tombstone segment (frontier
  *     round transition: the claimed rows become tombstones anti-joined out
  *     on read, so a round writes O(claim batch + new URLs) instead of
  *     rewriting a 10^10-row frontier to remove 10^5 claimed rows), with
  *     automatic compaction once tombstones pass a quarter of the live rows
  *     (the parent's surviving rows become one base segment);
  *   - every snapshot also lists its APPEND LOG: the data segment `<v>` of
  *     each commit since the last `commitFull`, which starts a new log. A
  *     compaction's `<v>-base` never joins it, so the log holds every row
  *     the table was given exactly once, tombstoned or not — the frontier's
  *     log is the crawl's URL-seen set ([[appendedOf]], [[readSegments]]);
  *   - every file is written by one writer, [[SegmentWriter]] (the parquet
  *     writer Spark's own write tasks use), and every commit publishes the
  *     files and row counts its writers return: no commit takes its file
  *     list from a dir listing or opens a footer to count rows. A frame
  *     whose rows are already on the driver (its optimized plan is a
  *     `LocalRelation`, e.g. a small crawl round's claim tombstones and new
  *     entries) is written from the driver as one file, with no Spark
  *     job; any other frame is one Spark action whose tasks each write
  *     their partition's file. An append can also commit a segment written
  *     before the commit: [[stagedWriter]] hands out the writer of the next version's
  *     segment dir, a Spark task writes with it (a small crawl round's
  *     docs, beside the round's other work), and [[commitWritten]]
  *     publishes the file the task returned. Readers cannot tell these
  *     apart: every read is a Spark read ([[readVersion]],
  *     [[readSegments]]) over the schema of one footer;
  *   - a commit deletes every other file in the dirs it wrote (a failed
  *     task attempt's, or any stray), since reads list the dirs. That
  *     needs no attempt to write after its job has ended, which holds
  *     because the table is on the local file system (`java.nio`
  *     throughout) under local Spark, which starts a task's retry only
  *     once the failed attempt has ended. On a cluster, with speculation
  *     or a lost executor, an attempt can outlive its job; reads planned
  *     from the manifest's file lists, not from dir listings, would lift
  *     the condition;
  *   - a meta.json writes each run of consecutive commit versions in its
  *     segment, tombstone and append-log lists as one `"<a>..<b>"` entry,
  *     so a snapshot's manifest does not grow with its log;
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
    // too). Opt-in per table: the frontier never re-inserts a tombstoned
    // key, so it skips the +8 B/row.
    val sequenced: Boolean = false,
    // read-side broadcast budget for the tombstone anti-join; above it the
    // merge-on-read falls back to a shuffled anti-join (test-injectable)
    val broadcastTombRows: Long = SnapshotTable.MaxTombRows) {

  import SnapshotTable._

  /** absolute and normalized: one spelling of every dir this table hands
    * to Spark and to java.nio, whatever the working dir.
    */
  val root: String = Paths.get(dir).toAbsolutePath.normalize.toString
  // manifest entries are written unescaped and read back by a regex plus
  // split(","), so a root holding any of these would corrupt them
  require(!root.exists(",\"[]\\".contains(_)),
    "snapshot table root must not contain , \" [ ] or \\: " + root)

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

  /** live segment dirs of snapshot v (none before the first commit, v = -1). */
  def segmentsOf(v: Long): Seq[String] = listOf(v, "segments")

  /** tombstone segment dirs of snapshot v (rows anti-joined out on read). */
  def tombstonesOf(v: Long): Seq[String] = listOf(v, "tombstones")

  /** the append log of snapshot v: segment `<k>` of every commit k ≤ v
    * since the last `commitFull`, compacted away or not (see the class doc).
    */
  def appendedOf(v: Long): Seq[String] = listOf(v, "appended")

  private def listOf(v: Long, key: String): Seq[String] = {
    if (v < 0) return Seq.empty
    val json = Files.readString(metaPath(v))
    ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(json) match {
      case Some(m) =>
        m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq.flatMap {
            case Run(a, b) => (a.toLong to b.toLong).map(_.toString)
            case entry => Seq(entry)
          }
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

  /** `spark.read.parquet(dirs)` without its one-task schema-inference job:
    * the schema is the Spark row-metadata key of one footer, read on the
    * driver from the file Spark's own `mergeSchema=false` inference reads
    * (the least data-file path). With schema merging on, or a footer that
    * lacks the key, Spark infers as before.
    */
  private def parquetAt(dirs: Seq[String]): DataFrame = {
    val schema =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else filesIn(dirs).minOption.flatMap(sparkSchema(_))
    schema.fold(spark.read)(spark.read.schema).parquet(dirs: _*)
  }

  private def filesIn(dirs: Seq[String]): Seq[String] =
    dirs.flatMap(d => listDir(Paths.get(d)).map(_.toString).filter(_.endsWith(".parquet")))

  /** the Spark schema a file's footer records under Spark's row-metadata
    * key, if any.
    */
  private def sparkSchema(file: String): Option[StructType] =
    footer(file)(r => Option(r.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY)))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }

  private def segPath(s: String): String = s"$root/segments/$s"

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
    val segs = segmentsOf(v)
    val data = parquetAt(segs.map(segPath))
    val tombs = tombstonesOf(v)
    if (tombs.isEmpty) { if (sequenced) data.drop(SeqCol) else data }
    else {
      val tomb = parquetAt(tombs.map(t => s"$root/tombstones/$t"))
      val tside = if (tombRowsOf(v) <= broadcastTombRows) broadcast(tomb) else tomb
      if (!sequenced)
        // the using-join moves the key columns first: keep the data order,
        // so every version reads in one column order
        data.join(tside, tomb.columns.toSeq, "left_anti").select(data.columns.map(col): _*)
      else {
        // sequence rule: a tombstone deletes only rows written BEFORE it
        val keyCols = tomb.columns.filterNot(_ == SeqCol)
        val cond = keyCols.map(c => data(c) === tomb(c)).reduce(_ && _) &&
          data(SeqCol) < tomb(SeqCol)
        data.join(tside, cond, "left_anti").drop(SeqCol)
      }
    }
  }

  /** raw data segments, no tombstones applied (e.g. an [[appendedOf]] log). */
  def readSegments(segs: Seq[String]): DataFrame = parquetAt(segs.map(segPath))

  /** raw row count of one segment from its parquet footers (driver-side,
    * no Spark job).
    */
  def segmentRows(seg: String): Long = filesIn(Seq(segPath(seg))).map(footer(_)(_.getRecordCount)).sum

  /** Replace the table with `df`; starts a new append log. */
  def commitFull(df: DataFrame, metrics: Map[String, String] = Map.empty): (Long, Long) = {
    val v = currentVersion + 1
    commitManifest(metrics, appendTo = Seq.empty, logTo = Seq.empty, prevRows = 0L,
      expectVersion = v, written = write(df, segPath(v.toString), v))
  }

  /** Append `df` on top of the table's head. */
  def commitAppend(df: DataFrame, metrics: Map[String, String] = Map.empty): (Long, Long) = {
    val v = currentVersion + 1
    appendManifest(v, metrics, write(df, segPath(v.toString), v))
  }

  /** A writer of the data segment of the next append, version v = head + 1,
    * for a Spark task to write directly; [[commitWritten]] then commits the
    * file it wrote. On a sequenced table it stamps each row with `__seq` v.
    */
  def stagedWriter(schema: StructType): (Long, SegmentWriter) = {
    val v = currentVersion + 1
    (v, segmentWriter(segPath(v.toString), schema, v))
  }

  /** [[commitAppend]] of a segment a [[stagedWriter]] wrote: `file`, of
    * `rows` rows, as the writer returned them. If it fails, the table stays
    * at its parent; [[discardStaged]] deletes the staged files.
    */
  def commitWritten(v: Long, file: String, rows: Long,
      metrics: Map[String, String] = Map.empty): (Long, Long) =
    appendManifest(v, metrics, swept(Written(segPath(v.toString), Seq(file -> rows))))

  /** delete the staged segment and meta of version v unless v is
    * published (best-effort): what a failed [[commitWritten]] or a writer
    * whose commit never ran leaves.
    */
  def discardStaged(v: Long): Unit =
    if (currentVersion < v)
      Seq(segPath(v.toString), metaPath(v).getParent.toString)
        .foreach(d => scala.util.Try(rmTree(Paths.get(d))))

  /** publish segment `<v>` on top of the parent v - 1, carrying its
    * tombstones forward — an append must not resurrect logically deleted
    * rows.
    */
  private def appendManifest(v: Long, metrics: Map[String, String],
      written: Written): (Long, Long) = {
    val parent = v - 1
    commitManifest(metrics, appendTo = segmentsOf(parent), logTo = appendedOf(parent),
      prevRows = rowsOf(parent), tombSegs = tombstonesOf(parent),
      tombRows = tombRowsOf(parent), expectVersion = v, written = written)
  }

  /** Delta transition on top of the table's head: `newRows` becomes data
    * segment `<v>` and `tombstones` (key columns of rows to logically
    * delete) tombstone segment `<v>`, written concurrently. Write cost is
    * O(new + tombstones) regardless of table size — the round-loop fix for
    * the per-round O(frontier) copy-on-write rewrite.
    *
    * Staged publish: `beforePublish` runs once every file of snapshot v
    * (segments, tombstones, `snapshots/<v>/meta.json`) is written and
    * before the `manifest.json` rename that publishes it. If it throws,
    * the table stays at its parent, snapshot v's files are deleted, and
    * the exception is rethrown — so a caller can make the rename the
    * commit point of work outside this table (the crawl round's docs).
    *
    * Compaction: once accumulated tombstones, as their writers counted
    * them, exceed a quarter of the live rows (floor 4096), the parent's surviving rows (`readVersion(parent)` minus the
    * fresh tombstones) are rewritten as a second segment of snapshot v,
    * `<v>-base`, and the tombstone list resets. Segment `<v>` holds exactly
    * `newRows` on both paths, so no row is written twice, `segmentRows` is
    * the batch, and `<v>` (never `<v>-base`) joins the append log. The
    * budget scales WITH the table — amortized, one rewrite per live/4
    * claimed rows ≈ 4 rows rewritten per claim at any size (at 10^10 rows
    * an absolute cap forced a full rewrite every ~1M claims ≈ 10^4 rows
    * per claim). Reads between compactions stay broadcast-anti-join up to
    * [[broadcastTombRows]] tombstones and shuffled-anti-join beyond.
    *
    * Contract: every tombstone row deletes exactly ONE live row of the
    * parent. The new live count is then parent − tombstone rows + segment
    * rows, all counted as written, and the compaction trigger counts only
    * real deletes. The frontier's claimed rows satisfy it (each url is in
    * the frontier once); a replace-style caller on a sequenced table
    * tombstones the key of each parent row it replaces, e.g.
    * `readVersion(parent)` keys left-semi-joined with the batch — a key
    * live twice is tombstoned twice, a new key not at all.
    */
  def commitDeltaTo(newRows: DataFrame, tombstones: DataFrame,
      metrics: Map[String, String] = Map.empty,
      beforePublish: () => Unit = () => ()): (Long, Long) = {
    val head = currentVersion
    val v = head + 1
    val prevRows = rowsOf(head)
    val prevTombRows = tombRowsOf(head)
    val tombDir = s"$root/tombstones/$v"
    val segDir = s"$root/segments/$v"
    val base = s"$v-base"
    try {
      val tombF = Future(write(tombstones, tombDir, v))(SnapshotTable.writeEc)
      // a failed segment write first waits the tombstone write out: left
      // running, it would race the cleanup below and a retry's write of
      // the same dir
      val seg =
        try write(newRows, segDir, v)
        catch { case NonFatal(e) =>
          scala.util.Try(Await.result(tombF, Duration.Inf))
          throw e
        }
      val newTombRows = Await.result(tombF, Duration.Inf).rows
      val totalTomb = prevTombRows + newTombRows
      if (totalTomb > math.max(4096L, prevRows / 4)) {
        // readVersion(parent) already applied older tombstones (and dropped
        // __seq for sequenced tables); the fresh ones apply by key alone —
        // every parent row was written before this commit
        val tombRaw = parquetAt(Seq(tombDir)).drop(SeqCol)
        val tomb =
          if (newTombRows <= broadcastTombRows) broadcast(tombRaw) else tombRaw
        val parent = readVersion(head)
        val survivors = write(parent.join(tomb, tombRaw.columns.toSeq, "left_anti")
          .select(parent.columns.map(col): _*), segPath(base), v)
        // the base segment replaces every tombstone: no snapshot needs this one
        rmTree(Paths.get(tombDir))
        commitManifest(metrics, appendTo = Seq(base),
          logTo = appendedOf(head), prevRows = survivors.rows,
          expectVersion = v, beforePublish = beforePublish, written = seg)
      } else {
        commitManifest(metrics, appendTo = segmentsOf(head),
          logTo = appendedOf(head), prevRows = prevRows - newTombRows,
          tombSegs = tombstonesOf(head) :+ v.toString, tombRows = totalTomb,
          expectVersion = v, beforePublish = beforePublish, written = seg)
      }
    } catch { case NonFatal(e) if currentVersion < v =>
      // no manifest references snapshot v yet: drop its files (partial
      // ones included) so a retry starts from a clean slate; best-effort,
      // so the write's own failure is what the caller sees
      Seq(tombDir, segDir, segPath(base), metaPath(v).getParent.toString)
        .foreach(d => scala.util.Try(rmTree(Paths.get(d))))
      throw e
    }
  }

  /** Write `df` as the parquet dir `dir` of snapshot v, replacing any
    * earlier one, through a [[SegmentWriter]]: the files it wrote with their
    * rows, and no other file in `dir`. A frame whose optimized plan is a
    * [[LocalRelation]] (rows built on the driver, with any projection over
    * them folded in by the optimizer) is written from the driver as one
    * file, with no Spark job. Any other frame is one Spark action
    * (`collect at FrontierStore.scala`) whose tasks write their partitions
    * ([[SegmentWriter.task]]) and return their files.
    */
  private def write(df: DataFrame, dir: String, v: Long): Written = {
    val plan = df.queryExecution.optimizedPlan
    val writer = segmentWriter(dir, plan.schema, v)
    val files = plan match {
      case local: LocalRelation => Seq(writer.writeFile(out => local.data.foreach(out.write)))
      case _ => writer.filesOf(PhysicalRows.collect(df)(writer.task))
    }
    swept(Written(dir, files))
  }

  /** a writer of rows of `schema` into the emptied dir `dir`; on a sequenced
    * table it stamps each row with `__seq` v — the one place a row gets
    * its sequence.
    */
  private def segmentWriter(dir: String, schema: StructType, v: Long): SegmentWriter = {
    rmTree(Paths.get(dir))
    Files.createDirectories(Paths.get(dir))
    val seq = Some(v).filter(_ => sequenced)
    val full = seq.fold(schema)(_ => schema.add(SeqCol, LongType, nullable = false))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, full)
    new SegmentWriter(dir, full, seq, factory, new SerializableConfiguration(job.getConfiguration))
  }

  /** `w`, once every other file in its dir is deleted (a failed task
    * attempt's, or a stray), each kept file's checksum excepted.
    */
  private def swept(w: Written): Written = {
    val keep = w.files.flatMap { case (f, _) => Seq(f, s".$f.crc") }.toSet
    listDir(Paths.get(w.dir)).filterNot(p => keep(p.getFileName.toString)).foreach(rmTree)
    w
  }

  /** manifest-only commit step: record `written`, segment `<v>`, as
    * snapshot v's new segment, after `appendTo` in the live list and after
    * `logTo` in the append log, with its writer's files and row count, then
    * run `beforePublish` and publish v by the manifest rename.
    */
  private def commitManifest(metrics: Map[String, String],
      appendTo: Seq[String], logTo: Seq[String], prevRows: Long,
      tombSegs: Seq[String] = Seq.empty, tombRows: Long = 0L,
      expectVersion: Long = -1L, beforePublish: () => Unit = () => (),
      written: Written): (Long, Long) = {
    val v = currentVersion + 1
    require(expectVersion < 0 || expectVersion == v,
      s"concurrent commit detected: expected $expectVersion, at $v")
    val seg = v.toString
    val rows = prevRows + written.rows
    val metricsJson = (metrics ++ Map(
      "parentVersion" -> currentVersion.toString,
      "rows" -> rows.toString,
      "segmentRows" -> written.rows.toString,
      "tombRows" -> tombRows.toString))
      .toSeq.sortBy(_._1)
      .map { case (k, q) => s""""$k": "${q.replace("\"", "'")}"""" }
      .mkString(",\n  ")
    def arr(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString("[", ",", "]")
    def runs(xs: Seq[String]) = arr(toRuns(xs))
    Files.createDirectories(metaPath(v).getParent)
    Files.writeString(metaPath(v),
      s"""{\n  "version": $v,\n  $metricsJson,\n  "segments": ${runs(appendTo :+ seg)},\n  "tombstones": ${runs(tombSegs)},\n  "appended": ${runs(logTo :+ seg)},\n  "newFiles": ${arr(written.files.map(_._1).sorted)}\n}\n""")
    beforePublish()
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

  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(rmTree)
    Files.deleteIfExists(p)
  }

  /** open one parquet file on the driver. The read options are built from
    * the same session conf as the input file: `open(InputFile)` alone
    * builds default options around a fresh Hadoop `Configuration`, which
    * re-parses the default XML resources on every call (~17 ms a read).
    */
  private def footer[A](file: String)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    val conf = spark.sessionState.newHadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try f(r) finally r.close()
  }

  /** every segment / tombstone entry referenced by any snapshot in
    * [max(0, from), currentVersion]. Append logs are not references: a log
    * keeps every segment a compaction replaced, so a caller that reads one
    * retains it through `extraRetain`.
    */
  private def referencedEntries(from: Long): (Set[String], Set[String]) = {
    val vs = (math.max(0L, from) to currentVersion)
      .filter(v => Files.exists(metaPath(v)))
    (vs.flatMap(segmentsOf).toSet, vs.flatMap(tombstonesOf).toSet)
  }

  /** Expire storage not referenced by any snapshot in [`from`, head] (the
    * Iceberg `expire_snapshots` analog for this shim): deletes segment and
    * tombstone dirs outside the retain sets, the metas of snapshots below
    * `from`, and those above the head (a publish a crash lost after its
    * meta was written). `extraRetain` holds further segment names to keep
    * (the crawl passes the frontier's append log, which it reads as the
    * seen set). Time travel below `from` stops working, exactly like
    * Iceberg snapshot expiry.
    */
  def expireBefore(from: Long, extraRetain: Set[String] = Set.empty): (Int, Int) = {
    val (segs, tombs) = referencedEntries(from)
    def sweep(kind: String, keep: Set[String]): Int = {
      var n = 0
      listDir(Paths.get(root, kind)).foreach { p =>
        if (!keep.contains(p.getFileName.toString)) { rmTree(p); n += 1 }
      }
      n
    }
    val deletedSegs = sweep("segments", segs ++ extraRetain)
    val deletedTombs = sweep("tombstones", tombs)
    val head = currentVersion
    listDir(Paths.get(root, "snapshots")).foreach { p =>
      if (p.getFileName.toString.toLongOption.exists(v => v < from || v > head)) rmTree(p)
    }
    (deletedSegs, deletedTombs)
  }

  /** Drop the whole table (S9 cleanup sink, RiverWeb.java:482-508). */
  def drop(): Unit = rmTree(Paths.get(root))
}

object SnapshotTable {
  /** hidden per-segment sequence column of `sequenced` tables. */
  val SeqCol = "__seq"

  /** a manifest entry standing for the integer entries `<a>` to `<b>`. */
  private val Run = """(\d+)\.\.(\d+)""".r

  /** `entries` with each run of two or more consecutive integer entries
    * written as one [[Run]]: a snapshot's lists are mostly the commit
    * versions since the log started, so its manifest stays small.
    */
  private def toRuns(entries: Seq[String]): Seq[String] =
    entries.foldLeft(Vector.empty[Either[String, (Long, Long)]]) { (out, e) =>
      (out.lastOption, e.toLongOption.filter(n => n >= 0 && n.toString == e)) match {
        case (Some(Right((a, b))), Some(n)) if n == b + 1 => out.init :+ Right((a, n))
        case (_, Some(n)) => out :+ Right((n, n))
        case _ => out :+ Left(e)
      }
    }.map {
      case Right((a, b)) => if (a == b) a.toString else s"$a..$b"
      case Left(e) => e
    }

  /** driver pool for the tombstone write that [[SnapshotTable.commitDeltaTo]]
    * overlaps with its segment write. Two threads: a crawl round's frontier
    * and docs commits (the latter on its own pool thread) can both be in
    * one at a time. Its threads inherit no thread locals, so no Spark local
    * property of the thread that happened to start one (a streaming
    * batch's SQL execution id, say) sticks to every write it later runs.
    */
  private[frontier] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(null, r, "graft-delta-write", 0L, false); t.setDaemon(true); t
      }))

  /** Default read-side BROADCAST budget for accumulated tombstones
    * (~60 B/row ⇒ ~60 MB broadcast at the cap). No longer a compaction
    * trigger: below it merge-on-read is a map-side BroadcastHashJoin,
    * above it a shuffled anti-join — compaction fires only at live/4
    * tombstones, so rewrite amortization (4 rows/claim) is independent of
    * table size.
    */
  val MaxTombRows: Long = 1000000L

  /** the files one writer put in `dir`, each with its row count. */
  private final case class Written(dir: String, files: Seq[(String, Long)]) {
    def rows: Long = files.map(_._2).sum
  }
}

/** Writes the parquet files of one segment dir through the writer Spark's
  * own write tasks use (`ParquetFileFormat.prepareWrite` + `OutputWriter`),
  * so a file has the same codec, footer and row-metadata key as a Spark
  * write's, without Spark's job commit (no `_temporary` dir, no
  * `_SUCCESS`). Built on the driver by [[SnapshotTable]]; serializable, so
  * a Spark task can write with it as well as the driver. `seq` stamps every
  * row with a sequenced table's `__seq`.
  */
final class SegmentWriter private[frontier] (val dir: String, schema: StructType,
    seq: Option[Long], factory: OutputWriterFactory, conf: SerializableConfiguration)
    extends Serializable {

  /** open a file in [[dir]], run `f` with it and close it: the file's name
    * and rows. A task's file is
    * `part-<partition>-task-<attempt id>-c000<ext>`, so a retried task
    * writes a new file; outside a task it is the driver's
    * `part-00000-driver-c000<ext>`. If `f` fails (a killed attempt
    * included), the file is deleted, as Spark's own write tasks do.
    */
  def writeFile(f: SegmentFile => Unit): (String, Long) = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val tag = Option(org.apache.spark.TaskContext.get())
      .fold("00000-driver")(t => f"${t.partitionId}%05d-task-${t.taskAttemptId}")
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val name = s"part-$tag-c000${factory.getFileExtension(ctx)}"
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val out = new SegmentFile(factory.newInstance(path.toString, schema, ctx), seq)
    try f(out) catch { case e: Throwable =>
      scala.util.Try(out.close())
      scala.util.Try(path.getFileSystem(conf.value).delete(path, false))
      throw e
    }
    out.close()
    (name, out.rows)
  }

  /** the task of a Spark write over one partition's rows, by Spark's rule:
    * partition 0 always writes a file, so every segment has a schema
    * footer, and any other partition only when it has rows.
    */
  def task(rows: Iterator[InternalRow]): Iterator[(String, Long)] =
    if (org.apache.spark.TaskContext.getPartitionId() > 0 && !rows.hasNext) Iterator.empty
    else Iterator(writeFile(out => rows.foreach(out.write)))

  /** the files a write's tasks returned; a plan with no partition ran no
    * task, so the driver writes the empty file.
    */
  def filesOf(results: Array[(String, Long)]): Seq[(String, Long)] =
    if (results.nonEmpty) results.toSeq else Seq(writeFile(_ => ()))
}

/** One open file of a [[SegmentWriter]], and the rows written so far. */
final class SegmentFile private[frontier] (out: OutputWriter, seq: Option[Long]) {
  private val stamped = seq.map(v => (new JoinedRow, InternalRow(v)))
  private[frontier] var rows = 0L

  def write(row: InternalRow): Unit = {
    out.write(stamped.fold(row) { case (j, s) => j(row, s) })
    rows += 1
  }

  private[frontier] def close(): Unit = out.close()
}
