package graft.frontier

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.UrlOps

class SeenSetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def urlsDf(urls: Seq[String]) =
    urls.toDF("url").withColumn("urlHash", xxhash64(col("url")))

  val seenUrls = (0 until 2000).map(i => s"http://h${i % 7}.example.com/page/$i")
  val candUrls = (1500 until 3000).map(i => s"http://h${i % 7}.example.com/page/$i")
  val trulyNew = candUrls.toSet -- seenUrls.toSet

  /** the first parquet file of `dir` by name: its Spark row-metadata key,
    * its parquet schema and the codec of each column of its first row group.
    */
  def footerSchema(dir: String): String =
    footerOf(new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).min)

  def footerOf(f: String): String = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFileMetaData.getKeyValueMetaData.get(
      org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport.SPARK_METADATA_KEY) +
      r.getFileMetaData.getSchema.toString + r.getRowGroups.asScala.headOption
        .fold("")(_.getColumns.asScala.map(_.getCodec.toString).mkString(","))
    finally r.close()
  }

  test("bloom path never drops a truly-new URL and equals the exact anti-join") {
    val seen = urlsDf(seenUrls)
    val n = seenUrls.size.toLong
    val cand = urlsDf(candUrls).persist() // bloom routing requires materialized input
    def urls(df: org.apache.spark.sql.DataFrame) =
      df.select("url").collect().map(_.getString(0)).toSet
    val viaExact = SeenSet.filterNew(cand, seen, n, maxBloomItems = 0L)
    assert(urls(viaExact) == trulyNew)

    // the crawl loop's call: the incrementally kept filter, no own build
    val table = new SnapshotTable(TestSpark.tmpDir("seen-bloom"), spark)
    table.commitAppend(seen)
    val kept = new IncrementalSeenBloom(table).forVersion(table.currentVersion, n)
    Seq(
      "built" -> SeenSet.filterNew(cand, seen, n,
        maxBloomItems = 1000000L, fpp = 0.3), // high fpp to force exact-join fallbacks
      "prebuilt" -> SeenSet.filterNew(cand, seen, n,
        maxBloomItems = 0L, prebuiltBloom = Some(kept))).foreach {
      case (name, viaBloom) =>
        assert(viaBloom.queryExecution.executedPlan.toString
          .contains("might_contain"), s"$name: bloom route not taken")
        assert(urls(viaBloom) == urls(viaExact), name)
    }
    table.drop()
    cand.unpersist()
  }

  test("unpersisted candidates fall back to the plain anti-join (no recompute)") {
    val seen = urlsDf(seenUrls)
    val cand = urlsDf(candUrls) // not persisted → plain path
    val got = SeenSet.filterNew(cand, seen, seenUrls.size.toLong)
      .select("url").collect().map(_.getString(0)).toSet
    assert(got == trulyNew)
  }

  test("hash collisions do not conflate distinct urls (url participates in the join)") {
    // two distinct urls forced onto the same hash value
    val seen = Seq(("http://a/1", 99L)).toDF("url", "urlHash")
    val cand = Seq(("http://b/2", 99L)).toDF("url", "urlHash")
    val out = SeenSet.filterNew(cand, seen, 1L, maxBloomItems = 0L)
    assert(out.count() == 1) // same hash, different url => still new
  }

  test("politeness claim: per-host budget + canonical order + global cap") {
    val rows = (0 until 500).map { i =>
      val url = s"http://h${i % 5}.example.com/page/$i"
      (url, UrlOps.urlHash(url), s"h${i % 5}.example.com", i % 3, "p")
    }
    val frontier = rows.toDF("url", "urlHash", "host", "depth", "parentUrl")
    val claimed = Politeness.claim(frontier, hostBudget = 4, remaining = 12)
      .collect()
    assert(claimed.length == 12)
    val byHost = claimed.groupBy(_.getString(2))
    byHost.values.foreach(c => assert(c.length <= 4))
    // claimed = globally first 12 of the per-host-top-4 set in canonical order
    val perHostTop = rows.groupBy(_._3).values.flatMap(
      _.sortBy(r => (r._4, r._2, r._1)).take(4)).toSeq
    val expected = perHostTop.sortBy(r => (r._4, r._2, r._1)).take(12).map(_._1).toSet
    assert(claimed.map(_.getString(0)).toSet == expected)
  }

  test("snapshot table: append/full commits, versioned reads, resume metadata") {
    val dir = TestSpark.tmpDir("snap")
    val t = new SnapshotTable(dir, spark)
    assert(t.isEmpty)
    t.commitAppend(Seq(1, 2, 3).toDF("v"), Map("round" -> "1"))
    t.commitAppend(Seq(4, 5).toDF("v"), Map("round" -> "2"))
    assert(t.rowsOf(t.currentVersion) == 5)
    assert(t.read().count() == 5)
    assert(t.metric(t.currentVersion, "round").contains("2"))
    t.commitFull(Seq(9).toDF("v"), Map("round" -> "3"))
    assert(t.read().count() == 1)
    assert(t.readVersion(1).count() == 5) // time travel to snapshot 1
    t.drop()
  }

  test("snapshot table: tombstone delta removes rows without a rewrite; live-row accounting exact") {
    val dir = TestSpark.tmpDir("snap-tomb")
    val t = new SnapshotTable(dir, spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val (v0, n0) = t.commitFull(rows(0 until 100))
    assert(n0 == 100)
    // delta: add 10 new rows, tombstone 5 claimed ones
    val (v1, n1) = t.commitDeltaTo(rows(100 until 110), rows(0 until 5))
    assert(n1 == 105, "live rows = 100 + 10 - 5")
    assert(t.rowsOf(v1) == 105 && t.tombRowsOf(v1) == 5)
    val got = t.readVersion(v1).select("url").collect().map(_.getString(0)).toSet
    assert(got == (5 until 110).map(i => s"u$i").toSet)
    // the delta appended ONE new data segment — no copy-on-write of the base
    assert(t.segmentsOf(v1).size == t.segmentsOf(v0).size + 1)
    assert(t.tombstonesOf(v1).nonEmpty)
    // parent snapshot unaffected (time travel ignores later tombstones)
    assert(t.readVersion(v0).count() == 100)
    // a plain append on top must carry the tombstones forward
    val (v2, n2) = t.commitAppend(rows(110 until 115))
    assert(n2 == 110)
    assert(!t.readVersion(v2).select("url").collect().map(_.getString(0)).toSet.contains("u3"))
    t.drop()
  }

  test("snapshot table: a failed delta commit leaves no snapshot dirs; a retry commits") {
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val broken = rows(100 until 110)
      .withColumn("url", raise_error(lit("boom")).cast("string"))
    // the tombstone and segment writes overlap
    val dir = TestSpark.tmpDir("snap-fail")
    val t = new SnapshotTable(dir, spark)
    val (v0, _) = t.commitFull(rows(0 until 100))
    intercept[Exception](t.commitDeltaTo(broken, rows(0 until 5)))
    def staged(v: Long) = Seq("segments", "tombstones", "snapshots")
      .map(kind => Paths.get(dir, kind, v.toString))
    assert(t.currentVersion == v0)
    staged(v0 + 1).foreach(p => assert(!Files.exists(p), p))
    // a publish barrier that throws: every file of v0 + 1 was written, and
    // none is left; the table stays at its parent
    var seen = Seq.empty[Boolean]
    intercept[IllegalStateException](t.commitDeltaTo(rows(100 until 110), rows(0 until 5),
      beforePublish = () => {
        seen = staged(v0 + 1).map(Files.exists(_))
        throw new IllegalStateException("barrier")
      }))
    assert(seen == Seq(true, true, true), s"staged before the barrier: $seen")
    assert(t.currentVersion == v0)
    staged(v0 + 1).foreach(p => assert(!Files.exists(p), p))
    val (v1, n1) = t.commitDeltaTo(rows(100 until 110), rows(0 until 5))
    assert(v1 == v0 + 1 && n1 == 105)
    assert(t.readVersion(v1).select("url").collect().map(_.getString(0)).toSet ==
      (5 until 110).map(i => s"u$i").toSet)
    t.drop()
  }

  test("snapshot table: a compacting delta writes the batch once, beside a base of the survivors") {
    Seq(false, true).foreach { sequenced =>
      val tag = if (sequenced) "sequenced" else "plain"
      val dir = TestSpark.tmpDir("snap-compact-once")
      val t = new SnapshotTable(dir, spark, sequenced = sequenced)
      def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
      def urls(df: org.apache.spark.sql.DataFrame) =
        df.select("url").collect().map(_.getString(0)).toSet
      // two files, so a corrupt one fails the base write's scan task
      // after the plan (and its footer-read schema) is built
      val (v0, _) = t.commitFull(rows(0 until 20000).repartition(2))
      val batch = rows(20000 until 20010)
      val tombs = rows(0 until 6000) // > max(4096, 20000/4): compacts
      val v = v0 + 1
      val seg = Paths.get(dir, "segments", v.toString)
      val base = Paths.get(dir, "segments", s"$v-base")
      val tombDir = Paths.get(dir, "tombstones", v.toString)

      // a write failure inside the compaction branch leaves no dir of v
      val victim = new java.io.File(s"$dir/segments/$v0").listFiles().map(_.toPath)
        .filter(_.getFileName.toString.endsWith(".parquet")).maxBy(_.toString)
      val good = Files.readAllBytes(victim)
      Files.write(victim, Array.fill[Byte](good.length)(7))
      intercept[Exception](t.commitDeltaTo(batch, tombs))
      assert(t.currentVersion == v0, tag)
      Seq(seg, base, tombDir).foreach(p => assert(!Files.exists(p), s"$tag: $p left"))
      Files.write(victim, good)

      val (v1, live) = t.commitDeltaTo(batch, tombs)
      assert(v1 == v && t.tombstonesOf(v1).isEmpty, s"$tag: compacted")
      assert(!Files.exists(tombDir), tag)
      assert(t.segmentsOf(v1).toSet == Set(s"$v-base", v.toString), tag)
      // segment v is exactly the batch, and so is its metric
      assert(t.metric(v1, "segmentRows").contains("10"), tag)
      assert(urls(spark.read.parquet(seg.toString)) == urls(batch), tag)
      assert(t.segmentRows(s"$v-base") == 14000, tag)
      // parent − tombstones + batch
      val want = (6000 until 20010).map(i => s"u$i").toSet
      assert(live == want.size && t.rowsOf(v1) == want.size, tag)
      assert(urls(t.readVersion(v1)) == want, tag)
      // the append log gains segment v, never the base: it reads every row
      // the table was given once, the tombstoned ones included
      assert(t.appendedOf(v1) == Seq(v0.toString, v.toString), tag)
      assert(urls(t.readSegments(Seq(v.toString))) == urls(batch), tag)
      val log = t.readSegments(t.appendedOf(v1))
      assert(log.count() == 20010 && urls(log) == (0 until 20010).map(i => s"u$i").toSet, tag)
      t.drop()
    }
  }

  test("snapshot table: tombstones past the live-row threshold trigger compaction") {
    val dir = TestSpark.tmpDir("snap-compact")
    val t = new SnapshotTable(dir, spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val (v0, _) = t.commitFull(rows(0 until 100))
    // the policy compacts when cumulative tombstones exceed
    // max(4096, prevLiveRows/4) or MaxTombRows; 40 of 100 sits under the
    // 4096 floor → still a delta
    val (v1, _) = t.commitDeltaTo(rows(100 until 110), rows(0 until 40))
    assert(t.segmentsOf(v1).size == 2 && t.tombRowsOf(v1) == 40)
    // cross the floor: 20k-row base, 8k cumulative tombstones over two deltas
    val (w0, _) = t.commitFull(rows(0 until 20000))
    val (w1, _) = t.commitDeltaTo(rows(20000 until 20010), rows(0 until 4000))
    assert(t.tombstonesOf(w1).nonEmpty, "first delta stays a delta")
    val (w2, liveW2) = t.commitDeltaTo(rows(20010 until 20020), rows(4000 until 8000))
    // 8000 cumulative tombstones > max(4096, ~16010/4) → compacted
    assert(t.tombstonesOf(w2).isEmpty, "compaction resets the tombstone list")
    assert(t.tombRowsOf(w2) == 0)
    assert(liveW2 == 20020 - 8000)
    assert(t.readVersion(w2).count() == liveW2)
    t.drop()
  }

  test("rewrite cost is proportional to the claimed fraction, not table size") {
    // the 10^10-scale amortization contract: a claim-sized delta writes
    // O(claim + new) segment rows; compaction fires only once cumulative
    // tombstones cross live/4, so total segment rows written across a claim
    // sequence ≈ new rows + (one live-sized rewrite per live/4 claims) —
    // NOT a rewrite per absolute-cap crossing
    val dir = TestSpark.tmpDir("snap-amortize")
    val t = new SnapshotTable(dir, spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val live = 100000
    var (v, _) = t.commitFull(rows(0 until live))
    val v0 = v
    // 9 rounds of 1000 claims (cumulative 9000 stays under live/4 even as
    // live shrinks with the deletions): all stay deltas
    for (r <- 0 until 9) {
      val (nv, _) = t.commitDeltaTo(
        rows(live + r * 10 until live + (r + 1) * 10),
        rows(r * 1000 until (r + 1) * 1000))
      v = nv
    }
    assert(t.tombstonesOf(v).size == 9, "every round under live/4 is a delta")
    val deltaRowsWritten = (v0 + 1 to v)
      .map(ver => t.metric(ver, "segmentRows").get.toLong).sum
    assert(deltaRowsWritten == 90,
      s"deltas must write only the new rows (got $deltaRowsWritten)")
    // a 14000-claim round pushes cumulative tombstones (23000) past
    // live/4 (91090/4 = 22772) → exactly one compaction, sized ~live
    val (vc, liveAfter) = t.commitDeltaTo(
      rows(live + 90 until live + 100), rows(9000 until 23000))
    assert(t.tombstonesOf(vc).isEmpty, "compaction resets tombstones")
    assert(liveAfter == live + 100 - 23000)
    // the batch stays the delta segment; the survivors form the base
    assert(t.metric(vc, "segmentRows").get.toLong == 10)
    assert(t.segmentRows(s"$vc-base") + 10 == liveAfter)
    assert(t.readVersion(vc).count() == liveAfter)
    t.drop()
  }

  test("merge-on-read uses a shuffled anti-join above the broadcast budget") {
    val dir = TestSpark.tmpDir("snap-shuffled-tomb")
    // tiny injected budget: 100 tombstones must NOT broadcast
    val t = new SnapshotTable(dir, spark, broadcastTombRows = 50L)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val (v0, _) = t.commitFull(rows(0 until 2000))
    val (v1, n1) = t.commitDeltaTo(rows(2000 until 2010), rows(0 until 100))
    assert(n1 == 1910)
    // tiny test inputs auto-broadcast regardless of the hint — disable the
    // size-based planner path so only the explicit hint can broadcast
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = t.readVersion(v1).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"above the budget the tombstone anti-join must not broadcast:\n$plan")
      assert(t.readVersion(v1).count() == 1910)
      // under the budget the explicit broadcast hint is kept
      val t2 = new SnapshotTable(TestSpark.tmpDir("snap-bcast-tomb"), spark)
      val (w0, _) = t2.commitFull(rows(0 until 2000))
      val (w1, _) = t2.commitDeltaTo(rows(2000 until 2010), rows(0 until 100))
      val plan2 = t2.readVersion(w1).queryExecution.executedPlan.toString
      assert(plan2.contains("BroadcastHashJoin"),
        s"under the budget the tombstone anti-join must broadcast:\n$plan2")
      t2.drop()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    t.drop()
  }

  test("expireBefore deletes only storage unreachable from retained snapshots") {
    val dir = TestSpark.tmpDir("snap-expire")
    val t = new SnapshotTable(dir, spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val (w0, _) = t.commitFull(rows(0 until 20000))
    val (w1, _) = t.commitDeltaTo(rows(20000 until 20010), rows(0 until 4000))
    // second delta crosses the tombstone threshold → compaction folds the
    // surviving parent rows into a base segment beside the delta; w0/w1
    // segments become garbage once their snapshots expire
    val (w2, live) = t.commitDeltaTo(rows(20010 until 20020), rows(4000 until 8000))
    assert(t.tombstonesOf(w2).isEmpty)
    val segsBefore = new java.io.File(s"$dir/segments").list().length
    assert(segsBefore == 4)
    // retain only the head: pre-compaction segments + metas go
    val (delSegs, _) = t.expireBefore(w2)
    assert(delSegs == 2, s"expected the 2 pre-compaction segments deleted, got $delSegs")
    assert(new java.io.File(s"$dir/segments").list().length == 2)
    assert(t.read().count() == live, "head snapshot unaffected")
    assert(t.rowsOf(t.currentVersion) == live)
    // extraRetain protects segments a reader still needs (an append log)
    val t2 = new SnapshotTable(TestSpark.tmpDir("snap-expire2"), spark)
    val (x0, _) = t2.commitFull(rows(0 until 100))
    t2.commitFull(rows(100 until 200)) // full rewrite → x0's segment dead
    val (d0, _) = t2.expireBefore(t2.currentVersion, extraRetain = Set(x0.toString))
    assert(d0 == 0, "externally-referenced segment must survive")
    val (d1, _) = t2.expireBefore(t2.currentVersion)
    assert(d1 == 1)
    // a publish a crash lost: the files of the version above the head
    // survive the process, and expiry deletes them
    val head = t2.currentVersion
    val lost = Seq("segments", "tombstones", "snapshots").map(k => Paths.get(t2.root, k, (head + 1).toString))
    val aside = Paths.get(TestSpark.tmpDir("snap-expire-lost"))
    intercept[IllegalStateException](t2.commitDeltaTo(rows(200 until 210), rows(100 until 105),
      beforePublish = () => {
        lost.foreach(d => Files.move(d, aside.resolve(d.getParent.getFileName.toString)))
        throw new IllegalStateException("crash")
      }))
    lost.foreach(d => Files.move(aside.resolve(d.getParent.getFileName.toString), d))
    assert(t2.currentVersion == head && lost.forall(Files.exists(_)))
    assert(t2.expireBefore(head) == (1, 1))
    lost.foreach(p => assert(!Files.exists(p), p))
    assert(new java.io.File(t2.root).list().toSet ==
      Set("manifest.json", "segments", "tombstones", "snapshots"))
    assert(t2.read().count() == 100)
    t.drop(); t2.drop()
  }

  test("append log: narrowed reads, footer counts, bloom over empty segments") {
    val dir = TestSpark.tmpDir("snap-log")
    val t = new SnapshotTable(dir, spark)
    def rows(ids: Range) = ids.map(i => (i.toLong, s"u$i", s"h$i", i, "p"))
      .toDF("urlHash", "url", "host", "depth", "parentUrl") // frontier-shaped
    val (v0, n0) = t.commitFull(rows(0 until 50))
    assert(t.appendedOf(v0) == Seq(v0.toString) && t.segmentRows(v0.toString) == n0)
    def seen(v: Long) = t.readSegments(t.appendedOf(v)).select("urlHash", "url")
    assert(seen(v0).columns.toSeq == Seq("urlHash", "url"), "extra columns pruned")
    val bloom = new IncrementalSeenBloom(t)
    bloom.forVersion(v0, n0)
    // a round that claims 10 pages and adds 0 new URLs: the log keeps the
    // claimed rows and gains an empty segment
    val (v1, live) = t.commitDeltaTo(rows(0 until 0), rows(0 until 10))
    assert(live == 40 && t.appendedOf(v1) == Seq(v0.toString, v1.toString))
    assert(t.segmentRows(v1.toString) == 0 && seen(v1).count() == 50)
    // regression: advancing over an EMPTY segment NPE'd in stat.bloomFilter
    // when emptiness was inferred from the segment NAME
    val b = bloom.forVersion(v1, 50)
    (0 until 50).foreach(i => assert(b.mightContain(i.toLong)))
    // commitFull starts a new log
    val (v2, _) = t.commitFull(rows(50 until 60))
    assert(t.appendedOf(v2) == Seq(v2.toString))
    t.drop()
  }

  test("snapshot table: a meta.json writes runs of versions as one entry; an expanded meta still reads") {
    val t = new SnapshotTable(TestSpark.tmpDir("snap-runs"), spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    def keys(ids: Range) = rows(ids).select("urlHash", "url")
    def meta(v: Long) = Paths.get(t.root, "snapshots", v.toString, "meta.json")
    def names(vs: Range) = vs.map(_.toString)
    // 300 deltas on a 5,000-row seed, each one row in and one row out: no
    // compaction, so every list is a run of versions
    t.commitFull(rows(0 until 5000))
    (1 to 300).foreach(i => t.commitDeltaTo(rows(5000 + i to 5000 + i), keys(i to i)))
    val v = t.currentVersion
    assert(v == 300)
    assert(t.segmentsOf(v) == names(0 to 300) && t.appendedOf(v) == names(0 to 300))
    assert(t.tombstonesOf(v) == names(1 to 300))
    assert(Files.size(meta(v)) < 1024, Files.readString(meta(v)))
    assert(Files.readString(meta(v)).contains("\"appended\": [\"0..300\"]"))
    // a compaction's base segment breaks the run of the live list
    val (c, _) = t.commitDeltaTo(rows(0 until 0), keys(301 until 4500))
    val (d, _) = t.commitDeltaTo(rows(6000 until 6001), keys(4500 until 4501))
    val (e, _) = t.commitDeltaTo(rows(6001 until 6002), keys(4501 until 4502))
    assert(t.segmentsOf(e) == Seq(s"$c-base", c, d, e).map(_.toString))
    assert(t.tombstonesOf(e) == Seq(d, e).map(_.toString) && t.appendedOf(e) == names(0 to e.toInt))
    assert(Files.readString(meta(e)).contains(s"\"segments\": [\"$c-base\",\"$c..$e\"]"))
    val live = t.readVersion(e).collect().toSet
    assert(live.size == t.rowsOf(e) && t.rowsOf(e) == 5000 - 4501 + 302)
    // a meta written before runs, every entry spelled out, reads the same
    def spelled(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val (segs, tombs, log) = (t.segmentsOf(e), t.tombstonesOf(e), t.appendedOf(e))
    Files.writeString(meta(e), Files.readString(meta(e))
      .replaceAll("\"segments\": \\[[^\\]]*\\]", "\"segments\": " + spelled(segs))
      .replaceAll("\"tombstones\": \\[[^\\]]*\\]", "\"tombstones\": " + spelled(tombs))
      .replaceAll("\"appended\": \\[[^\\]]*\\]", "\"appended\": " + spelled(log)))
    assert(Files.readString(meta(e)).contains("\"1\",\"2\",\"3\""))
    assert(t.segmentsOf(e) == segs && t.tombstonesOf(e) == tombs && t.appendedOf(e) == log)
    assert(t.readVersion(e).collect().toSet == live)
    val (f, _) = t.commitDeltaTo(rows(6002 until 6003), keys(4502 until 4503))
    assert(t.appendedOf(f) == names(0 to f.toInt))
    assert(Files.readString(meta(f)).contains(s"\"appended\": [\"0..$f\"]"))
    t.drop()
  }

  test("snapshot table: read schemas come from one footer, with no Spark job before the action") {
    val dir = TestSpark.tmpDir("snap-footer")
    val t = new SnapshotTable(dir, spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong, i % 3)).toDF("url", "urlHash", "depth")
    val (v0, _) = t.commitFull(rows(0 until 50))
    // a later segment with an extra column: Spark's inference reads one
    // file's schema, and the footer read must pick the same one
    val (v1, _) = t.commitAppend(rows(50 until 60).withColumn("x", lit("e")))
    val (v2, _) = t.commitDeltaTo(rows(60 until 70), rows(0 until 5).select("url", "urlHash"))
    val reopened = new SnapshotTable(dir, spark)
    val read = TestSpark.traced(reopened.read())
    assert(read.jobs.isEmpty, read.jobs.flatMap(_.stageInfos.map(_.name)))
    val data = spark.read.parquet(t.segmentsOf(v2).map(s => s"$dir/segments/$s"): _*)
    val tomb = spark.read.parquet(t.tombstonesOf(v2).map(s => s"$dir/tombstones/$s"): _*)
    val plain = data.join(broadcast(tomb), tomb.columns.toSeq, "left_anti")
    assert(read.result.schema == plain.schema)
    assert(read.result.collect().toSet == plain.collect().toSet)
    assert(read.result.count() == 65)
    val seg = TestSpark.traced(reopened.readSegments(Seq(v1.toString)))
    assert(seg.jobs.isEmpty)
    assert(seg.result.schema == spark.read.parquet(s"$dir/segments/$v1").schema)

    // a footer without Spark's row-metadata key: Spark infers, as before.
    // The committed segment's files are replaced by one written outside Spark
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val t2 = new SnapshotTable(TestSpark.tmpDir("snap-footer2"), spark)
    val (x0, _) = t2.commitFull(rows(0 until 5).select("urlHash", "url"))
    val ext = s"${t2.root}/segments/$x0"
    new java.io.File(ext).listFiles().foreach(_.delete())
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 urlHash; required binary url (UTF8); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$ext/part-0.parquet"),
      spark.sessionState.newHadoopConf())).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 5).foreach(i => w.write(g.newGroup().append("urlHash", i.toLong).append("url", s"u$i")))
    finally w.close()
    val inferred = TestSpark.traced(t2.read())
    assert(inferred.jobs.exists(_.stageInfos.exists(_.name.contains("FrontierStore.scala"))),
      "the fallback runs Spark's schema inference")
    assert(inferred.result.schema == spark.read.parquet(ext).schema)
    assert(inferred.result.count() == 5)
    t.drop(); t2.drop()
  }

  test("snapshot table: sequenced deletes replace same-keyed rows (Iceberg sequence rule)") {
    val dir = TestSpark.tmpDir("snap-seq")
    val t = new SnapshotTable(dir, spark, sequenced = true)
    def rows(ids: Seq[Int], tag: String) = ids.map(i => (s"u$i", tag)).toDF("url", "tag")
    val (v0, n0) = t.commitAppend(rows(0 until 10, "old"))
    assert(n0 == 10)
    assert(!t.read().columns.contains("__seq"), "hidden seq column dropped on read")
    // replace u0..u4 in ONE commit: tombstone the urls AND insert new rows
    // for the same urls — the sequence rule keeps the fresh rows
    val (v1, n1) = t.commitDeltaTo(rows(0 until 5, "new"),
      rows(0 until 5, "x").select("url"))
    assert(n1 == 10, "5 deleted + 5 inserted")
    val byTag = t.readVersion(v1).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(byTag.size == 10)
    assert((0 until 5).forall(i => byTag(s"u$i") == "new"),
      "same-keyed NEW rows survive their own tombstone")
    assert((5 until 10).forall(i => byTag(s"u$i") == "old"))
    // J3-shaped merge: a batch whose keys match 0 (u10), 1 (u5) and 2 (u6,
    // appended twice) live rows, tombstoned as the parent's keys semi-joined
    // with the batch — one tombstone row per replaced row
    val (v2, _) = t.commitAppend(rows(6 until 7, "dup"))
    assert(t.rowsOf(v2) == 11)
    val batch = rows(Seq(5, 6, 10), "merge")
    val replaced = t.readVersion(v2).select("url")
      .join(batch.select("url"), Seq("url"), "left_semi")
    val (v3, n3) = t.commitDeltaTo(batch, replaced)
    assert(t.tombRowsOf(v3) - t.tombRowsOf(v2) == 3, "u5 once, u6 twice")
    assert(n3 == 11 - 3 + 3 && t.rowsOf(v3) == t.readVersion(v3).count())
    val merged = t.readVersion(v3).collect().map(r => (r.getString(0), r.getString(1)))
    assert(merged.count(_._1 == "u6") == 1 && merged.toMap.apply("u6") == "merge")
    assert(merged.toMap.apply("u10") == "merge" && merged.toMap.apply("u5") == "merge")
    // append on top carries sequenced tombstones forward without resurrecting
    val (v4, _) = t.commitAppend(rows(20 until 22, "app"))
    val tags = t.readVersion(v4).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(tags("u0") == "new" && tags("u20") == "app" && tags.size == 13)
    assert(t.rowsOf(v4) == t.readVersion(v4).count())
    t.drop()
  }

  test("incremental seen bloom: advances over new segments only, never false-negative across empty segments and a 4x rebuild") {
    val dir = TestSpark.tmpDir("snap-bloom")
    val t = new SnapshotTable(dir, spark)
    def seenRows(ids: Range) = ids.map { i =>
      val u = s"http://h/$i"; (u, UrlOps.urlHash(u))
    }.toDF("url", "urlHash")
    val (v0, _) = t.commitAppend(seenRows(0 until 500))
    val bloom0 = new IncrementalSeenBloom(t)
    val f0 = bloom0.forVersion(v0, 500)
    assert((0 until 500).forall(i => f0.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // append a segment; advance must cover the new urls (merge, not rebuild)
    val (v1, _) = t.commitAppend(seenRows(500 until 600))
    val f1 = bloom0.forVersion(v1, 600)
    assert((0 until 600).forall(i => f1.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // a FRESH instance (a resumed crawl) rebuilds from the log: same
    // coverage guarantee
    val bloom1 = new IncrementalSeenBloom(t)
    val f2 = bloom1.forVersion(v1, 600)
    assert((0 until 600).forall(i => f2.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // a round can add ZERO new urls — advancing over the empty segment must
    // not crash (stat.bloomFilter NPEs on empty input) nor lose coverage
    val (vEmpty, _) = t.commitAppend(seenRows(0 until 0))
    val fEmpty = bloom1.forVersion(vEmpty, 600)
    assert((0 until 600).forall(i => fEmpty.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // growth past the capacity (max(4×rows, 2^16) at build time) rebuilds —
    // coverage must hold through the rebuild too
    val (v2, _) = t.commitAppend(seenRows(600 until 70000))
    val f3 = bloom1.forVersion(v2, 70000)
    assert((0 until 70000 by 7).forall(i => f3.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    t.drop()
  }

  test("incremental seen bloom: a fresh instance rebuilds once from the whole log, then advances one job per non-empty new segment; nothing but the table is on disk") {
    val dir = TestSpark.tmpDir("snap-bloom-rebuild")
    val t = new SnapshotTable(dir, spark)
    def seenRows(ids: Range) = ids.map { i =>
      val u = s"http://h/$i"; (u, UrlOps.urlHash(u))
    }.toDF("url", "urlHash")
    def covers(f: org.apache.spark.util.sketch.BloomFilter, n: Int) =
      (0 until n).forall(i => f.mightContainLong(UrlOps.urlHash(s"http://h/$i")))
    t.commitFull(seenRows(0 until 50))
    val (v1, _) = t.commitAppend(seenRows(50 until 60))
    val bloom = new IncrementalSeenBloom(t)
    val built = TestSpark.traced(bloom.forVersion(v1, 60))
    assert(built.rowsRead == 60, s"read ${built.rowsRead} rows")
    assert(covers(built.result, 60))
    // one empty and one 10-row segment: the advance reads the new rows only
    t.commitAppend(seenRows(0 until 0))
    val (v2, _) = t.commitAppend(seenRows(60 until 70))
    val one = TestSpark.traced(bloom.forVersion(v2, 70))
    val per = built.jobs.size
    assert(one.rowsRead == 10 && one.jobs.size == per,
      s"advance read ${one.rowsRead} rows in ${one.jobs.size} jobs (a build is $per)")
    assert(covers(one.result, 70))
    val again = TestSpark.traced(bloom.forVersion(v2, 70))
    assert(again.jobs.isEmpty, "a covered version ran a job")
    // a second fresh instance rebuilds from the whole log once
    val fresh = TestSpark.traced(new IncrementalSeenBloom(t).forVersion(v2, 70))
    assert(fresh.rowsRead == 70 && covers(fresh.result, 70))
    assert(new java.io.File(dir).list().toSet ==
      Set("manifest.json", "segments", "tombstones", "snapshots"))
    t.drop()
  }

  test("snapshot table: every version reads in its data segments' column order") {
    val t = new SnapshotTable(TestSpark.tmpDir("snap-order"), spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong, s"h${i % 3}")).toDF("url", "urlHash", "host")
    // the tombstone keys come in another order than the data's
    def keys(ids: Range) = rows(ids).select("urlHash", "url")
    val order = Seq("url", "urlHash", "host")
    def check(v: Long, what: String): Unit = {
      val segs = t.segmentsOf(v).map(s => s"${t.root}/segments/$s")
      assert(segs.forall(spark.read.parquet(_).columns.toSeq == order), what)
      assert(t.readVersion(v).columns.toSeq == order, what)
    }
    // Spark-written segments: a repartition keeps them off the driver write
    val (v0, _) = t.commitFull(rows(0 until 5000).repartition(2))
    check(v0, "seed version")
    val (v1, _) = t.commitDeltaTo(rows(5000 until 5010).repartition(1), keys(0 until 10))
    assert(t.tombstonesOf(v1).nonEmpty)
    check(v1, "after a delta")
    // 10 + 4,190 tombstones pass the 4,096 floor: the base is written from
    // readVersion, in the data order
    val (v2, _) = t.commitDeltaTo(rows(5010 until 5020), keys(10 until 4200))
    assert(t.segmentsOf(v2).contains(s"$v2-base") && t.tombstonesOf(v2).isEmpty)
    check(v2, "after a compaction")
    t.drop()
  }

  test("snapshot table: segments and tombstones written from the driver read like Spark-written ones") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    def frontier(ids: Range) = ids.map(i => (s"u$i", i.toLong - 3000L, s"h${i % 5}", i % 4,
      if (i % 3 == 0) null else s"p$i")).toDF("url", "urlHash", "host", "depth", "parentUrl")
    def keys(ids: Range) = frontier(ids).select("urlHash", "url")
    // the docs shape: an array column, a nested struct and the @timestamp
    def docs(ids: Range, tag: String) = ids.map(i => (s"u$i", tag,
      Seq(s"b$i", null), new java.sql.Timestamp(1700000000000L + i)))
      .toDF("url", "title", "body", "@timestamp")
      .withColumn("nav", struct(col("title").as("t"), col("body").as("items")))
    def rowsOf(df: DataFrame) = df.collect().map(r => r.toSeq).toSet
    // the same commits twice: local frames (written from the driver) and
    // the same rows behind a repartition (written by Spark)
    def both(sequenced: Boolean)(commits: (SnapshotTable, DataFrame => DataFrame) => Long): Unit = {
      val d = new SnapshotTable(TestSpark.tmpDir("snap-driver"), spark, sequenced = sequenced)
      val s = new SnapshotTable(TestSpark.tmpDir("snap-spark"), spark, sequenced = sequenced)
      val dw = TestSpark.traced(commits(d, identity))
      assert(dw.jobs.isEmpty, s"the local frames ran Spark jobs: ${dw.jobs.map(dw.actionOf)}")
      val v = commits(s, _.repartition(1))
      assert(dw.result == v)
      (0L to v).foreach { k =>
        val what = s"sequenced=$sequenced v=$k"
        assert(d.segmentsOf(k) == s.segmentsOf(k) && d.tombstonesOf(k) == s.tombstonesOf(k), what)
        assert(d.rowsOf(k) == s.rowsOf(k), what)
        val (dv, sv) = (d.readVersion(k), s.readVersion(k))
        assert(dv.schema == sv.schema && rowsOf(dv) == rowsOf(sv), what)
        assert(rowsOf(d.readSegments(d.appendedOf(k))) == rowsOf(s.readSegments(s.appendedOf(k))), what)
      }
      (d.segmentsOf(v) ++ d.appendedOf(v)).distinct.foreach { seg =>
        val (dd, sd) = (s"${d.root}/segments/$seg", s"${s.root}/segments/$seg")
        assert(d.segmentRows(seg) == s.segmentRows(seg), seg)
        val (dr, sr) = (spark.read.parquet(dd), spark.read.parquet(sd))
        assert(dr.schema == sr.schema && rowsOf(dr) == rowsOf(sr), seg)
        assert(footerSchema(dd) == footerSchema(sd), seg)
        if (!seg.endsWith("-base")) {
          assert(TestSpark.writtenBy(dd) == Seq("driver"), seg)
          assert(TestSpark.writtenBy(sd) == Seq("task"), seg)
        }
      }
      d.tombstonesOf(v).foreach { t =>
        val (dt, st) = (s"${d.root}/tombstones/$t", s"${s.root}/tombstones/$t")
        assert(rowsOf(spark.read.parquet(dt)) == rowsOf(spark.read.parquet(st)), t)
        assert(footerSchema(dt) == footerSchema(st), t)
      }
      d.drop(); s.drop()
    }
    both(sequenced = false) { (t, shape) =>
      val (v0, _) = t.commitFull(shape(frontier(0 until 3000)))
      val (v1, _) = t.commitDeltaTo(shape(frontier(3000 until 3010)), shape(keys(0 until 20)))
      val (v2, _) = t.commitDeltaTo(shape(frontier(0 until 0)), shape(keys(20 until 30)))
      t.commitDeltaTo(shape(frontier(3010 until 3020)), shape(keys(30 until 40)))._1
    }
    both(sequenced = true) { (t, shape) =>
      val (v0, _) = t.commitAppend(shape(docs(0 until 10, "a")))
      // the sequence rule: same-keyed rows replace their tombstoned elders
      val (v1, _) = t.commitDeltaTo(shape(docs(0 until 5, "b")),
        shape(docs(0 until 5, "x").select("url")))
      t.commitAppend(shape(docs(20 until 22, "c")))._1
    }
    // Spark's own writer is the reference: each frame, written by a
    // test-side df.write.parquet (with the `__seq` a sequenced table
    // stamps), has the footer schema, key and codec and the rows of the
    // same frame committed from the driver and by Spark tasks
    Seq(frontier(0 until 3000) -> false, keys(0 until 20) -> false,
        docs(0 until 10, "a") -> true, docs(0 until 5, "x").select("url") -> true).foreach {
      case (df, sequenced) =>
        val ref = TestSpark.tmpDir("snap-spark-ref")
        (if (sequenced) df.withColumn(SnapshotTable.SeqCol, lit(0L)) else df)
          .repartition(1).write.mode("overwrite").parquet(ref)
        Seq[DataFrame => DataFrame](identity, _.repartition(1)).foreach { shape =>
          val t = new SnapshotTable(TestSpark.tmpDir("snap-ref-table"), spark, sequenced = sequenced)
          t.commitAppend(shape(df))
          val seg = s"${t.root}/segments/0"
          assert(footerSchema(seg) == footerSchema(ref), df.columns.mkString(","))
          assert(rowsOf(spark.read.parquet(seg)) == rowsOf(spark.read.parquet(ref)))
          t.drop()
        }
    }
  }

  test("snapshot table: a Spark frame is written by its tasks, one file per partition with rows plus partition 0's, and the commit publishes exactly their files and rows") {
    import java.nio.file.StandardCopyOption.REPLACE_EXISTING
    import org.apache.spark.sql.{DataFrame, Row}
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).sorted(
      Ordering.by((r: Seq[Any]) => r.head.asInstanceOf[Long])).toSeq
    def frame(where: String) = spark.range(0, 80, 1, 8).filter(where)
      .select(col("id"), concat(lit("u"), col("id")).as("url"), (col("id") % 3).cast("int").as("depth"))
    val t = new SnapshotTable(TestSpark.tmpDir("snap-tasks"), spark)
    val v0File = {
      t.commitAppend(frame("id < 4").coalesce(1))
      new java.io.File(s"${t.root}/segments/0").list().filter(_.endsWith(".parquet")).head
    }
    // ids 30-49 fill partitions 3 and 4 of 8 (10 ids each): partition 0 is
    // empty and still writes; none matches the second, and its partition 0
    // writes the one empty file
    Seq("id >= 30 AND id < 50" -> Seq(0, 3, 4), "id < 0" -> Seq(0)).foreach {
      case (where, partitions) =>
        val df = frame(where)
        val (v, rows) = t.commitAppend(df)
        val dir = s"${t.root}/segments/$v"
        val files = new java.io.File(dir).list().toSeq
        val parquet = files.filter(_.endsWith(".parquet")).sorted
        assert(parquet.map(_.take(10)) == partitions.map(p => f"part-$p%05d"), parquet)
        assert(TestSpark.writtenBy(dir).forall(_ == "task"), parquet)
        assert(!files.exists(f => f == "_SUCCESS" || f == "_temporary"), files)
        val meta = new String(Files.readAllBytes(Paths.get(t.root, "snapshots", v.toString, "meta.json")))
        assert(meta.contains(parquet.map(f => "\"" + f + "\"").mkString("\"newFiles\": [", ",", "]")), meta)
        val n = df.count()
        assert(t.metric(v, "segmentRows").contains(n.toString) && t.segmentRows(v.toString) == n)
        assert(rows == t.rowsOf(v - 1) + n)
        // Spark's own writer, on the same frame: the same file per
        // partition, footer and rows
        val ref = TestSpark.tmpDir("snap-tasks-ref")
        df.write.mode("overwrite").parquet(ref)
        assert(new java.io.File(ref).list().filter(_.endsWith(".parquet")).map(_.take(10)).sorted.toSeq ==
          parquet.map(_.take(10)), where)
        assert(footerSchema(dir) == footerSchema(ref), where)
        // and the codec of a file with rows
        def last(d: String) = new java.io.File(d).listFiles().map(_.getPath)
          .filter(_.endsWith(".parquet")).max
        assert(footerOf(last(dir)) == footerOf(last(ref)), where)
        assert(rowsOf(spark.read.parquet(dir)) == rowsOf(spark.read.parquet(ref)), where)
    }
    // a plan with no partition runs no task: the driver writes the empty file
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], frame("id < 0").schema)
    val (vn, _) = t.commitAppend(none)
    assert(TestSpark.writtenBy(s"${t.root}/segments/$vn") == Seq("driver") && t.segmentRows(vn.toString) == 0)
    // a stray file that appears in the segment dir while the tasks write
    // (here copied in, with its checksum, by a UDF) holds four rows more:
    // the commit deletes it, and reads see the writer's rows alone
    val next = t.currentVersion + 1
    val (src, dst) = (s"${t.root}/segments/0", s"${t.root}/segments/$next")
    val stray = "part-00007-task-999999-c000.snappy.parquet"
    val witness = s"${TestSpark.tmpDir("snap-stray")}/copied"
    val copyIn = udf { (id: Long) =>
      if (id == 30L) {
        Seq("", ".").foreach { dot =>
          val crc = if (dot.isEmpty) "" else ".crc"
          Files.copy(Paths.get(src, s"$dot$v0File$crc"), Paths.get(dst, s"$dot$stray$crc"), REPLACE_EXISTING)
        }
        Files.write(Paths.get(witness), Array.emptyByteArray)
      }
      id
    }
    val df = frame("id >= 30 AND id < 50")
    val before = t.rowsOf(t.currentVersion)
    val (v, rows) = t.commitAppend(df.withColumn("id", copyIn(col("id"))))
    assert(v == next && Files.exists(Paths.get(witness)), "the stray was not copied in")
    val left = new java.io.File(dst).list().toSeq
    assert(!left.exists(_.contains("999999")), left)
    assert(rows == before + 20 && t.metric(v, "segmentRows").contains("20"))
    assert(rowsOf(t.readSegments(Seq(v.toString))) == rowsOf(df))
    assert(t.read().count() == rows)
    t.drop()
  }
}
