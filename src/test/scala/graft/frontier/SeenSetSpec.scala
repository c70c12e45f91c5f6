package graft.frontier

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
    val claimed = Politeness.claim(frontier, hostBudget = 4, remaining = 12, saltBuckets = 4)
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
    val (v1, n1) = t.commitDeltaTo(rows(100 until 110), rows(0 until 5), v0)
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
    val (v2, n2) = t.commitAppendTo(rows(110 until 115), v1)
    assert(n2 == 110)
    assert(!t.readVersion(v2).select("url").collect().map(_.getString(0)).toSet.contains("u3"))
    t.drop()
  }

  test("snapshot table: a failed delta commit leaves no snapshot dirs; a retry commits") {
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val broken = rows(100 until 110)
      .withColumn("url", raise_error(lit("boom")).cast("string"))
    // with the hint the tombstone and segment writes overlap; without it
    // they run one after the other
    Seq(5L, -1L).foreach { hint =>
      val dir = TestSpark.tmpDir("snap-fail")
      val t = new SnapshotTable(dir, spark)
      val (v0, _) = t.commitFull(rows(0 until 100))
      intercept[Exception](t.commitDeltaTo(broken, rows(0 until 5), v0,
        tombstoneRowsHint = hint))
      assert(t.currentVersion == v0, s"hint $hint")
      Seq("segments", "tombstones").foreach { kind =>
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, kind, (v0 + 1).toString)), s"hint $hint: $kind")
      }
      val (v1, n1) = t.commitDeltaTo(rows(100 until 110), rows(0 until 5), v0,
        tombstoneRowsHint = hint)
      assert(v1 == v0 + 1 && n1 == 105, s"hint $hint")
      assert(t.readVersion(v1).select("url").collect().map(_.getString(0)).toSet ==
        (5 until 110).map(i => s"u$i").toSet, s"hint $hint")
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
    val (v1, _) = t.commitDeltaTo(rows(100 until 110), rows(0 until 40), v0)
    assert(t.segmentsOf(v1).size == 2 && t.tombRowsOf(v1) == 40)
    // cross the floor: 20k-row base, 8k cumulative tombstones over two deltas
    val (w0, _) = t.commitFull(rows(0 until 20000))
    val (w1, _) = t.commitDeltaTo(rows(20000 until 20010), rows(0 until 4000), w0)
    assert(t.tombstonesOf(w1).nonEmpty, "first delta stays a delta")
    val (w2, liveW2) = t.commitDeltaTo(rows(20010 until 20020), rows(4000 until 8000), w1)
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
        rows(r * 1000 until (r + 1) * 1000), v)
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
      rows(live + 90 until live + 100), rows(9000 until 23000), v)
    assert(t.tombstonesOf(vc).isEmpty, "compaction resets tombstones")
    assert(liveAfter == live + 100 - 23000)
    assert(t.metric(vc, "segmentRows").get.toLong == liveAfter)
    assert(t.readVersion(vc).count() == liveAfter)
    t.drop()
  }

  test("merge-on-read uses a shuffled anti-join above the broadcast budget") {
    val dir = TestSpark.tmpDir("snap-shuffled-tomb")
    // tiny injected budget: 100 tombstones must NOT broadcast
    val t = new SnapshotTable(dir, spark, broadcastTombRows = 50L)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong)).toDF("url", "urlHash")
    val (v0, _) = t.commitFull(rows(0 until 2000))
    val (v1, n1) = t.commitDeltaTo(rows(2000 until 2010), rows(0 until 100), v0)
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
      val (w1, _) = t2.commitDeltaTo(rows(2000 until 2010), rows(0 until 100), w0)
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
    val (w1, _) = t.commitDeltaTo(rows(20000 until 20010), rows(0 until 4000), w0)
    // second delta crosses the tombstone threshold → compaction folds the
    // live rows into ONE new segment; w0/w1 segments become garbage once
    // their snapshots expire
    val (w2, live) = t.commitDeltaTo(rows(20010 until 20020), rows(4000 until 8000), w1)
    assert(t.tombstonesOf(w2).isEmpty)
    val segsBefore = new java.io.File(s"$dir/segments").list().length
    assert(segsBefore == 3)
    // retain only the head: pre-compaction segments + metas go
    val (delSegs, _) = t.expireBefore(w2)
    assert(delSegs == 2, s"expected the 2 pre-compaction segments deleted, got $delSegs")
    assert(new java.io.File(s"$dir/segments").list().length == 1)
    assert(t.read().count() == live, "head snapshot unaffected")
    assert(t.rowsOf(t.currentVersion) == live)
    // extraRetain protects segments another table references
    val t2 = new SnapshotTable(TestSpark.tmpDir("snap-expire2"), spark)
    val (x0, _) = t2.commitFull(rows(0 until 100))
    t2.commitFull(rows(100 until 200)) // full rewrite → x0's segment dead
    val (d0, _) = t2.expireBefore(t2.currentVersion,
      extraRetain = Set(s"${t2.root}/segments/$x0"))
    assert(d0 == 0, "externally-referenced segment must survive")
    val (d1, _) = t2.expireBefore(t2.currentVersion)
    assert(d1 == 1)
    t.drop(); t2.drop()
  }

  test("shared-ref segments: narrowed reads, footer counts, bloom over empty refs") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.tmpDir("snap-ref")
    val ext = TestSpark.tmpDir("snap-ref-ext")
    // the referencing table narrows to its own columns (seen-table shape)
    val t = new SnapshotTable(dir, spark).withReadSchema(StructType(Seq(
      StructField("urlHash", LongType), StructField("url", StringType))))
    def rows(ids: Range) = ids.map(i => (i.toLong, s"u$i", s"h$i", i, "p"))
      .toDF("urlHash", "url", "host", "depth", "parentUrl")
    rows(0 until 50).write.parquet(s"$ext/a") // frontier-shaped, 5 cols
    rows(0 until 0).write.parquet(s"$ext/b")  // a round that adds 0 new URLs
    val (v0, n0) = t.commitAppendRef(s"$ext/a", -1L)
    assert(n0 == 50, "footer count of the referenced files")
    assert(t.read().columns.toSeq == Seq("urlHash", "url"), "extra columns pruned")
    assert(t.read().count() == 50)
    val bloom = new IncrementalSeenBloom(t)
    bloom.forVersion(v0, n0)
    val (v1, n1) = t.commitAppendRef(s"$ext/b", v0)
    assert(n1 == 50)
    // regression: advancing over the EMPTY referenced segment NPE'd in
    // stat.bloomFilter when emptiness was inferred from the segment NAME
    val b = bloom.forVersion(v1, n1)
    (0 until 50).foreach(i => assert(b.mightContain(i.toLong)))
    t.drop()
  }

  test("snapshot table: read schemas come from one footer, with no Spark job before the action") {
    val dir = TestSpark.tmpDir("snap-footer")
    val t = new SnapshotTable(dir, spark)
    def rows(ids: Range) = ids.map(i => (s"u$i", i.toLong, i % 3)).toDF("url", "urlHash", "depth")
    val (v0, _) = t.commitFull(rows(0 until 50))
    // a later segment with an extra column: Spark's inference reads one
    // file's schema, and the footer read must pick the same one
    val (v1, _) = t.commitAppendTo(rows(50 until 60).withColumn("x", lit("e")), v0)
    val (v2, _) = t.commitDeltaTo(rows(60 until 70), rows(0 until 5).select("url", "urlHash"), v1)
    val reopened = new SnapshotTable(dir, spark)
    val read = TestSpark.traced(reopened.read())
    assert(read.jobs.isEmpty, read.jobs.flatMap(_.stageInfos.map(_.name)))
    val data = spark.read.parquet(t.segmentsOf(v2).map(s => s"$dir/segments/$s"): _*)
    val tomb = spark.read.parquet(t.tombstonesOf(v2).map(s => s"$dir/tombstones/$s"): _*)
    val plain = data.join(broadcast(tomb), tomb.columns.toSeq, "left_anti")
    assert(read.result.schema == plain.schema)
    assert(read.result.collect().toSet == plain.collect().toSet)
    assert(read.result.count() == 65)
    val seg = TestSpark.traced(reopened.readSegment(v1.toString))
    assert(seg.jobs.isEmpty)
    assert(seg.result.schema == spark.read.parquet(s"$dir/segments/$v1").schema)

    // a footer without Spark's row-metadata key: Spark infers, as before
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val ext = TestSpark.tmpDir("snap-footer-ext")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 urlHash; required binary url (UTF8); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$ext/part-0.parquet"),
      spark.sessionState.newHadoopConf())).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 5).foreach(i => w.write(g.newGroup().append("urlHash", i.toLong).append("url", s"u$i")))
    finally w.close()
    val t2 = new SnapshotTable(TestSpark.tmpDir("snap-footer2"), spark)
    t2.commitAppendRef(ext, -1L)
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
    def rows(ids: Range, tag: String) = ids.map(i => (s"u$i", tag)).toDF("url", "tag")
    val (v0, n0) = t.commitAppend(rows(0 until 10, "old"))
    assert(n0 == 10)
    assert(!t.read().columns.contains("__seq"), "hidden seq column dropped on read")
    // replace u0..u4 in ONE commit: tombstone the urls AND insert new rows
    // for the same urls — the sequence rule keeps the fresh rows
    val (v1, n1) = t.commitDeltaTo(rows(0 until 5, "new"),
      rows(0 until 5, "x").select("url"), v0, deletedRows = 5)
    assert(n1 == 10, "5 deleted + 5 inserted")
    val byTag = t.readVersion(v1).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(byTag.size == 10)
    assert((0 until 5).forall(i => byTag(s"u$i") == "new"),
      "same-keyed NEW rows survive their own tombstone")
    assert((5 until 10).forall(i => byTag(s"u$i") == "old"))
    // unmatched tombstone keys: live accounting via explicit deletedRows
    val (v2, n2) = t.commitDeltaTo(rows(10 until 12, "new"),
      Seq("u99").toDF("url"), v1, deletedRows = 0)
    assert(n2 == 12 && t.readVersion(v2).count() == 12)
    // append on top carries sequenced tombstones forward without resurrecting
    val (v3, _) = t.commitAppendTo(rows(20 until 22, "app"), v2)
    val tags = t.readVersion(v3).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(tags("u0") == "new" && tags("u20") == "app" && tags.size == 14)
    t.drop()
  }

  test("incremental seen bloom: advances over new segments only, reloads from sidecar, never false-negative") {
    val dir = TestSpark.tmpDir("snap-bloom")
    val t = new SnapshotTable(dir, spark)
    def seenRows(ids: Range) = ids.map { i =>
      val u = s"http://h/$i"; (u, UrlOps.urlHash(u))
    }.toDF("url", "urlHash")
    val (v0, _) = t.commitAppendTo(seenRows(0 until 500), -1L)
    val bloom0 = new IncrementalSeenBloom(t)
    val f0 = bloom0.forVersion(v0, 500)
    assert((0 until 500).forall(i => f0.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // append a segment; advance must cover the new urls (merge, not rebuild)
    val (v1, _) = t.commitAppendTo(seenRows(500 until 600), v0)
    val f1 = bloom0.forVersion(v1, 600)
    assert((0 until 600).forall(i => f1.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // a FRESH instance reloads the persisted sidecar instead of rescanning:
    // same coverage guarantee
    val bloom1 = new IncrementalSeenBloom(t)
    val f2 = bloom1.forVersion(v1, 600)
    assert((0 until 600).forall(i => f2.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // a round can add ZERO new urls — advancing over the empty segment must
    // not crash (stat.bloomFilter NPEs on empty input) nor lose coverage
    val (vEmpty, _) = t.commitAppendTo(seenRows(0 until 0), v1)
    val fEmpty = bloom1.forVersion(vEmpty, 600)
    assert((0 until 600).forall(i => fEmpty.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    // growth past the capacity (max(4×rows, 2^16) at build time) rebuilds —
    // coverage must hold through the rebuild too
    val (v2, _) = t.commitAppendTo(seenRows(600 until 70000), vEmpty)
    val f3 = bloom1.forVersion(v2, 70000)
    assert((0 until 70000 by 7).forall(i => f3.mightContainLong(UrlOps.urlHash(s"http://h/$i"))))
    t.drop()
  }
}
