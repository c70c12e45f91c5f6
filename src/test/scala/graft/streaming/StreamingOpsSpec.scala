package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.SyntheticCorpus
import graft.model._
import graft.model.Extraction._

/** Streaming forms equal their batch twins on identical input, and keyed
  * state survives across micro-batches (maxFilesPerTrigger=1 forces multiple
  * batches per run).
  */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val cfg = CrawlConfig(sessionId = "stream", seeds = Seq(),
    rules = Seq(ScrapingRule(".*/page/.*", properties = Seq(
      PropertyRule("title", SpanText("title"), trimSpaces = true),
      PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true)))))

  private def runAvailableNow(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append", maxFilesPerTrigger: Option[Int] = None): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", TestSpark.tmpDir(s"ck-$name"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
  }

  test("streaming extraction equals the batch pipeline on the same pages") {
    val pagesDir = TestSpark.tmpDir("stream-pages")
    val corpus = SyntheticCorpus.Builder(n = 80, hostCount = 8).corpus(spark).toDF()
    corpus.write.mode("overwrite").parquet(pagesDir)

    runAvailableNow(
      StreamingOps.extractStream(spark, pagesDir, cfg).drop("children"), "sx")
    val streamed = spark.table("sx")
      .select("url", "title").collect().map(r => (r.getString(0), r.getString(1))).toSet

    val batch = graft.extract.Extractor
      .extract(StreamingOps.fetchShape(spark.read.parquet(pagesDir)), cfg)
      .select("url", "title").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("stateful dedup holds across micro-batches (continuous J1)") {
    val dir = TestSpark.tmpDir("stream-dedup")
    // two files = two micro-batches under maxFilesPerTrigger=1; the second
    // repeats urls from the first
    Seq(("http://a/1", 1L), ("http://a/2", 2L)).toDF("url", "urlHash")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq(("http://a/2", 2L), ("http://a/3", 3L)).toDF("url", "urlHash")
      .coalesce(1).write.parquet(s"$dir/f2")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("url", org.apache.spark.sql.types.StringType)
      .add("urlHash", org.apache.spark.sql.types.LongType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
    runAvailableNow(StreamingOps.dedupStream(stream), "sdedup")
    val urls = spark.table("sdedup").select("url").collect().map(_.getString(0))
    assert(urls.sorted.toSeq == Seq("http://a/1", "http://a/2", "http://a/3"))
  }

  test("watermarked windowed host metrics (event-time aggregation)") {
    val dir = TestSpark.tmpDir("stream-win")
    val base = 1700000000000L
    def events(r: Range) = r.map(i => (new Timestamp(base + i * 1000L), s"h${i % 2}"))
    // two micro-batches: append-mode windows flush only when a LATER batch
    // advances the watermark past their end
    events(0 until 20).toDF("ts", "host").coalesce(1).write.parquet(s"$dir/f1")
    events(20 until 40).toDF("ts", "host").coalesce(1).write.parquet(s"$dir/f2")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("ts", org.apache.spark.sql.types.TimestampType)
      .add("host", org.apache.spark.sql.types.StringType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
    runAvailableNow(StreamingOps.hostWindowCounts(stream, watermarkDelay = "5 seconds"), "swin")
    val rows = spark.table("swin").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    // after batch 2 the watermark sits at t=34s: windows [0,10) [10,20)
    // [20,30) have flushed for both hosts; [30,40) is held back — exactly
    // the watermark semantics the metric relies on
    val expected = (for (w <- 0 until 3; h <- 0 until 2)
      yield (base + w * 10000L, s"h$h", 5L)).toSet
    assert(rows.toSet == expected, rows.mkString(", "))
  }

  test("streaming sessionize equals the batch operator on the same closed input") {
    val dir = TestSpark.tmpDir("stream-sess")
    val base = 1700000000000000L // µs
    def ev(user: Long, us: Long) = {
      val t = new Timestamp(us / 1000); t.setNanos(((us % 1000000) * 1000).toInt)
      (user, t)
    }
    // two data files = two micro-batches; sessions straddle the batch
    // boundary (user 0's session has events in both files)
    val f1 = (0L until 40L).map(i => ev(i % 4, base + i * 60000000L))
    val f2 = (40L until 80L).map(i => ev(i % 4, base + i * 60000000L))
    f1.toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/f1")
    f2.toDF("user_id", "ts").coalesce(1).write.parquet(s"$dir/f2")
    // a far-future sentinel in its own LAST batch advances the watermark
    // past every real session so append mode flushes them all
    Seq(ev(-1L, base + 365L * 86400000000L)).toDF("user_id", "ts")
      .coalesce(1).write.parquet(s"$dir/f3")
    // FileStreamSource orders micro-batches by file mtime; on a coarse-
    // granularity FS all three writes can land in the same ms, which could
    // process the sentinel FIRST and drop every real event as late — pin
    // the intended order explicitly
    for ((f, i) <- Seq("f1", "f2", "f3").zipWithIndex;
         p <- java.nio.file.Files.list(java.nio.file.Paths.get(dir, f))
           .iterator().asScala if p.toString.endsWith(".parquet"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + i * 60000L))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("ts", org.apache.spark.sql.types.TimestampType)
      .add("user_id", org.apache.spark.sql.types.LongType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
    runAvailableNow(
      StreamingOps.sessionizeStream(stream, gapSeconds = 300L), "ssess")
    val streamed = spark.table("ssess").filter(col("user_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.ops.EventOps.sessionize(
      (f1 ++ f2).toDF("user_id", "ts"), gapSeconds = 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && batch.nonEmpty, s"stream=$streamed batch=$batch")
    // the boundary-straddling sessions really did merge across batches:
    // each user's events are 4 min apart (< 5 min gap) → ONE session each
    assert(batch.size == 4)
  }

  test("streaming hopping windows equal the batch operator on the same closed input") {
    val dir = TestSpark.tmpDir("stream-hop")
    val base = 1700000000000000L // µs
    def ev(us: Long, et: String, v: Double) = {
      val t = new Timestamp(us / 1000); t.setNanos(((us % 1000000) * 1000).toInt)
      (t, et, v)
    }
    def mk(i: Long) = ev(base + i * 60000000L,
      if (i % 2 == 0) "click" else "view", i * 0.25)
    val f1 = (0L until 30L).map(mk)
    val f2 = (30L until 60L).map(mk) // windows straddle the batch boundary
    f1.toDF("ts", "event_type", "value").coalesce(1).write.parquet(s"$dir/f1")
    f2.toDF("ts", "event_type", "value").coalesce(1).write.parquet(s"$dir/f2")
    Seq(ev(base + 365L * 86400000000L, "zz", 0.0)) // watermark sentinel
      .toDF("ts", "event_type", "value").coalesce(1).write.parquet(s"$dir/f3")
    for ((f, i) <- Seq("f1", "f2", "f3").zipWithIndex;
         p <- java.nio.file.Files.list(java.nio.file.Paths.get(dir, f))
           .iterator().asScala if p.toString.endsWith(".parquet"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + i * 60000L))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("ts", org.apache.spark.sql.types.TimestampType)
      .add("event_type", org.apache.spark.sql.types.StringType)
      .add("value", org.apache.spark.sql.types.DoubleType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
    runAvailableNow(StreamingOps.hoppingWindowStream(stream,
      windowSeconds = 600L, slideSeconds = 200L), "shop")
    val streamed = spark.table("shop").filter(col("event_type") =!= "zz")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.ops.EventOps.hoppingWindowCounts(
      (f1 ++ f2).toDF("ts", "event_type", "value"),
      windowSeconds = 600L, slideSeconds = 200L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch && batch.nonEmpty, s"stream=$streamed batch=$batch")
  }

  test("streaming percolation emits alerts in append mode, equal to batch") {
    val dir = TestSpark.tmpDir("stream-perc")
    val stored = Seq("alert_ab" -> Seq("alpha", "beta"), "alert_g" -> Seq("gamma"))
    Seq((1L, "alpha beta other"), (2L, "alpha only")).toDF("doc_id", "text")
      .write.parquet(s"$dir/f1")
    Seq((3L, "gamma ray"), (4L, "beta alpha swapped")).toDF("doc_id", "text")
      .write.parquet(s"$dir/f2")
    val schema = spark.read.parquet(s"$dir/f1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*")
    runAvailableNow(StreamingOps.percolateStream(stream, stored), "perc")
    val streamed = spark.table("perc")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.ops.SearchOps.percolate(
        spark.read.parquet(s"$dir/f1", s"$dir/f2"), stored)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, "alert_ab"), (3L, "alert_g"), (4L, "alert_ab")))
  }

  test("politeness gate caps per-host admissions across micro-batches (W2 streaming)") {
    val dir = TestSpark.tmpDir("stream-gate")
    def entries(ids: Range, host: String) = ids.map { i =>
      val u = s"http://$host/page/$i"
      FrontierEntry(u, UrlOps.urlHash(u), host, 1, "p")
    }
    // batch 1: 3 urls for h0; batch 2: 3 more for h0 + 2 for h1
    entries(0 until 3, "h0").toDF().coalesce(1).write.parquet(s"$dir/f1")
    (entries(10 until 13, "h0") ++ entries(0 until 2, "h1")).toDF()
      .coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[FrontierEntry].schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
      .as[FrontierEntry]
    runAvailableNow(StreamingOps.politenessGate(stream, hostBudget = 4).toDF(),
      "sgate")
    val byHost = spark.table("sgate").collect()
      .map(_.getString(2)).groupBy(identity).view.mapValues(_.length).toMap
    assert(byHost("h0") == 4, s"h0 admissions: $byHost") // 3 in batch 1 + 1 in batch 2
    assert(byHost("h1") == 2)
  }
  test("streaming interval join equals the batch operator on the same closed input") {
    val dir = TestSpark.tmpDir("stream-ival")
    val base = 1700000000000000L // µs
    def ev(id: Long, us: Long) = {
      val t = new Timestamp(us / 1000); t.setNanos(((us % 1000000) * 1000).toInt)
      (id, t)
    }
    // left errors every 90 s, right purchases every 70 s — matches occur
    // whenever a purchase lands within [error, error + 120 s]
    val lRows = (0L until 30L).map(i => ev(i, base + i * 90000000L))
    val rRows = (0L until 40L).map(i => ev(100L + i, base + i * 70000000L))
    lRows.toDF("l_id", "ts").coalesce(1).write.parquet(s"$dir/l")
    rRows.toDF("r_id", "ts").coalesce(1).write.parquet(s"$dir/r")
    val lSchema = new org.apache.spark.sql.types.StructType()
      .add("l_id", org.apache.spark.sql.types.LongType)
      .add("ts", org.apache.spark.sql.types.TimestampType)
    val rSchema = new org.apache.spark.sql.types.StructType()
      .add("r_id", org.apache.spark.sql.types.LongType)
      .add("ts", org.apache.spark.sql.types.TimestampType)
    val lStream = spark.readStream.schema(lSchema).parquet(s"$dir/l")
    val rStream = spark.readStream.schema(rSchema).parquet(s"$dir/r")
    runAvailableNow(
      StreamingOps.intervalJoinStream(lStream, rStream, windowSeconds = 120L),
      "sival")
    val streamed = spark.table("sival")
      .select("l_id", "r_id", "delta_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.EventOps.intervalJoin(
      lRows.toDF("l_id", "ts"), rRows.toDF("r_id", "ts"), windowSeconds = 120L)
      .select("l_id", "r_id", "delta_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty,
      s"stream=${streamed.size} batch=${batch.size}")
  }

  test("streaming as-of join equals the batch bucketed operator on the same closed input") {
    val dir = TestSpark.tmpDir("stream-asof")
    val base = 1700000000000000L // µs
    def ev(id: Long, k: Long, us: Long) = {
      val t = new Timestamp(us / 1000); t.setNanos(((us % 1000000) * 1000).toInt)
      (id, k, t)
    }
    // 2 keys; left events every 90 s, right every 70 s (same-key rights
    // 140 s apart), horizon 100 s — left lags cycle {0,20,...,120} s, so
    // most lefts match and the lag-120 ones drop (inner semantics bind)
    val lRows = (0L until 30L).map(i => ev(i, i % 2, base + i * 90000000L))
    val rRows = (0L until 40L).map(i => ev(100L + i, i % 2, base + i * 70000000L))
    // watermark sentinels on BOTH sides (join watermark = min of the two;
    // the final lefts' groups only emit once the combined watermark passes)
    val lSent = Seq(ev(9000L, 9L, base + 365L * 86400000000L))
    val rSent = Seq(ev(9100L, 9L, base + 365L * 86400000000L))
    lRows.toDF("l_id", "k", "ts").coalesce(1).write.parquet(s"$dir/l/f1")
    lSent.toDF("l_id", "k", "ts").coalesce(1).write.parquet(s"$dir/l/f2")
    rRows.toDF("r_id", "k", "ts").coalesce(1).write.parquet(s"$dir/r/f1")
    rSent.toDF("r_id", "k", "ts").coalesce(1).write.parquet(s"$dir/r/f2")
    for (side <- Seq("l", "r"); (f, i) <- Seq("f1", "f2").zipWithIndex;
         p <- java.nio.file.Files.list(java.nio.file.Paths.get(dir, side, f))
           .iterator().asScala if p.toString.endsWith(".parquet"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + i * 60000L))
    def schemaOf(idName: String) = new org.apache.spark.sql.types.StructType()
      .add(idName, org.apache.spark.sql.types.LongType)
      .add("k", org.apache.spark.sql.types.LongType)
      .add("ts", org.apache.spark.sql.types.TimestampType)
    val lStream = spark.readStream.schema(schemaOf("l_id"))
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/l/f*")
    val rStream = spark.readStream.schema(schemaOf("r_id"))
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/r/f*")
    runAvailableNow(StreamingOps.asOfJoinStream(
      lStream, rStream, Seq("k"), horizonSeconds = 100L), "sasof")
    val streamed = spark.table("sasof").filter(col("l_id") < 1000L)
      .select("l_id", "r_id", "lag_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.EventOps.asOfJoinBucketed(
      (lRows ++ lSent).toDF("l_id", "k", "ts"),
      (rRows ++ rSent).toDF("r_id", "k", "ts"),
      Seq("k"), horizonSeconds = 100L)
      .filter(col("l_id") < 1000L)
      .select("l_id", "r_id", "lag_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty,
      s"stream=${streamed.size} batch=${batch.size}")
    // inner semantics really bind: some lefts have no in-horizon match
    assert(batch.size < lRows.size)
  }

  test("bounded streaming dedup: in-horizon dups drop, post-horizon re-admits") {
    val dir = TestSpark.tmpDir("stream-bdedup")
    val base = 1700000000000000L // µs
    def row(url: String, us: Long) = {
      val t = new Timestamp(us / 1000); t.setNanos(((us % 1000000) * 1000).toInt)
      (url, graft.model.UrlOps.urlHash(url), t)
    }
    val a = "http://h0.example.com/page/1"
    val b = "http://h0.example.com/page/2"
    // f1: first sightings; f2: in-horizon duplicate of A (dropped) plus a
    // sentinel that advances the watermark past A's state TTL; f3: A again
    // AFTER its state expired -> re-admitted
    Seq(row(a, base), row(b, base)).toDF("url", "urlHash", "lastModified")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq(row(a, base + 10000000L), row("http://h9.example.com/sentinel", base + 600000000L))
      .toDF("url", "urlHash", "lastModified")
      .coalesce(1).write.parquet(s"$dir/f2")
    // f3 is a second sentinel batch: the state cleanup that uses the
    // ADVANCED watermark runs at the end of this batch (eviction lags the
    // watermark by one micro-batch), so A's key is gone when f4 arrives
    Seq(row("http://h9.example.com/sentinel2", base + 601000000L))
      .toDF("url", "urlHash", "lastModified")
      .coalesce(1).write.parquet(s"$dir/f3")
    Seq(row(a, base + 700000000L)).toDF("url", "urlHash", "lastModified")
      .coalesce(1).write.parquet(s"$dir/f4")
    for ((f, i) <- Seq("f1", "f2", "f3", "f4").zipWithIndex;
         p <- java.nio.file.Files.list(java.nio.file.Paths.get(dir, f))
           .iterator().asScala if p.toString.endsWith(".parquet"))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + i * 60000L))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("url", org.apache.spark.sql.types.StringType)
      .add("urlHash", org.apache.spark.sql.types.LongType)
      .add("lastModified", org.apache.spark.sql.types.TimestampType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*")
    runAvailableNow(
      StreamingOps.dedupStreamBounded(stream, horizon = "60 seconds"),
      "sbdedup")
    val byUrl = spark.table("sbdedup").collect()
      .map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(byUrl(a) == 2, s"A should re-admit after the horizon: $byUrl")
    assert(byUrl(b) == 1)
  }
}
