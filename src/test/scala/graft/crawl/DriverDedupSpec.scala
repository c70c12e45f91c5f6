package graft.crawl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.frontier.SeenSet

/** The small round's driver-side candidate path — [[CrawlSession.dedupRows]]
  * then a seen-key check — against the Spark path it stands in for:
  * [[CrawlSession.dedup]] (the in-batch dedup of a large round) then
  * [[SeenSet.filterNew]].
  */
class DriverDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("url", StringType), StructField("urlHash", LongType),
    StructField("host", StringType), StructField("depth", IntegerType),
    StructField("parentUrl", StringType)))

  /** (url, urlHash, host, depth, parentUrl) of the rows each path keeps. */
  def both(rows: Seq[Row], seen: Seq[(Long, String)]): (Set[Row], Set[Row]) = {
    val df = spark.createDataFrame(rows.asJava, schema)
    val spark0 = SeenSet.filterNew(CrawlSession.dedup(df), seen.toDF("urlHash", "url"),
      seen.size.toLong).select(schema.fieldNames.map(col): _*).collect()
    val keys = seen.toSet
    val driver = CrawlSession.dedupRows(rows.map(r =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(r.toSeq.toArray, schema)))
      .filterNot(r => keys.contains(CrawlSession.seenKey(r)))
    assert(driver.size == driver.map(CrawlSession.seenKey).toSet.size, "one row per url")
    (driver.map(r => Row(r.toSeq: _*)).toSet, spark0.map(r => Row(r.toSeq: _*)).toSet)
  }

  test("the driver dedup picks the least (depth, parentUrl) as Spark's min(struct) does") {
    // U+FF5E is one UTF-16 unit and sorts after the surrogate pair of
    // U+1F600 in Java's compareTo, but before it by UTF-8 bytes (EF < F0)
    val (tilde, smile) = ("http://p/～", "http://p/😀")
    val rows = Seq(
      Row("http://a/1", -7L, "a", 2, "http://p/a"),
      Row("http://a/1", -7L, "a", 1, smile),
      Row("http://a/1", -7L, "a", 1, tilde),
      Row("http://b/1", Long.MinValue, "b", 1, "http://p/b"),
      Row("http://b/1", Long.MinValue, "b", 1, null),
      Row("http://c/1", 3L, "c", 0, "http://p/c"))
    val (driver, sparkRows) = both(rows, Seq(3L -> "http://c/1"))
    assert(sparkRows == Set(Row("http://a/1", -7L, "a", 1, tilde),
      Row("http://b/1", Long.MinValue, "b", 1, null)))
    assert(driver == sparkRows)
  }

  test("on random batches the driver dedup and seen check keep exactly Spark's rows") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // parents include a null and two whose UTF-16 and UTF-8 orders differ;
    // a case draws from all of them or from the two alone, so a url's least
    // depth often holds just that pair
    val (tilde, smile) = ("http://p/～", "http://p/😀")
    val allParents = Seq(null, "http://p/a", tilde, smile, "http://p/Z", "http://p/é")
    val cases = Gen.listOfN(40, for {
      parents <- Gen.oneOf(allParents, Seq(tilde, smile))
      pool <- Gen.chooseNum(1, 40)
      n <- Gen.chooseNum(0, 150)
      depths <- Gen.chooseNum(1, 4)
      seenPct <- Gen.chooseNum(0, 100)
      seed <- Gen.long
    } yield (parents, pool, n, depths, seenPct, seed))
      .apply(Gen.Parameters.default, Seed(19L)).get
    var (mixedDepths, mixedParents, seenHits, seenMisses) = (0, 0, 0, 0)
    cases.foreach { case (parents, pool, n, depths, seenPct, seed) =>
      val rnd = new scala.util.Random(seed)
      // each url keeps one hash, of either sign, and one host
      val urls = (0 until pool).map(i => (s"http://h${i % 5}/$i", rnd.nextLong(), s"h${i % 5}"))
      val rows = (0 until n).map { _ =>
        val (u, h, host) = urls(rnd.nextInt(pool))
        Row(u, h, host, rnd.nextInt(depths), parents(rnd.nextInt(parents.size)))
      }
      val seen = urls.filter(_ => rnd.nextInt(100) < seenPct).map(u => (u._2, u._1))
      val (driver, sparkRows) = both(rows, seen)
      assert(driver == sparkRows, s"pool=$pool n=$n depths=$depths seen=${seen.size}")
      val byUrl = rows.groupBy(_.getString(0)).values
      mixedDepths += byUrl.count(_.map(_.getInt(3)).distinct.size > 1)
      mixedParents += byUrl.count(g => g.groupBy(_.getInt(3)).values
        .exists(_.map(r => Option(r.getString(4))).distinct.size > 1))
      val batchUrls = rows.map(_.getString(0)).toSet
      seenHits += seen.count(s => batchUrls.contains(s._2))
      seenMisses += (batchUrls -- seen.map(_._2)).size
    }
    assert(mixedDepths > 0 && mixedParents > 0 && seenHits > 0 && seenMisses > 0,
      s"cases cover $mixedDepths $mixedParents $seenHits $seenMisses")
  }
}
