package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: every query runs on sf0.001 and returns rows;
  * every oracle key exists in queries; entry (flagship crawl) yields docs.
  */
class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("oracleSql keys ⊆ queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  // known-empty-by-construction results at tiny scale
  private val mayBeEmpty = Set("q_j1_seen_antijoin", "q_p1_include")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001") {
      val df = fn(spark, dir)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      assert(df.columns.nonEmpty)
    }
  }

  test("tp's split size is Spark's typed parse of maxPartitionBytes") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      assert(SparkEntry.maxSplitBytes(spark) == (128L << 20))
      spark.conf.set(key, "512MB")
      assert(SparkEntry.maxSplitBytes(spark) == (512L << 20))
      spark.conf.set(key, "64m")
      assert(SparkEntry.maxSplitBytes(spark) == (64L << 20))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("tp's input size reads a file: URI through the Hadoop FileSystem") {
    val dir = TestSpark.tmpDir("tp-bytes")
    spark.range(1000).repartition(3).write.mode("overwrite").parquet(dir)
    // the local Hadoop FileSystem hides its `.crc` checksum sidecars
    val onDisk = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try st.filter(f => !f.getFileName.toString.endsWith(".crc"))
        .mapToLong(f => java.nio.file.Files.size(f)).sum
      finally st.close()
    }
    assert(onDisk > 0)
    assert(SparkEntry.inputBytes(spark, dir) == onDisk)
    assert(SparkEntry.inputBytes(spark, new java.io.File(dir).toURI.toString) == onDisk)
  }

  test("scratch dirs are registered for deletion at JVM exit") {
    val d = java.nio.file.Paths.get(SparkEntry.scratchDir("graft-spec"))
    assert(java.nio.file.Files.isDirectory(d))
    assert(SparkEntry.scratchDirs.contains(d))
  }

  test("entry returns extracted crawl docs") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.contains("title"))
  }
}
