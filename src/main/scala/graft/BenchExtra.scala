package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.frontier.{Politeness, SeenSet}
import graft.model.UrlOps

/** Optimization-round measurement harness — NOT part of the driver bench
  * contract (`graft.Bench` is frozen). Guide §1.4 noop-sink isolation:
  *
  *   - `stages`: slice the frontierRound pipeline operator by operator
  *     (canonicalize → dedup → seen anti-join → claim → fetch+extract),
  *     timing each prefix with a noop sink so the sink never pollutes the
  *     numbers. Attribution = consecutive differences.
  *   - `query <name>...`: time individual declared queries (same action as
  *     Bench's per-query loop: .count()), best-of-N with one warm rep.
  *   - `probe <name>`: re-run one of the Bench probe engine functions.
  *
  * Usage: runMain graft.BenchExtra stages|query|probe [args...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_BENCH_N, GRAFT_REPS.
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isWritable(shm)) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    val shuffleDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), "graft-shuffle-x").toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.local.dir", shuffleDir)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timeIt(label: String, reps: Int)(f: => Unit): Double = {
    val tc = System.nanoTime(); f // warm (JIT + codegen) — cold time reported too
    val cold = (System.nanoTime() - tc) / 1e9
    val secs = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val best = secs.min
    println(f"[benchextra] $label%-42s cold=$cold%7.2f best=$best%7.2f s  (warm: ${secs.map(x => f"$x%.2f").mkString(", ")})")
    best
  }

  /** The frontierRound pipeline rebuilt stage by stage over the SAME
    * materialized inputs Bench uses (same generation, same dirs).
    */
  private def stages(spark: SparkSession, nCand: Long, hostCount: Int,
      dir: String, reps: Int): Unit = {
    val (candDir, seenDir, corpusDir) =
      Bench.materializeInputs(spark, nCand, hostCount, dir)
    val seen = spark.read.parquet(seenDir)
    val cand = spark.read.parquet(candDir)
    val corpus = spark.read.parquet(corpusDir)
    val sc = spark.sparkContext

    def canon = cand.select(UrlOps.canonicalizeCol(col("child")).as("url"))
      .withColumn("urlHash", UrlOps.urlHashCol(col("url")))
    def dedup = canon
      .groupBy("url", "urlHash").agg(count(lit(1)).as("cnt")).drop("cnt")
      .withColumn("host", UrlOps.hostCol(col("url")))
      .withColumn("depth", lit(1))
      .withColumn("parentUrl", lit("bench"))
    def fresh = SeenSet.filterNew(dedup, seen, nCand / 4, maxBloomItems = 0L)
    def claimed = Politeness.claim(fresh, hostBudget = 500,
      remaining = Long.MaxValue)

    sc.setJobDescription("stage1: scan+canonicalize+hash")
    timeIt("scan+canonicalize+hash", reps)(noop(canon))
    sc.setJobDescription("stage2: +dedup groupBy")
    timeIt("+dedup groupBy", reps)(noop(dedup))
    sc.setJobDescription("stage3: +seen anti-join")
    timeIt("+seen anti-join", reps)(noop(fresh))
    sc.setJobDescription("stage4: +politeness claim")
    timeIt("+politeness claim", reps)(noop(claimed))
    sc.setJobDescription("stage5: full frontierRound")
    timeIt("full frontierRound (fetch+extract)", reps) {
      Bench.frontierRound(spark, nCand, hostCount, dir)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("plans/r06/frontier_antijoin_current.txt"),
      fresh.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("plans/r06/frontier_claim_current.txt"),
      claimed.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("stages")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nCand = sys.env.getOrElse("GRAFT_BENCH_N", "8000000").toLong
    val reps = sys.env.getOrElse("GRAFT_REPS", "2").toInt
    val benchDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench-inputs"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(benchDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r06"))
    val spark = session(cpus)
    mode match {
      case "stages" => stages(spark, nCand, 2000, benchDir, reps)
      case "query" =>
        val names = args.drop(1).toSeq
        names.foreach { n =>
          SparkEntry.queries.get(n) match {
            case None => System.err.println(s"[benchextra] unknown query: $n")
            case Some(fn) =>
              spark.sparkContext.setJobDescription(n)
              timeIt(n, reps)(fn(spark, sfDir).count())
          }
        }
      case "probe" =>
        args.drop(1).foreach {
          case "sess" =>
            val r = Bench.sessSkewProbe(spark, 4000000L, benchDir, reps)
            println(f"[benchextra] sess uni=${r._1}%.2f hotPlain=${r._2}%.2f hotBucketed=${r._3}%.2f")
          case "funnel" =>
            val r = Bench.funnelSkewProbe(spark, 8000000L, benchDir, reps)
            println(f"[benchextra] funnel uni=${r._1}%.2f hotPlain=${r._2}%.2f hotBucketed=${r._3}%.2f")
          case "scroll" =>
            val r = Bench.scrollProbe(spark, 8000000L, reps)
            println(f"[benchextra] scroll scale=${r._1}%.2f naive=${r._2}%.2f")
          case "interval" =>
            val r = Bench.intervalProbe(spark, 4000000L, 40000L, reps)
            println(f"[benchextra] interval scale=${r._1}%.2f naive=${r._2}%.2f")
          case other => System.err.println(s"[benchextra] unknown probe: $other")
        }
      case other => System.err.println(s"[benchextra] unknown mode: $other")
    }
    spark.stop()
  }
}
