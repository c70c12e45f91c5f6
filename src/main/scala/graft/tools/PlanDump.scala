package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dump `.explain("formatted")` of the EXECUTED plan for named declared
  * queries to files — evidence harness for the optimization rounds
  * (plans/<tag>/<query>.txt). Not part of the bench contract: each query
  * runs once, so the dump is AQE's final plan (`isFinalPlan=true`, with
  * its `ReusedExchange` nodes), not the initial one.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <query...>
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/tmp")
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = executedPlan(df)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"$n.txt"), plan)
            println(s"[plandump] wrote $outDir/$n.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $n failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }

  /** formatted explain after running `df` (result rows discarded), so the
    * adaptive plan printed is the final one.
    */
  private[graft] def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  }
}
