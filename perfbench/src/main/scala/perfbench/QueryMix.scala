package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The read side: declared queries over the sf tables, one pass per unit,
  * each pass in a seed-shuffled order. A query's output is written the way
  * `graft.Verify` writes it, and `run.py` compares every pass's output
  * with the query's DuckDB oracle.
  */
final class QueryMix(spark: SparkSession, a: Main.Args, spans: Spans) extends Workload {
  import QueryMix._

  require(a.sfDir.nonEmpty, "query_mix needs --sf <dir with the sf parquet tables>")

  /** open the inputs: resolve each table's schema from its footer. */
  override def setup(): Unit =
    Tables.foreach(t => spark.read.parquet(s"${a.sfDir}/$t.parquet").schema)

  /** cold start: one plain scan, aggregate and write per table, as the
    * mix writes, so the first query of the cold pass does not carry the
    * JVM's generic warm-up. The pass itself stays cold.
    */
  override def warmup(): Boolean = {
    Tables.foreach(t => spark.read.parquet(s"${a.sfDir}/$t.parquet")
      .groupBy().count().coalesce(1).write.mode("overwrite")
      .parquet(a.work.resolve(s"warmup/$t.parquet").toString))
    false
  }

  /** the query order of pass `i`: a seeded shuffle. */
  def order(i: Int): Seq[String] = {
    val r = new java.util.Random(graft.corpus.SyntheticCorpus.mix64(a.seed * 1000003L + i))
    val xs = Queries.toArray
    (xs.length - 1 to 1 by -1).foreach { k =>
      val j = r.nextInt(k + 1); val t = xs(k); xs(k) = xs(j); xs(j) = t
    }
    xs.toSeq
  }

  private var passes = 0
  private var open = false
  private var threw = 0L

  def unitOpen: Boolean = open
  def unitOps: (Long, Long) = (Queries.size.toLong, threw)

  /** one pass over the mix; every pass's output is kept for run.py. */
  override def step(traced: Boolean): Boolean = {
    val pass = passes
    passes += 1
    open = true
    threw = 0L
    order(pass).foreach { q =>
      spans.span(s"query.$q") {
        spans.note("pass", pass)
        try SparkEntry.queries(q)(spark, a.sfDir).coalesce(1).write.mode("overwrite")
          .parquet(a.work.resolve(s"passes/$pass/$q.parquet").toString)
        catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] $q failed: $e")
            threw += 1
            spans.note("threw", 1)
        }
      }
    }
    spans.note("items", (Queries.size - threw).toDouble)
    true
  }

  /** outputs are compared with their oracles by run.py. */
  override def finishUnit(): Check = {
    open = false
    spans.note("disk_bytes",
      CrawlBench.dirBytes(a.work.resolve(s"passes/${passes - 1}")).toDouble)
    spans.note("items", Queries.size.toDouble)
    Check(ok = true, s"$threw queries threw; outputs compared with oracles by run.py")
  }

  override def info: String = Json.obj(
    "sf" -> a.sfDir,
    "queries" -> Queries,
    "oracle_sql" -> Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
}

object QueryMix {
  val Tables = Seq("documents", "events", "embeddings")

  /** one query per module under ops/ and for the frontier helpers, plus
    * the three event queries behind the eager pre-count routers.
    */
  val Queries = Seq(
    "q_dedup_clusters", "q_graph_hits", "q_search_fuzzy",
    "q_event_sessionize", "q_event_funnel", "q_event_quantiles",
    "q_text_colloc", "q_sample_budget", "q_sim_recall", "q_mm_tokens",
    "q_url_normalize")
}
