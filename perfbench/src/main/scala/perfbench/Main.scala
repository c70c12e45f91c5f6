package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark runner: drives the graft engine through its public API only.
  *
  * Usage (normally through `run.py`):
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json> [--sf <dir>]
  * }}}
  *
  * A run makes its inputs from the seed (set-up, repeated), then runs legs.
  * A leg is a closed loop with a single caller: it issues the next step (a
  * crawl round, or one pass over the query mix) only after the previous one
  * returned, until `--seconds` of step time have passed. Crawl sessions
  * restart when they complete; every session, complete or cut by the
  * clock, is checked against the oracle outside the timed steps.
  *
  * The first leg starts with an untimed cold start (counted in set-up).
  * A plain run has one untraced leg. A traced run repeats the same number
  * of steps twice more: once untraced as the overhead baseline, once with
  * the Spark listener and per-round store listings on.
  *
  * Everything measured is written once, at the end, to `--out` as spans
  * plus raw listener aggregates; `run.py` turns them into metrics.
  */
object Main {
  /** input set-up runs this many times; `setup_s` counts the median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, sfDir: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, kv.getOrElse("sf", ""))
  }

  def session(work: Path, ansi: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", ansi.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spans = new Spans(s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "plain"}")
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // crawl sessions run as the engine's own tests and graft.Bench do
    // (ANSI off); the query mix runs under the graft.Verify defaults its
    // oracles were checked with
    val spark = spans.span("setup.spark")(session(a.work, ansi = a.workload == "query_mix"))
    val w: Workload = a.workload match {
      case "crawl_rounds" => new CrawlWorkload(spark, a, spans)
      case "query_mix" => new QueryMix(spark, a, spans)
      case other => sys.error(s"unknown workload $other")
    }
    (1 to SetupReps).foreach(_ => spans.span("setup.input")(w.setup()))

    var attempted = 0L
    var failed = 0L
    val checks = Seq.newBuilder[String]

    def finish(leg: String): Unit = spans.span("check") {
      val (ops, threw) = w.unitOps
      val c = try w.finishUnit() catch { case NonFatal(e) => Check.fail(s"check threw: $e") }
      attempted += ops
      failed += (if (c.ok) threw else ops)
      checks += Json.obj("leg" -> leg, "ok" -> c.ok, "detail" -> c.detail)
    }

    /** one closed loop; `steps` fixes the step count (traced runs), else
      * the loop runs until `--seconds` of step time have passed.
      */
    def leg(name: String, steps: Option[Int], traced: Boolean,
        beforeFinish: () => Unit = () => ()): Int = spans.span(name) {
      // the cold start runs once per JVM, at the top of the first leg
      if (name == "leg.plain" && spans.span("warmup")(w.warmup())) finish(name)
      var n = 0
      var stepMs = 0.0
      def more = steps.fold(stepMs < a.seconds * 1000 || n == 0)(n < _)
      while (more) {
        val t0 = spans.nowMs
        val done = spans.span("step")(w.step(traced))
        stepMs += spans.nowMs - t0
        n += 1
        if (done) finish(name)
      }
      beforeFinish()
      if (w.unitOpen) finish(name)
      n
    }

    val steps = leg("leg.plain", None, traced = false)
    val events =
      if (!a.trace) None
      else {
        leg("leg.base", Some(steps), traced = false)
        val ev = new SparkEvents
        spark.sparkContext.addSparkListener(ev)
        leg("leg.traced", Some(steps), traced = true,
          () => spans.span("replays")(w.replays()))
        ev.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ev)
        Some(ev)
      }

    val peakRssKb = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    val sp = spans.all.map(s => Json.obj("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "run" -> s.run, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "attrs" -> s.attrs))
    val out = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "jvm_start_ms" -> jvmStartMs,
      "attempted" -> attempted, "failed" -> failed,
      "peak_rss_kb" -> peakRssKb,
      "checks" -> Json.raw(Json.arr(checks.result())),
      "spans" -> Json.raw(Json.arr(sp)),
      "spark" -> Json.raw(events.map(_.json).getOrElse("null")),
      "workload_info" -> Json.raw(w.info))
    Files.writeString(a.out, out)
    spark.stop()
  }
}

final case class Check(ok: Boolean, detail: String)
object Check {
  def fail(detail: String): Check = Check(ok = false, detail)
  def all(parts: Seq[(String, Boolean)]): Check = {
    val bad = parts.filterNot(_._2).map(_._1)
    if (bad.isEmpty) Check(ok = true, parts.map(_._1).mkString("; "))
    else Check(ok = false, "failed: " + bad.mkString("; "))
  }
}

/** A workload: inputs made from the seed, the steps of its closed loop,
  * and the check of each unit of output (a crawl session or a query pass).
  */
trait Workload {
  /** make the inputs from the seed; runs [[Main.SetupReps]] times. */
  def setup(): Unit
  /** untimed cold start before the first leg; true when it completed a unit. */
  def warmup(): Boolean = false
  /** one timed step; true when it completed the current unit. */
  def step(traced: Boolean): Boolean
  /** a unit has output that is not checked yet. */
  def unitOpen: Boolean
  /** (ops attempted, ops that threw) in the open unit. */
  def unitOps: (Long, Long)
  /** check the open unit's output, then release it. */
  def finishUnit(): Check
  /** operator replays at data volume (traced leg only). */
  def replays(): Unit = ()
  /** workload facts for the result file, as a JSON object. */
  def info: String = "{}"
}
