package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.frontier.Politeness
import graft.model._
import graft.model.Extraction._

/** Physical-plan contracts the 100 TB scale design depends on (DESIGN.md):
  * these lock the *plan shape*, not just results, so a regression that keeps
  * answers correct but silently changes the execution strategy still fails.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("fetch join (J4) plans as broadcast hash join, never sort-merge") {
    val corpus = graft.corpus.SyntheticCorpus.Builder(n = 200, hostCount = 10)
      .corpus(spark).toDF()
    val claimed = Seq("http://h0.example.com/page/1").toDF("url")
    val plan = planOf(corpus.join(broadcast(claimed),
      corpus("doc_id") === claimed("url")))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("filter + projection reach the parquet scan (pushdown + pruning)") {
    val dir = TestSpark.tmpDir("pushdown")
    Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "v")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("id") < 2).select("id", "s")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("LessThan(id,2)"), scan)
    // column pruning: the value column never leaves the scan
    assert(scan.contains("ReadSchema") && !scan.contains("struct<id:bigint,s:string,v:int>"), scan)
  }

  test("extraction pipeline stays inside whole-stage codegen (no UDF breaks)") {
    val dir = TestSpark.tmpDir("plan-corpus")
    graft.corpus.SyntheticCorpus.Builder(n = 50, hostCount = 5)
      .corpus(spark).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val fetched = corpus.select(
      col("doc_id").as("url"), lit("p").as("parentUrl"), lit(0).as("depth"),
      xxhash64(col("doc_id")).as("urlHash"), lit("GET").as("method"),
      lit("text/html").as("mimeType"), lit("UTF-8").as("charSet"),
      lit(200).as("httpStatusCode"), lit(0L).as("contentLength"),
      lit(0L).as("executionTime"), col("lastModified"), col("spans"))
    val cfg = CrawlConfig(sessionId = "plan", seeds = Seq(),
      rules = Seq(ScrapingRule(".*", properties = Seq(
        PropertyRule("title", SpanText("title"), trimSpaces = true),
        PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true)))))
    val plan = planOf(graft.extract.Extractor.extract(fetched, cfg))
    assert(plan.contains("*("), plan) // codegen'd nodes print as *(n)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }

  test("canonicalize+hash pipeline is codegen'd (no ScalaUDF in dedup path)") {
    val df = spark.range(100)
      .select(concat(lit("HTTP://A.example.com:80/x/"), col("id")).as("child"))
      .select(UrlOps.canonicalizeCol(col("child")).as("url"))
      .withColumn("urlHash", UrlOps.urlHashCol(col("url")))
      .withColumn("host", UrlOps.hostCol(col("url")))
    val plan = planOf(df)
    assert(plan.contains("*("), plan) // codegen'd nodes print as *(n)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("sketch kernels run inside whole-stage codegen (no interpreted fallback)") {
    import spark.implicits._
    // parquet-backed inputs: a local relation constant-folds the whole
    // projection into LocalTableScan and nothing reaches codegen
    val dDir = TestSpark.tmpDir("plan-sketch-docs")
    val eDir = TestSpark.tmpDir("plan-sketch-embs")
    Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dDir)
    Seq((1L, Seq(1.0f, 0.5f)), (2L, Seq(0.5f, 1.0f))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(eDir)
    val docs = spark.read.parquet(dDir)
    val embs = spark.read.parquet(eDir)
    val planes = graft.ops.Similarity.hyperplanes(6, 2)
    val sketchy = docs.select(
      graft.ops.Dedup.minhashSignature($"text", 2, 8).as("sig"),
      graft.ops.Dedup.simhash($"text").as("sh"),
      graft.ops.TextOps.fingerprint($"text").as("fp"),
      graft.ops.TextOps.langId($"text").as("lang"))
    val planA = planOf(sketchy)
    assert(planA.contains("*("), planA)
    assert(!planA.contains("ScalaUDF"), planA)
    val keyed = embs.select(
      graft.functions.LshExpressions.bandKeys($"embedding", planes, 2, 3).as("keys"),
      graft.ops.Similarity.l2norm($"embedding").as("n"))
    val planB = planOf(keyed)
    assert(planB.contains("*("), planB)
    assert(!planB.contains("ScalaUDF"), planB)
    // and the kernels actually compute (not just plan): smoke the values
    assert(sketchy.collect().length == 2 && keyed.collect().length == 2)
  }

  test("fetch join broadcast is size-gated: hint below the cap, AQE above") {
    val corpus = graft.corpus.SyntheticCorpus.Builder(n = 200, hostCount = 10)
      .corpus(spark).toDF()
    val claimed = (0 until 50).map(i => s"http://h0.example.com/page/$i").toDF("url")
    // below the cap: the explicit hint forces a broadcast build side
    val below = planOf(graft.crawl.CrawlSession
      .fetchJoin(corpus, claimed, claimedRows = 50, maxBroadcastRows = 100))
    assert(below.contains("BroadcastHashJoin"), below)
    // above the cap: no hint — with stats-based broadcast disabled the plan
    // must fall through to a shuffle join (a 10^7-row claim batch would OOM
    // the broadcast path at scale)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val above = planOf(graft.crawl.CrawlSession
        .fetchJoin(corpus, claimed, claimedRows = 50, maxBroadcastRows = 10))
      assert(!above.contains("BroadcastHashJoin"), above)
      assert(above.contains("SortMergeJoin") || above.contains("ShuffledHashJoin"), above)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("LSH band exchanges carry keys only — no signature/vector replication") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    def bandExchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("band") => e
      }
    // tiny test inputs auto-broadcast the band join away — force the
    // at-scale shuffle plan so the exchange width is observable
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val docs = (0 until 20).map(i => (i.toLong, s"w$i w${i + 1} w${i + 2} w${i + 3}"))
      .toDF("doc_id", "text")
    // minhash default: hashed band keys — NO array rides the band shuffle
    val mh = bandExchanges(graft.ops.Dedup.minhashNearDups(docs))
    assert(mh.nonEmpty, "expected a band-keyed exchange in the minhash plan")
    mh.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"hashed band keys must shuffle longs, not arrays: ${e.output}")
    }
    // slice-keyed (oracle) form: the band key array (rowsPerBand values)
    // may ride, but NOT the full signature — i.e. at most ONE array column
    val mhS = bandExchanges(
      graft.ops.Dedup.minhashNearDups(docs, hashBandKeys = false))
    assert(mhS.nonEmpty)
    mhS.foreach { e =>
      val arrays = e.output.count(_.dataType.isInstanceOf[ArrayType])
      assert(arrays <= 1,
        s"band exchange replicates the signature (bands× shuffle bytes): ${e.output}")
    }
    // embeddings: the bucket key is a long — NO array (vector) may ride the
    // band shuffle (2 KB × bands per row at dim 256 otherwise)
    val vecs = (0 until 20).map(i =>
      (i.toLong, (0 until 8).map(j => ((i * 13 + j * 7) % 19 - 9).toFloat / 9f)))
      .toDF("vec_id", "embedding")
    val el = bandExchanges(graft.ops.Dedup.embeddingNearDupsLsh(vecs, threshold = 0.9))
    assert(el.nonEmpty, "expected a band-keyed exchange in the embedding LSH plan")
    el.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"band exchange replicates the vector: ${e.output}")
    }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("seen-route bloom probe is the native codegen expression, not a ScalaUDF") {
    val seen = (0 until 200).map(i => (s"http://s/$i", UrlOps.urlHash(s"http://s/$i")))
      .toDF("url", "urlHash")
    val cand = (100 until 300).map(i => (s"http://s/$i", UrlOps.urlHash(s"http://s/$i"),
      "s", 1, "p")).toDF("url", "urlHash", "host", "depth", "parentUrl").persist()
    try {
      val routed = graft.frontier.SeenSet.filterNew(cand, seen, 200L)
      val plan = planOf(routed)
      assert(plan.contains("might_contain"), plan.take(2000))
      assert(!plan.contains("ScalaUDF"), plan.take(2000))
      // routing is still exact
      val got = routed.select("url").collect().map(_.getString(0)).toSet
      assert(got == (200 until 300).map(i => s"http://s/$i").toSet)
    } finally cand.unpersist()
  }

  test("crawl round: the exact seen route reuses the dedup's exchange; the bloom route scans a persisted cand") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.HashJoin
    import graft.corpus.SyntheticCorpus
    import graft.crawl.CrawlSession

    // every node of an executed plan, through the adaptive wrappers
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    })
    val builder = SyntheticCorpus.Builder(n = 400, hostCount = 25)
    val corpus = builder.corpus(spark).toDF()
    val robots = builder.robots(spark).toDF()
    val seeds = Seq(0L, 5L, 96L).map(i => UrlOps.canonicalize(SyntheticCorpus.urlOf(i,
      SyntheticCorpus.hostOfDoc(i, 42L, SyntheticCorpus.zipfCdf(25, 1.1)))))
    def cfg(id: String, extraSeeds: Seq[String]) = CrawlConfig(sessionId = id,
      seeds = seeds ++ extraSeeds, maxDepth = 3, maxAccessCount = 150,
      hostBudgetPerRound = 3, rules = Seq(ScrapingRule(urlPattern = ".*/page/.*",
        properties = Seq(PropertyRule("title", SpanText("title"))))))
    // the executed plan of one round's frontier segment write: the one SQL
    // execution whose rows are frontier rows (a table write runs the
    // frame's own plan, its tasks writing the files)
    def roundWritePlan(session: CrawlSession): SparkPlan = {
      val t = TestSpark.traced(session.runRound())
      assert(t.result.exists(_.newUrls > 0))
      val columns = session.frontierTable.read().columns.toSeq
      val writes = t.queries.filter(_.analyzed.output.map(_.name) == columns)
      assert(writes.size == 1, s"${writes.size} frontier-row executions among ${t.queries.size}")
      writes.head.executedPlan
    }

    // exact route (seen < 1,048,576 rows): the candidate side of the anti-join
    // shuffles once, in the dedup — the join reuses its hash partitioning.
    // 9,000 filler seeds put the seen set above the small-round gate, below
    // which the round dedups and seen-checks its candidates on the driver
    val fillers = (0 until 9000).map(i => s"http://filler.example.com/s/$i")
    val exact = new CrawlSession(spark, cfg("plan-exact", fillers), corpus, robots,
      TestSpark.tmpDir("plan-exact"))
    exact.init()
    val exactPlan = roundWritePlan(exact)
    val antiJoin = nodes(exactPlan).collectFirst {
      case j: HashJoin if j.joinType == LeftAnti => j.asInstanceOf[SparkPlan]
    }.getOrElse(fail(exactPlan.toString))
    val candSide = nodes(antiJoin.children.head)
    assert(candSide.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, antiJoin.toString)
    assert(!candSide.exists(_.isInstanceOf[UnionExec]), "children come from one pass")
    exact.cleanup()

    // bloom route (seen ≥ 1,048,576 rows, seeded here): both branches of the
    // routed union scan the persisted candidates
    val filler = (0 until 1048576).map(i => s"http://filler.example.com/s/$i")
    val bloomed = new CrawlSession(spark, cfg("plan-bloom", filler), corpus, robots,
      TestSpark.tmpDir("plan-bloom"))
    bloomed.init()
    val bloomPlan = roundWritePlan(bloomed)
    val union = nodes(bloomPlan).collectFirst { case u: UnionExec => u }
      .getOrElse(fail(bloomPlan.toString))
    union.children.foreach(c =>
      assert(nodes(c).exists(_.isInstanceOf[InMemoryTableScanExec]), union.toString))
    bloomed.cleanup()
  }

  test("PlanDump explains the executed (final adaptive) plan") {
    val df = spark.range(0, 1000).groupBy((col("id") % 7).as("k")).count()
    val plan = graft.tools.PlanDump.executedPlan(df)
    assert(plan.contains("isFinalPlan=true"), plan)
  }

  test("top-k: one rank exchange with a partial group limit below it; global top-k via TakeOrderedAndProject") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}

    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    })
    // the final adaptive plan: PlanDump runs the query before explaining it
    def executed(df: DataFrame): (Seq[SparkPlan], String) = {
      val text = graft.tools.PlanDump.executedPlan(df)
      (nodes(df.queryExecution.executedPlan), text)
    }
    def shuffles(ns: Seq[SparkPlan]) = ns.collect { case e: ShuffleExchangeLike => e }
    def keyedOn(e: ShuffleExchangeLike, key: String) = e.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == key
      case _ => false
    }
    def partialBelow(e: ShuffleExchangeLike) = nodes(e.asInstanceOf[SparkPlan]).exists {
      case w: WindowGroupLimitExec => w.mode == Partial
      case _ => false
    }

    val dir = TestSpark.tmpDir("topk-plan")
    (0 until 2000).map { i =>
      val host = if (i % 2 == 0) "hot.example.com" else s"h${i % 7}.example.com"
      val url = s"http://$host/page/$i"
      (url, UrlOps.urlHash(url), host, i % 3, "p")
    }.toDF("url", "urlHash", "host", "depth", "parentUrl")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val frontier = spark.read.parquet(dir)
    val budgets = Seq(("hot.example.com", 2)).toDF("host", "budget")
    for ((name, claimed) <- Seq(
        "claim" -> Politeness.claim(frontier, hostBudget = 5, remaining = 20),
        "claimWithHostBudgets" -> Politeness.claimWithHostBudgets(
          frontier, hostBudget = 5, budgets, remaining = Long.MaxValue))) {
      val (ns, text) = executed(claimed)
      val ex = shuffles(ns)
      assert(ex.size == 1 && keyedOn(ex.head, "host"), s"$name:\n$text")
      assert(partialBelow(ex.head), s"$name:\n$text")
    }

    val docs = (0L until 400L)
      .map(i => (i, s"alpha beta d$i ${if (i % 3 == 0) "gamma" else "delta"}"))
      .toDF("doc_id", "text").repartition(4)
    val idx = graft.ops.SearchOps.index(docs, termFilter = Seq("alpha", "gamma"))
    val queries = Seq(("q1", "alpha"), ("q1", "gamma"), ("q2", "gamma"))
      .toDF("query_id", "term")
    val (sns, stext) = executed(graft.ops.SearchOps.searchAllTopK(idx, queries, k = 5))
    val perQuery = shuffles(sns).filter(keyedOn(_, "query_id"))
    assert(perQuery.size == 1 && partialBelow(perQuery.head), stext)

    val (cns, ctext) = executed(graft.ops.TextOps.collocations(
      (0L until 200L).map(i => (i, s"new york city d${i % 9} new york"))
        .toDF("doc_id", "text"), k = 3, minCount = 2L))
    assert(cns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]), ctext)
    cns.collect { case w: WindowExec => w }.foreach(w =>
      assert(nodes(w).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        s"window over unbounded input:\n$ctext"))
  }

  test("global budget cap plans as TakeOrderedAndProject, not a full sort") {
    val frontier = (0 until 100).map { i =>
      val url = s"http://h${i % 5}.example.com/page/$i"
      (url, UrlOps.urlHash(url), s"h${i % 5}.example.com", i % 3, "p")
    }.toDF("url", "urlHash", "host", "depth", "parentUrl")
    val plan = planOf(Politeness.claim(frontier, hostBudget = 4, remaining = 10))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("histogram quantiles never sort raw rows: aggregate BELOW the window") {
    val dir = TestSpark.tmpDir("plan-quant")
    (0 until 500).map(i => (s"t${i % 3}", (i % 97) / 10.0, i.toLong))
      .toDF("event_type", "value", "event_id")
      .write.mode("overwrite").parquet(dir)
    val events = spark.read.parquet(dir)
    val hist = planOf(graft.ops.EventOps.valueQuantilesHistogram(events))
    // no per-row ranking anywhere; the only Window/Sort operates on the
    // OUTPUT of the (type, cents) HashAggregate — the compressed histogram
    assert(!hist.contains("row_number"), hist)
    val windowIdx = hist.indexOf("Window")
    val aggIdx = hist.lastIndexOf("HashAggregate")
    assert(windowIdx >= 0 && aggIdx > windowIdx,
      s"expected a HashAggregate below the window\n$hist")
    // the sorted form DOES rank raw rows — the contrast that makes the
    // histogram form the scale path
    val sorted = planOf(graft.ops.EventOps.valueQuantiles(events))
    assert(sorted.contains("row_number"), sorted)
  }

  test("substring removal: occurrences cross the wire once; interval merge is per-doc") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (0 until 40).map(i =>
        (i.toLong, if (i % 4 == 0) "alpha beta gamma delta epsilon tail" + i
        else s"unique words $i only here never repeated elsewhere $i"))
        .toDF("doc_id", "text")
      val (out, release) = graft.ops.Dedup.substringDedupReleasable(docs, k = 5)
      val plan = planOf(out)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      // the window-keyed exchanges: raw occurrences shuffle ONCE (the join
      // side); the aggregate side carries map-side partials and its output
      // partitioning is reused by the join — never a third w-exchange
      val wExchanges = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("w#") => e
      }
      assert(wExchanges.size <= 2, s"expected <=2 w exchanges:\n$plan")
      // the gaps-and-islands merge windows BY DOCUMENT, never corpus-wide
      assert(plan.contains("Window"), plan)
      assert(!plan.matches("(?s).*Window [^\\n]*\\[\\], \\[.*"),
        s"unpartitioned (corpus-global) Window found:\n$plan")
      release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("semantic dedup candidate join shuffles on the CELL id, never cross-joins") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val vecs = (0 until 24).map(i =>
        (i.toLong, (0 until 8).map(j => ((i * 13 + j * 7) % 19 - 9).toFloat / 9f)))
        .toDF("vec_id", "embedding")
      val cents = graft.ops.Similarity.ivfCentroids(vecs, 4)
      val df = graft.ops.Dedup.semanticDedup(vecs, cents, 0.9)
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"semantic dedup must block by cell, not cross-join:\n$plan")
      val cellExchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("cell") => e
      }
      assert(cellExchanges.nonEmpty, s"expected a cell-keyed exchange:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("lineDedup default keys the corpus-wide frequency exchange on a hash, not line text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (0 until 20).map(i => (i.toLong, s"boiler\nuniq $i"))
        .toDF("doc_id", "text")
      def freqExchanges(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("__k") => e
        }
      // default: the frequency-count exchange partitions on xxhash64(__line)
      // (long) and its rows carry no string payload
      val hashed = freqExchanges(graft.ops.TextOps.lineDedup(docs, 10))
      assert(hashed.nonEmpty, "expected a __k-keyed frequency exchange")
      hashed.filter(_.output.length <= 2).foreach { e =>
        assert(!e.output.exists(_.dataType == StringType),
          s"hashed exchange must not carry line text: ${e.output}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("PII redaction is a single codegen'd Project over the scan") {
    val dir = TestSpark.tmpDir("redact-plan")
    Seq((1L, "mail a@b.io now")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("doc_id"), graft.ops.TextOps.redactPii(col("text")))
    val plan = planOf(df)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("Exchange"), s"redaction must be map-side only:\n$plan")
    assert(plan.contains("*("), s"expected a whole-stage-codegen span:\n$plan")
  }

  test("keepBest aggregates with a partial (map-side) phase and no Window") {
    val docs = (0L until 200L).map(i => (i, i % 7)).toDF("doc_id", "score")
    val clusters = (0L until 150L).map(i => (i, i % 3)).toDF("id", "rep")
    val out = graft.ops.Dedup.keepBest(docs, clusters, col("score"))
    val plan = planOf(out)
    // the argmax is an aggregation (max over a struct plans as a
    // SortAggregate — struct buffers aren't hash-aggregable — but it keeps
    // the partial phase, which is what bounds a hot cluster), NOT a window
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_max") || plan.contains("partial_"), plan)
  }

  test("hoppingWindowCounts: ONE exchange; the window fan-out stays map-side") {
    val events = (0L until 500L)
      .map(i => (new java.sql.Timestamp(i * 1000), s"e${i % 3}", 1.0))
      .toDF("ts", "event_type", "value")
    val out = graft.ops.EventOps.hoppingWindowCounts(events,
      windowSeconds = 60L, slideSeconds = 20L)
    out.collect() // settle AQE (exchanges wrap into query stages)
    // the AQE dump repeats the plan (final + initial) — count the final only
    val plan = planOf(out).split("== Initial Plan ==").head
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n == 1, plan)
    // the fan-out is an Expand BELOW the partial aggregate, not a join
    assert(plan.contains("Expand") && plan.contains("partial_count"), plan)
  }

  test("winnowing fingerprints select map-side: zero exchanges, no window operator") {
    val dir = TestSpark.tmpDir("winnow-plan")
    Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val out = graft.ops.TextOps.winnowFingerprints(
      spark.read.parquet(dir), k = 3, w = 4)
    val plan = planOf(out)
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("phraseTopK: adjacency is equi-joins, never a cartesian; windows only at top-k") {
    val docs = (0L until 50L)
      .map(i => (i, s"alpha beta gamma alpha beta d$i")).toDF("doc_id", "text")
    val out = graft.ops.SearchOps.phraseTopK(docs, Seq("alpha", "beta"), k = 5)
    val plan = planOf(out)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    // exactly one top-k window, over the TakeOrderedAndProject's k rows
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows == 1, s"$windows windows:\n$plan")
  }
}

/** Storage-layout contract: two tables bucketed on the recurring join key
  * join (inner AND the J1 left_anti shape) with ZERO shuffle exchanges —
  * the write-once shuffle amortized over every crawl round. Separate suite
  * so the catalog tables it creates are dropped even if PlanSpec grows.
  */
class BucketedStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("equal-bucketed tables join and anti-join with zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = graft.TestSpark.tmpDir("bucketed")
    try {
      val seen = (0L until 5000L).map(i => (i * 7919 % 100000, s"http://h/$i"))
        .toDF("urlHash", "url")
      val cand = (0L until 800L).map(i => (i * 7919 % 100000, i))
        .toDF("urlHash", "depth")
      graft.sources.BucketedStore.write(seen, "seen_b", s"$dir/seen", 8, "urlHash")
      graft.sources.BucketedStore.write(cand, "cand_b", s"$dir/cand", 8, "urlHash")
      val s = graft.sources.BucketedStore.read(spark, "seen_b")
      val c = graft.sources.BucketedStore.read(spark, "cand_b")

      def exchanges(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e }

      val inner = c.join(s, "urlHash")
      assert(exchanges(inner).isEmpty,
        inner.queryExecution.executedPlan.toString)
      val anti = c.join(s, Seq("urlHash"), "left_anti")   // the J1 shape
      assert(exchanges(anti).isEmpty,
        anti.queryExecution.executedPlan.toString)
      // and the answers are the plain-join answers
      val plainAnti = cand.join(seen, Seq("urlHash"), "left_anti").count()
      assert(anti.count() == plainAnti)

      // mismatched bucket counts CANNOT prove co-location: Spark must
      // re-shuffle at least one side (the contract is n-equal buckets)
      graft.sources.BucketedStore.write(cand, "cand_b4", s"$dir/cand4", 4, "urlHash")
      val mixed = graft.sources.BucketedStore.read(spark, "cand_b4").join(s, "urlHash")
      assert(exchanges(mixed).nonEmpty)
    } finally {
      Seq("seen_b", "cand_b", "cand_b4").foreach(
        graft.sources.BucketedStore.drop(spark, _))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  // AQE wraps exchanges in ShuffleQueryStageExec after execution, hiding
  // them from a plain collect — the exchange-count assertions below run
  // with AQE off (and restore it), like the bucketed-join test above.
  private def withPlainPlans[A](body: => A): A = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("UrlParams.mine is two exchanges; normalize adds only a broadcast") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    withPlainPlans {
      val pages = (0 until 200).map(i =>
        (s"http://h${i % 3}.example.com/p?id=${i % 20}&sess=${i % 4}",
          (i % 20).toLong)).toDF("url", "content_hash")
      def shuffles(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val mined = graft.frontier.UrlParams.mine(pages)
      assert(shuffles(mined).length == 2,
        mined.queryExecution.executedPlan.toString)
      val norm = graft.frontier.UrlParams.normalize(pages.select("url"), mined)
      // the rules side re-runs mine (2 shuffles) + its host rollup (1); the
      // URL side must contribute NO shuffle — the join is a broadcast
      assert(norm.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b }.nonEmpty,
        norm.queryExecution.executedPlan.toString)
      assert(shuffles(norm).length == 3,
        norm.queryExecution.executedPlan.toString)
    }
  }

  test("TrapDetector: flagUrls is exchange-free; hostStats is two exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withPlainPlans {
      val urls = (0 until 300).map(i =>
        if (i % 7 == 0) s"http://h${i % 4}.example.com/c/c/c/p$i"
        else s"http://h${i % 4}.example.com/a${i % 9}/b$i").toDF("url")
      def shuffles(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val flags = graft.frontier.TrapDetector.flagUrls(urls)
      assert(shuffles(flags).isEmpty,
        flags.queryExecution.executedPlan.toString)
      val stats = graft.frontier.TrapDetector.hostStats(urls)
      // (host, depth) count, then one host exchange shared by the lead()
      // window and the final rollup
      assert(shuffles(stats).length == 2,
        stats.queryExecution.executedPlan.toString)
    }
  }

  test("intervalJoin plans as an equi-join; the naive twin is nested-loop") {
    val l = (0L until 50L).map(i => (i, new java.sql.Timestamp(i * 1000)))
      .toDF("l_id", "ts")
    val r = (0L until 50L).map(i => (i, new java.sql.Timestamp(i * 1500)))
      .toDF("r_id", "ts")
    val fast = planOf(graft.ops.EventOps.intervalJoin(l, r, 30L))
    assert(!fast.contains("BroadcastNestedLoopJoin") &&
      !fast.contains("CartesianProduct"), fast)
    assert(fast.contains("SortMergeJoin") || fast.contains("HashJoin"), fast)
    val naive = planOf(graft.ops.EventOps.intervalJoinNaive(l, r, 30L))
    assert(naive.contains("BroadcastNestedLoopJoin") ||
      naive.contains("CartesianProduct"), naive)
  }

  test("compositeAgg: keyset filter reaches the scan; page cut is TakeOrdered") {
    val dir = TestSpark.tmpDir("composite")
    (0L until 400L).map(i => (s"h${i % 5}", s"p${i % 3}", i))
      .toDF("host", "path", "id").write.mode("overwrite").parquet(dir)
    val q = graft.ops.EventOps.compositeAgg(spark.read.parquet(dir),
      Seq("host", "path"), 4, Seq("h2", "p1"))
    val plan = planOf(q)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // no global Sort node outside the TakeOrdered operator
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    // the keyset predicate runs pre-aggregation, pushed to the parquet
    // scan (the leading-key bound is scan-pushable)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(host,h2)"), plan)
    val opt = q.queryExecution.optimizedPlan.toString
    val aggIdx = opt.indexOf("Aggregate")
    val filterIdx = opt.indexOf("Filter")
    assert(aggIdx >= 0 && filterIdx > aggIdx, opt)
  }

  test("ngramCounts / epochMixture stay map-side up to one aggregation / zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withPlainPlans {
      def shuffles(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val docs = (0L until 100L).map(i => (i, s"w${i % 9} w${i % 7} w${i % 5}", s"s${i % 4}"))
        .toDF("doc_id", "text", "source")
      // one exchange: the (gram → count) aggregation
      assert(shuffles(graft.ops.TextOps.ngramCounts(docs, 2, 1)).length == 1)
      // replication is a pure map-side explode — zero exchanges
      val mixed = graft.ops.Sampling.epochMixture(docs, "doc_id", "source",
        Map("s0" -> 2.5), defaultEpochs = 1.0)
      assert(shuffles(mixed).isEmpty,
        mixed.queryExecution.executedPlan.toString)
    }
  }

}
