package graft.frontier

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PolitenessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("claimPrioritized: budget goes to high-rank rows, ties fall back to BFS order, salting is exact") {
    val rows = Seq(
      // url, host, depth, urlHash, priority
      ("http://a/1", "a", 1, 11L, 7L),
      ("http://a/2", "a", 0, 12L, 1L),
      ("http://a/3", "a", 2, 13L, 9L),
      ("http://a/4", "a", 0, 14L, 1L),
      ("http://a/5", "a", 0, 10L, 1L),
      ("http://b/1", "b", 3, 21L, 5L),
      ("http://b/2", "b", 0, 22L, 5L)
    ).toDF("url", "host", "depth", "urlHash", "priority")
    // host a budget-2 by priority desc → a/3 (9), a/1 (7) — NOT the BFS
    // front-runners a/5 and a/2; host b ties at 5 → BFS order b/2 first;
    // global top-3 by (priority desc, BFS) → a/3, a/1, b/2
    val got = Politeness.claimPrioritized(rows, hostBudget = 2, remaining = 3)
      .select("url").collect().map(_.getString(0)).toSet
    assert(got == Set("http://a/3", "http://a/1", "http://b/2"))
    // plain claim is unchanged by the refactor: canonical BFS order
    val bfs = Politeness.claim(rows, hostBudget = 2, remaining = 100)
      .select("url").collect().map(_.getString(0)).toSet
    assert(bfs == Set("http://a/5", "http://a/2", "http://b/2", "http://b/1"))
  }

  test("claimWithHostBudgets: overrides cap, clamp to default, absent hosts keep default, <=0 claims none") {
    val rows = (for (h <- Seq("a", "b", "c", "z"); i <- 0 until 4)
      yield (s"http://$h/$i", h, 0, (h + i).hashCode.toLong.abs % 1000, "p"))
      .toDF("url", "host", "depth", "urlHash", "parentUrl")
    val budgets = Seq(("a", 1), ("b", 99), ("z", 0)).toDF("host", "budget")
    val got = Politeness.claimWithHostBudgets(rows, hostBudget = 3,
      budgets, remaining = 100)
      .select("host").collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length).toMap
    // a: override 1; b: 99 clamps to default 3; c: absent → 3; z: 0 → none
    assert(got == Map("a" -> 1, "b" -> 3, "c" -> 3), got.toString)
    // within a host, the claimed rows are the canonical BFS front
    val aClaims = Politeness.claimWithHostBudgets(rows, 3, budgets, 100)
      .filter($"host" === "a").select("url").collect().map(_.getString(0)).toSeq
    val aFront = rows.filter($"host" === "a")
      .orderBy($"depth", $"urlHash", $"url").limit(1)
      .select("url").collect().map(_.getString(0)).toSeq
    assert(aClaims == aFront)
  }

  test("hot-host claims and bottomK equal a driver-side sort-and-take on both sides of the group-limit threshold") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // one host owns at least half of 3200+ rows, so every budget binds on
    // it; budgets straddle Spark's windowGroupLimitThreshold (1000), up to
    // which the partial limit applies
    val budgets = Seq(1, 2, 3, 5, 1000, 1500)
    val cases = Gen.listOfN(budgets.size, for {
      n <- Gen.chooseNum(3200, 4000)
      hotPct <- Gen.chooseNum(50, 95)
      cold <- Gen.chooseNum(1, 6)
      parts <- Gen.chooseNum(1, 9)
      capped <- Gen.oneOf(true, false)
      seed <- Gen.long
    } yield (n, hotPct, cold, parts, capped, seed))
      .apply(Gen.Parameters.default, Seed(9L)).get.zip(budgets)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    cases.foreach { case ((n, hotPct, cold, parts, capped, seed), budget) =>
      val rnd = new scala.util.Random(seed)
      // narrow hash and depth ranges force ties the url must break
      val rows = (0 until n).map { i =>
        val host = if (rnd.nextInt(100) < hotPct) "hot" else s"c${rnd.nextInt(cold)}"
        (s"http://$host/$i", host, rnd.nextInt(3), rnd.nextInt(50).toLong)
      }
      val frontier = rows.toDF("url", "host", "depth", "urlHash").repartition(parts)
      val remaining = if (capped) (n / 3).toLong else Long.MaxValue
      val overrides = Map("hot" -> (budget / 2 + 1), "c0" -> 0)
      val budgetDf = overrides.toSeq.toDF("host", "budget")
      def reference(cap: String => Int) = {
        val perHost = rows.groupBy(_._2).toSeq.flatMap { case (h, rs) =>
          rs.sortBy(r => (r._3, r._4, r._1)).take(cap(h)) }
        perHost.sortBy(r => (r._3, r._4, r._1))
          .take(math.min(remaining, n.toLong).toInt).map(_._1).toSet
      }
      def urls(df: org.apache.spark.sql.DataFrame) =
        df.select("url").collect().map(_.getString(0)).toSet
      val ctx = s"n=$n hot=$hotPct% parts=$parts budget=$budget capped=$capped"
      assert(urls(Politeness.claim(frontier, budget, remaining)) ==
        reference(_ => budget), ctx)
      assert(urls(Politeness.claimWithHostBudgets(frontier, budget, budgetDf,
        remaining)) == reference(h => overrides.get(h).fold(budget)(math.min(_, budget)).max(0)),
        ctx)
      val strata = rows.zipWithIndex.map { case (r, i) => (i.toLong, r._2) }
      val sample = graft.ops.Sampling.bottomK(
        strata.toDF("doc_id", "host").repartition(parts), "doc_id", "host", budget)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val sampleRef = strata.groupBy(_._2).values
        .flatMap(_.sortBy(r => (md5(r._1.toString), r._1)).take(budget)).toSet
      assert(sample == sampleRef, ctx)
    }
  }

  test("claimRows on the driver claims the same rows as claim and claimWithHostBudgets") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("url", StringType), StructField("urlHash", LongType),
      StructField("host", StringType), StructField("depth", IntegerType),
      StructField("parentUrl", StringType)))
    // "～" (U+FF5E) sorts before "😀" (U+1F600) by UTF-8 bytes but after it
    // by UTF-16 units; narrow depth and hash ranges make the url break ties
    val tails = Seq("a", "b", "～", "😀", "é", "z/～1", "z/😀1")
    val rnd = new scala.util.Random(18L)
    (0 until 40).foreach { c =>
      val hosts = Seq(null, "h0", "h1", "h2", "h3").take(2 + rnd.nextInt(4))
      val n = 1 + rnd.nextInt(60)
      val rows = (0 until n).map { i =>
        val host = hosts(rnd.nextInt(hosts.size))
        new GenericRowWithSchema(Array(s"http://$host/${tails(rnd.nextInt(tails.size))}$i",
          (rnd.nextInt(7) - 3).toLong, host, rnd.nextInt(3), "p"), schema): Row
      }
      val hostBudget = 1 + rnd.nextInt(4)
      // overrides of 0, 1 and above the default, one of them on an absent host
      val budgets = Map("h0" -> 0, "h1" -> 1, "h2" -> (hostBudget + 2), "hx" -> 1)
        .filter(_ => rnd.nextBoolean())
      val perHostTotal = rows.groupBy(r => Option(r.getString(2))).map { case (h, rs) =>
        math.min(rs.size, h.flatMap(budgets.get).fold(hostBudget)(math.min(_, hostBudget)).max(0))
      }.sum
      val remaining =
        if (rnd.nextBoolean()) math.max(0, perHostTotal - 1 - rnd.nextInt(3)).toLong
        else perHostTotal + rnd.nextInt(3).toLong
      val frontier = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(1 + rnd.nextInt(3))
      val ctx = s"case $c: n=$n budget=$hostBudget overrides=$budgets remaining=$remaining"
      val driver = Politeness.claimRows(rows, hostBudget, budgets, remaining)
      assert(driver.size == math.min(perHostTotal.toLong, remaining), ctx)
      assert(driver == Politeness.canonicalOrder(driver), ctx)
      val spark1 = Politeness.claimWithHostBudgets(frontier, hostBudget,
        budgets.toSeq.toDF("host", "budget"), remaining)
      assert(spark1.columns.toSeq == schema.fieldNames.toSeq, ctx)
      assert(spark1.collect().toSet == driver.toSet, ctx)
      val plain = Politeness.claimRows(rows, hostBudget, Map.empty, remaining)
      assert(Politeness.claim(frontier, hostBudget, remaining).collect().toSet == plain.toSet, ctx)
    }
  }
}
