package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "THE  QUICK   brown fox jumps over the lazy dog"), // exact dup of 1 mod case/ws
    (4L, "completely different text about spark engines and shuffles"),
    (5L, "the quick brown fox jumps over the lazy dog")     // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates (keep min id)") {
    val out = Dedup.exact(docs).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // {1,3,5} collapse to keep_id 1, count 3
    assert(out == Set((1L, 3L), (2L, 1L), (4L, 1L)))
  }

  test("fused xxhash shingle/token kernels equal the declarative build bit-for-bit") {
    // an explicit lambda is a different function object than TextOps.fastHash,
    // so these calls take the declarative transform path — the reference
    val declHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => xxhash64(t)
    val edge = docs.unionByName(Seq((6L, ""), (7L, "one"), (8L, "two words"))
      .toDF("doc_id", "text"))
    val sh = edge.select(
      Dedup.shingleHashes($"text", 3).as("fused"),
      Dedup.shingleHashes($"text", 3, declHash).as("decl")).collect()
    sh.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    val sim = edge.select(
      Dedup.simhash($"text").as("fused"),
      Dedup.simhash($"text", hash = declHash).as("decl")).collect()
    sim.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("text kernels equal their declarative references on adversarial inputs") {
    val rng = new scala.util.Random(4242)
    val alphabet = "ab \t\n\f\rcdé中 .!?"
    val nasty = Seq("", " ", "\t\n ", "one", "  leading", "trailing  ",
      "a  b\tc\nd", "ÜPPER Ücase", "中文 分词 测试", "the the the de de la") ++
      (0 until 60).map(_ => (0 until rng.nextInt(30))
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
    val df = nasty.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val toks = TextOps.tokens($"text")
    val declNorm = trim(regexp_replace(lower($"text"), "\\s+", " "))
    val declShingles = {
      val n = size(toks)
      when(n >= lit(3), transform(sequence(lit(0), n - 3),
        i => concat_ws(" ", (0 until 3).map(j => get(toks, i + lit(j))): _*)))
        .otherwise(array(concat_ws(" ", toks)))
    }
    val declScores = array(TextOps.Lexicons.map { case (_, lex) =>
      size(filter(toks, t => t.isInCollection(lex))) }: _*)
    val rows = df.select(
      graft.functions.TextExpressions.normalizeWsLower($"text").as("kn"),
      declNorm.as("dn"),
      Dedup.shingles($"text", 3).as("ks"), declShingles.as("ds"),
      graft.functions.TextExpressions.lexiconCounts(toks,
        TextOps.Lexicons.map(_._2)).as("kc"), declScores.as("dc")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"normalize: '${r.getString(0)}' vs '${r.getString(1)}'")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "shingles")
      assert(r.getSeq[Int](4) == r.getSeq[Int](5), "lexicon counts")
    }
  }

  test("minhash signature: identical texts identical, near-dups mostly agree") {
    val sigs = docs.select($"doc_id", Dedup.minhashSignature($"text", 3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(5L))
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree >= 8, s"near-dup signature agreement too low: $agree/16")
    val agreeFar = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agreeFar <= 4, s"far pair agreement too high: $agreeFar/16")
  }

  test("minhash LSH surfaces the near-dup pair and verifies similarity") {
    val pairs = Dedup.minhashNearDups(docs, minSignatureSim = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  // existing-side frames for the incremental entry, via the shared front end
  private def existingSigsOf(df: org.apache.spark.sql.DataFrame) =
    Dedup.bandedSignatures(df, "doc_id", "text", 3, 4, 4,
      TextOps.fastHash, hashBandKeys = true)._1
  private def existingBandsOf(df: org.apache.spark.sql.DataFrame,
      hashed: Boolean) =
    Dedup.bandedSignatures(df, "doc_id", "text", 3, 4, 4,
      TextOps.fastHash, hashed)._2

  test("incremental minhash dedup = batch pairs touching a new doc, any split") {
    // a richer corpus: planted dup clusters spread across the id space so
    // splits cut through clusters (new-vs-existing AND new-vs-new pairs)
    val corpus = (0L until 30L).map { i =>
      val base = (i % 5) match {
        case 0 => "the quick brown fox jumps over the lazy dog"
        case 1 => "the quick brown fox jumps over the lazy cat"
        case 2 => "pack my box with five dozen liquor jugs today"
        case 3 => "pack my box with five dozen liquor jugs tonight"
        case _ => s"unique filler text number $i about engines"
      }
      (i, base)
    }.toDF("doc_id", "text")
    for (split <- Seq(10L, 20L); hashed <- Seq(true, false)) {
      val existing = corpus.filter($"doc_id" < split)
      val fresh = corpus.filter($"doc_id" >= split)
      val batch = Dedup.minhashNearDups(corpus, hashBandKeys = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expect = batch.filter { case (a, b, _) => a >= split || b >= split }
      val got = Dedup.minhashNearDupsIncremental(fresh,
        existingBandsOf(existing, hashed), existingSigsOf(existing),
        hashBandKeys = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expect, s"split=$split hashed=$hashed")
    }
  }

  test("incremental minhash over a bucketed index: zero corpus-side exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = graft.TestSpark.tmpDir("mh-index")
    try {
      val corpus = (0L until 400L).map(i =>
        (i, s"text number ${i % 37} about topic ${i % 11} repeated words"))
        .toDF("doc_id", "text")
      val idx = Dedup.buildMinhashIndex(corpus.filter($"doc_id" < 300),
        "mh_inc", dir, nBuckets = 8)
      val fresh = corpus.filter($"doc_id" >= 300)
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val viaIndex = Dedup.minhashNearDupsIncremental(fresh, idx.bands, idx.sigs)
      val adHoc = Dedup.minhashNearDupsIncremental(fresh,
        existingBandsOf(corpus.filter($"doc_id" < 300), hashed = true),
        existingSigsOf(corpus.filter($"doc_id" < 300)))
      // fewer exchanges with the bucketed index (corpus side pre-laid-out),
      // identical answers
      assert(exchanges(viaIndex).size < exchanges(adHoc).size,
        s"index=${exchanges(viaIndex).size} adhoc=${exchanges(adHoc).size}")
      val a = viaIndex.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = adHoc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b && a.nonEmpty)
    } finally {
      Seq("mh_inc_bands", "mh_inc_sigs").foreach(
        graft.sources.BucketedStore.drop(spark, _))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("incremental embedding LSH = batch pairs touching a new id; bucketed index sheds exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // planted clusters around 4 centroids, ids interleaved so any split
    // cuts clusters (cross and self pairs on the delta)
    val embs = (0L until 60L).map { i =>
      val c = (i % 4).toInt
      val base = Array.tabulate(8)(d => if (d == c * 2) 1.0f else 0.05f * ((i + d) % 3))
      (i, base.toSeq)
    }.toDF("vec_id", "embedding")
    val split = 40L
    val existing = embs.filter($"vec_id" < split)
    val fresh = embs.filter($"vec_id" >= split)
    val batch = Dedup.embeddingNearDupsLsh(embs, 0.8, bands = 6, bitsPerBand = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = batch.filter { case (a, b) => a >= split || b >= split }
    // ad-hoc existing side (slice-keyed, the oracle shape)
    val exBands = Dedup.embeddingKeyed(existing, 6, 3, "vec_id", "embedding",
      hashKeys = false)
    val exVecs = existing.select($"vec_id".as("id"), $"embedding".as("v"))
      .withColumn("norm", graft.ops.Similarity.l2norm($"v"))
    val got = Dedup.embeddingNearDupsLshIncremental(fresh, exBands, exVecs,
      0.8, bands = 6, bitsPerBand = 3, hashKeys = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect && got.nonEmpty, s"got $got expect $expect")
    // bucketed index: fewer exchanges, same answers
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = graft.TestSpark.tmpDir("emb-index")
      val idx = Dedup.buildEmbeddingLshIndex(existing, "emb_inc", dir, 8,
        bands = 6, bitsPerBand = 3)
      def exchanges(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      val viaIndex = Dedup.embeddingNearDupsLshIncremental(fresh, idx.bands,
        idx.vecs, 0.8, bands = 6, bitsPerBand = 3)
      val adHoc = Dedup.embeddingNearDupsLshIncremental(fresh,
        Dedup.embeddingKeyed(existing, 6, 3, "vec_id", "embedding", hashKeys = true),
        exVecs, 0.8, bands = 6, bitsPerBand = 3)
      assert(exchanges(viaIndex).size < exchanges(adHoc).size,
        s"index=${exchanges(viaIndex).size} adhoc=${exchanges(adHoc).size}")
      val a = viaIndex.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == expect)
    } finally {
      Seq("emb_inc_bands", "emb_inc_vecs").foreach(
        graft.sources.BucketedStore.drop(spark, _))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("simhash near-dups return EXACTLY the pairs within maxHamming (pigeonhole recall)") {
    // 40 varied docs; ground truth = exhaustive hamming over collected signatures
    val corpus = (0 until 40).map { i =>
      val words = (0 until 6).map(j => s"w${(i * 7 + j * 3) % 15}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = corpus.select($"doc_id", Dedup.simhash($"text", 16).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashNearDups(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "test corpus must contain close pairs")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("embedding LSH near-dups: exact precision, finds identical pairs, subset of brute force") {
    val vecs = (0 until 30).map { i =>
      (i.toLong, (0 until 8).map(j => ((i * 13 + j * 7) % 19 - 9).toFloat / 9f))
    } :+ (100L, (0 until 8).map(j => ((5 * 13 + j * 7) % 19 - 9).toFloat / 9f)) // dup of id 5
    val df = vecs.toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDupsLsh(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val brute = Dedup.embeddingNearDups(df, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.exists { case (a, b, c) => a == 5L && b == 100L && c == 1.0 },
      "identical pair must share a bucket")
    assert(lsh.forall(_._3 >= 0.9)) // exact precision
    assert(lsh.toSet.subsetOf(brute)) // LSH pairs are a subset of brute force
  }

  test("simhash blocks split the signature exactly (no out-of-range block)") {
    // bits not divisible by nBlocks: ceil widths used to push the last block
    // past the signature (key 0 for every doc → quadratic self-join)
    for ((bits, maxHam) <- Seq((16, 3), (16, 4), (16, 5), (13, 3), (64, 3))) {
      val blocks = Dedup.simhashBlocks(bits, maxHam)
      assert(blocks.map { case (_, shift, mask) =>
        java.lang.Long.bitCount(mask << shift)
      }.sum == bits, s"blocks must cover all $bits bits exactly: $blocks")
      val covered = blocks.map { case (_, shift, mask) => mask << shift }
      assert(covered.reduce(_ | _) == (if (bits == 64) -1L else (1L << bits) - 1))
      assert(covered.combinations(2).forall { case Seq(a, b) => (a & b) == 0L },
        "blocks must be disjoint")
    }
  }

  test("simhash near-dups with the PORTABLE hash keep exact pigeonhole recall (oracle path)") {
    val corpus = (0 until 40).map { i =>
      val words = (0 until 6).map(j => s"w${(i * 7 + j * 3) % 15}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = corpus.select($"doc_id",
      Dedup.simhash($"text", 16, TextOps.portableHash).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashNearDups(corpus, hash = TextOps.portableHash)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("simhash: hamming 0 for identical, small for near-dup, large for far") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text", 16).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(5L)) == 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(4L)))
  }

  test("mixtureSample: largest corpus at target shares, no upsampling, deterministic") {
    // 300/100/50 rows of a/b/c; targets 0.5/0.3/0.2 → T bound by c:
    // min(300/.5, 100/.3, 50/.2) = 250 → keep 125/75/50
    val docs = ((0 until 300).map(i => (i.toLong, "a")) ++
      (1000 until 1100).map(i => (i.toLong, "b")) ++
      (2000 until 2050).map(i => (i.toLong, "c"))).toDF("doc_id", "src")
    val out = Sampling.mixtureSample(docs, "doc_id", "src",
      Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
    val byS = out.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the binding stratum keeps everything; others land within bucket
    // granularity (±1% of their stratum) of the exact target
    assert(byS("c") == 50)
    assert(math.abs(byS("a") - 125) <= 3 && math.abs(byS("b") - 75) <= 1, byS)
    // deterministic: same rows every run
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      Sampling.mixtureSample(docs, "doc_id", "src",
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)).collect().map(_.getLong(0)).sorted.toSeq)
    // unlisted strata are dropped; missing requested strata reject loudly
    assert(out.filter($"src" === "d").count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.mixtureSample(docs, "doc_id", "src", Map("nope" -> 1.0))
    }
  }

  test("packSequences: partitioning-invariant two-pass prefix sum, no global funnel") {
    val docs = (0 until 200).map(i =>
      (i.toLong, (0 to (i % 7)).map(j => s"t$j").mkString(" "))).toDF("doc_id", "text")
    def rows(parts: Int) =
      Sampling.packSequences(docs, seqLen = 16, partitions = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val a = rows(3)
    // same values at a different partition count: start positions are a
    // pure function of the id order, not the physical layout
    assert(a == rows(7))
    // against a driver-side reference prefix sum
    var acc = 0L
    val expect = (0 until 200).map { i =>
      val n = (i % 7) + 1L
      val out = (i.toLong, n, acc, acc / 16)
      acc += n
      out
    }
    assert(a == expect)
    // the plan must not funnel the corpus through one task: the window is
    // partitioned by the physical partition id, never a SinglePartition
    // exchange (the naive global Window.orderBy shape)
    val plan = Sampling.packSequences(docs, seqLen = 16, partitions = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("packSequences property: prefix sums + chunk ids match a reference fold on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random doc shapes: empty strings, 1-token, long docs, sparse ids
    val shapes = Gen.listOfN(120, for {
      id <- Gen.chooseNum(0L, 100000L)
      nTok <- Gen.chooseNum(0, 40)
    } yield (id, nTok)).apply(Gen.Parameters.default, Seed(11L)).get
      .distinctBy(_._1).sortBy(_._1)
    val docs = shapes.map { case (id, n) =>
      (id, (0 until n).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    val got = Sampling.packSequences(docs, seqLen = 64, partitions = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    var acc = 0L
    val expect = shapes.map { case (id, n) =>
      val tok = if (n == 0) 1L else n.toLong // split("") -> [""] counts 1
      val out = (id, tok, acc, acc / 64)
      acc += tok
      out
    }
    assert(got == expect)
  }

  test("deterministic split/sample: stable, disjoint, fraction-accurate") {
    val ids = spark.range(20000).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 3 === 0, "en").otherwise("de"))
    val split = graft.ops.Sampling.deterministicSplit(ids, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 20000, "split is a partition of the input")
    assert(math.abs(counts("train") - 18000) < 500, counts.toString)
    assert(math.abs(counts("val") - 1000) < 200 && math.abs(counts("test") - 1000) < 200)
    // stable: re-evaluation assigns identically (no rand())
    val again = graft.ops.Sampling.deterministicSplit(ids, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    assert(split.except(again).count() == 0 && again.except(split).count() == 0)
    // stratified: per-stratum rates honored, sample ⊆ input
    val sampled = graft.ops.Sampling.stratifiedSample(ids, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.1))
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en") - 20000 / 3 * 0.5) < 300, byLang.toString)
    assert(math.abs(byLang("de") - 20000 * 2 / 3 * 0.1) < 300, byLang.toString)
  }

  test("repetition features: repeated bigrams score high, varied text low") {
    val df = Seq(
      (1L, "spam spam spam spam spam"),             // one bigram, 4 occurrences
      (2L, "all tokens here are fully distinct")).toDF("doc_id", "text")
    val got = TextOps.repetitionFeatures(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // doc 1: 4 "spam spam" occurrences, 1 distinct → dup frac 0.75;
    // top bigram covers 4*9 chars over 24 → 1.5 (can exceed 1 on overlap)
    assert(got(1L) == (0.75, 1.5), got(1L).toString)
    assert(got(2L)._1 == 0.0)
    assert(got(2L)._2 < 0.6)
  }

  test("duplicatedWindowStats: planted shared/self-repeated windows; hashed == string-keyed") {
    val shared = "alpha beta gamma delta epsilon" // one 5-token window
    val docs = Seq(
      (1L, s"$shared zeta eta"),          // windows at pos 0..2; pos-0 shared with doc 2
      (2L, s"intro words here now too $shared"),
      (3L, "totally unique text with no repeats anywhere at all"),
      (4L, s"$shared and filler then $shared")  // self-repeat
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedWindowStats(docs, k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(3L)._2 == 0)                  // unique doc: no dup windows
    assert(got(1L)._2 >= 1 && got(2L)._2 >= 1)
    assert(got(4L)._2 >= 2)                  // both self-repeat occurrences count
    // windows_total = n - k + 1
    assert(got(1L)._1 == 3 && got(3L)._1 == 5)
    // the hashed production path and the string-keyed oracle path agree
    def rows(hashed: Boolean) =
      Dedup.duplicatedWindowStats(docs, k = 5, hashShingles = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    assert(rows(hashed = true) == rows(hashed = false))
  }

  test("substringDedup: keep-first removal, interval merge, short-doc wipe; hashed == string-keyed") {
    val shared = "alpha beta gamma delta epsilon" // duplicated 5-token window
    val docs = Seq(
      (1L, s"$shared zeta eta"),                  // canonical owner (pos 0)
      (2L, s"intro words here now too $shared"),  // loses [5,10)
      (3L, "totally unique text with no repeats anywhere at all"),
      (4L, s"$shared and filler then $shared"),   // loses [0,5) and [8,13)
      (5L, "one two three four five six seven"),  // canonical owner of a 6-run
      (6L, "pad one two three four five six"),    // overlapping windows merge to [1,7)
      (7L, "tiny pair"),                          // short-doc whole window, canonical
      (8L, "tiny pair")                           // exact short dup: wiped entirely
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((0L, 0L, 7L, s"$shared zeta eta")))
    assert(got(2L) == ((1L, 5L, 5L, "intro words here now too")))
    assert(got(3L)._1 == 0L && got(3L)._3 == 9L)
    assert(got(4L) == ((2L, 10L, 3L, "and filler then")))
    assert(got(5L) == ((0L, 0L, 7L, "one two three four five six seven")))
    assert(got(6L) == ((1L, 6L, 1L, "pad")))      // [1,6)+[2,7) merged
    assert(got(7L) == ((0L, 0L, 2L, "tiny pair")))
    assert(got(8L) == ((1L, 2L, 0L, "")))
    // the hashed production path and the string-keyed oracle path agree
    def rows(hashed: Boolean) =
      Dedup.substringDedup(docs, k = 5, hashShingles = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sortBy(_._1).toSeq
    assert(rows(hashed = true) == rows(hashed = false))
  }

  test("connectedComponents: chains, cliques, disjoint pairs → component-min reps") {
    // component {1,2,3,4} as a CHAIN (worst diameter for label propagation),
    // component {10,11,12} as a clique, isolated pair {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),          // chain 1-2-3-4, mixed order
      (10L, 11L), (11L, 12L), (10L, 12L),    // clique
      (21L, 20L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // a longer chain still converges within maxIters (log-ish rounds)
    val chain = (0 until 40).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val reps = Dedup.connectedComponents(chain).select("rep").distinct().collect()
    assert(reps.map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("connectedComponents: each iteration is its checkpoint's action alone; the fixpoint test rides it") {
    val chain = (0 until 40).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val t = TestSpark.traced(Dedup.connectedComponents(chain).collect())
    assert(t.result.map(_.getLong(1)).toSet == Set(0L))
    val actions = t.descriptions.values.toSeq.distinct.sorted
    assert(actions.forall(a => a.startsWith("localCheckpoint at Dedup.scala") ||
      a.startsWith("collect at OpsSpec.scala")), actions)
    // the SQL actions: the initial labels' checkpoint, one checkpoint per
    // iteration (a 41-node chain converges in a handful of pointer-doubling
    // rounds), and the collect
    val iterations = t.queries.size - 2
    assert(iterations >= 2 && iterations <= 8, s"$iterations iterations")
    // measured: 63 jobs in 8 checkpoints (AQE runs each shuffle stage as a
    // job of the checkpoint's action); the emptiness probe each iteration
    // ran as an action of its own is gone
    val loopJobs = t.jobsOf("localCheckpoint at Dedup.scala").size
    assert(loopJobs <= 9 * (iterations + 1), s"$loopJobs jobs in ${iterations + 1} checkpoints")
  }

  test("keepBest: argmax per cluster, min-id tiebreak, singletons kept") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L),   // cluster {1,2,3}: 2 wins on score
      (4L, 7L), (5L, 7L),                // cluster {4,5}: score tie → min id 4
      (6L, 1L)                           // singleton, always kept
    ).toDF("doc_id", "score")
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)).toDF("id", "rep")
    val got = Dedup.keepBest(docs, clusters, col("score"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      1L -> ((1L, 3L, false)), 2L -> ((1L, 3L, true)), 3L -> ((1L, 3L, false)),
      4L -> ((4L, 2L, true)), 5L -> ((4L, 2L, false)),
      6L -> ((6L, 1L, true))), got.toString)
    // exactly one survivor per cluster, invariant under repartitioning
    val rep = Dedup.keepBest(docs.repartition(5), clusters.repartition(3), col("score"))
    val perCluster = rep.filter(col("kept")).groupBy("cluster").count()
      .collect().map(_.getLong(1))
    assert(perCluster.forall(_ == 1L) && perCluster.length == 3)
  }

  test("releasable variants unpersist their internal caches on release()") {
    val docs = (0 until 30).map(i => (i.toLong, s"alpha beta gamma delta eps$i zeta eta"))
      .toDF("doc_id", "text")
    val probes = Seq((900L, "alpha beta gamma delta eps3 zeta eta")).toDF("doc_id", "text")
    val (contam, releaseC) = Dedup.ngramContaminationReleasable(docs, probes)
    contam.count()
    val vecs = (0 until 16).map(i =>
      (i.toLong, (0 until 8).map(j => ((i * 13 + j * 7) % 19 - 9).toFloat / 9f)))
      .toDF("vec_id", "embedding")
    val (kept, releaseS) = Dedup.semanticDedupReleasable(
      vecs, Similarity.ivfCentroids(vecs, 4), 0.95)
    kept.count()
    val before = spark.sparkContext.getPersistentRDDs.size
    releaseC(); releaseS()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before - 2,
      s"release handles must drop both internal caches ($before -> $after)")
  }

  test("ngram contamination flags exactly the docs sharing probe shingles") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),      // contains probe 5-gram
      (2L, "totally unrelated training content here now"),
      (3L, "alpha beta gamma delta epsilon eta"))       // shares the same 5-gram
      .toDF("doc_id", "text")
    val probes = Seq(
      (100L, "alpha beta gamma delta epsilon"),          // the benchmark 5-gram
      (101L, "nothing matching anything at all today")).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 1L), (3L, 1L, 1L)))
    // string-keyed (oracle) form agrees with the hashed default
    val gotStr = Dedup.ngramContamination(train, probes, k = 5, hashShingles = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotStr == got)
    // the skew guard drops shingles hot on the TRAIN side
    val gotCapped = Dedup.ngramContamination(train, probes, k = 5, maxShingleFreq = 1L)
      .collect()
    assert(gotCapped.isEmpty, "shingle shared by 2 train docs must be dropped at cap 1")
  }

  test("ngram jaccard: dup pair ~1.0, near-dup high, far pair absent") {
    val j = Dedup.ngramJaccard(docs, k = 3, threshold = 0.2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 5L)) == 1.0)
    assert(j((1L, 2L)) > 0.5)
    assert(!j.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding near-dups find the planted pair") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.2f)),
      (2L, Seq(0.9f, 0.05f, 0.0f, 0.21f)), // ~parallel to 1
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force top-k: self is rank 1 with cosine 1.0; k rows out") {
    val q = embs.filter($"vec_id" === 7)
      .select(transform($"embedding", x => x.cast("double"))).head().getSeq[Double](0)
    val top = Similarity.bruteForceTopK(embs, q, 10).collect()
    assert(top.length == 10)
    assert(top.head.getLong(0) == 7L && top.head.getDouble(1) == 1.0)
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("LSH buckets are deterministic and lshTopK keeps exact distances") {
    val dim = embs.select(size($"embedding")).head().getInt(0)
    val b1 = Similarity.lshBuckets(embs, 8, dim).select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b2 = Similarity.lshBuckets(embs, 8, dim).select("vec_id", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b1 == b2)
    val q = embs.filter($"vec_id" === 0)
      .select(transform($"embedding", x => x.cast("double"))).head().getSeq[Double](0)
    val ann = Similarity.lshTopK(Similarity.lshBuckets(embs, 8, dim), q, 5, 8).collect()
    assert(ann.nonEmpty && ann.head.getLong(0) == 0L) // query always in own bucket
    // exact re-rank: every reported cosine matches brute force for that id
    val brute = Similarity.bruteForceTopK(embs, q, embs.count().toInt).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach(r => assert(r.getDouble(1) == brute(r.getLong(0))))
  }

  test("IVF: deterministic assignment, self in probed cell, exact re-rank") {
    val cents = Similarity.ivfCentroids(embs, 8)
    assert(cents.map(_._1) == (0L until 8L))
    val assigned = Similarity.ivfAssign(embs, cents)
    // every vector lands in exactly one existing cell; assignment is stable
    val a1 = assigned.select("vec_id", "centroid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val a2 = Similarity.ivfAssign(embs, cents).select("vec_id", "centroid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a1 == a2)
    assert(a1.values.toSet.subsetOf(cents.map(_._1).toSet))
    // a centroid vector is assigned to itself (cosine 1.0 with itself)
    assert(a1(3L) == 3L)
    val q = embs.filter($"vec_id" === 5)
      .select(transform($"embedding", x => x.cast("double"))).head().getSeq[Double](0)
    val ann = Similarity.ivfTopK(assigned, q, cents, 5, 2).collect()
    // q = vec 5 = centroid 5, so its own cell is probed first and contains it
    assert(ann.nonEmpty && ann.head.getLong(0) == 5L && ann.head.getDouble(1) == 1.0)
    val brute = Similarity.bruteForceTopK(embs, q, embs.count().toInt).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach(r => assert(r.getDouble(1) == brute(r.getLong(0))))
  }

  test("ivfTrain: Lloyd refinement reduces mean assignment distance vs first-N") {
    def meanAssignDist(cents: Seq[(Long, Seq[Double])]): Double = {
      val assigned = Similarity.ivfAssign(embs, cents)
      val byId = cents.toMap
      assigned.select($"vec_id", $"centroid",
        transform($"embedding", x => x.cast("double")).as("v"))
        .collect().map { r =>
          val v = r.getSeq[Double](2)
          val c = byId(r.getLong(1))
          val dot = v.zip(c).map { case (a, b) => a * b }.sum
          val nv = math.sqrt(v.map(x => x * x).sum)
          val nc = math.sqrt(c.map(x => x * x).sum)
          1.0 - dot / (nv * nc)
        }.sum / embs.count()
    }
    val init = Similarity.ivfCentroids(embs, 8)
    val refined = Similarity.ivfTrain(embs, 8, iters = 2)
    assert(refined.map(_._1) == init.map(_._1), "cell ids stable")
    val d0 = meanAssignDist(init)
    val d2 = meanAssignDist(refined)
    assert(d2 <= d0 + 1e-9,
      s"refinement must not worsen mean assignment distance: $d0 -> $d2")
    assert(d2 < d0, s"refinement should strictly improve on this corpus: $d0 -> $d2")
    // refinement is deterministic (rounded means): same result twice
    assert(Similarity.ivfTrain(embs, 8, iters = 2) == refined)
  }

  test("semanticDedup: exact copy in the same cell is dropped, min id survives") {
    // clone vector 7 as a new max-id row: same direction → same cell,
    // cosine 1.0 → the clone (higher id) must be dropped, 7 kept
    val maxId = embs.agg(max($"vec_id")).head().getLong(0)
    val clone = embs.filter($"vec_id" === 7).withColumn("vec_id", lit(maxId + 1))
    val withClone = embs.unionByName(clone)
    val cents = Similarity.ivfTrain(withClone, 8, iters = 1)
    val kept = Dedup.semanticDedup(withClone, cents, threshold = 0.995)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.contains(7L) && !kept.contains(maxId + 1),
      s"clone must be dropped, original kept: ${kept.keySet.toSeq.sorted.takeRight(3)}")
    // every kept doc's cell matches its assignment; result is deterministic
    val again = Dedup.semanticDedup(withClone, cents, threshold = 0.995)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == kept)
    // lowering the threshold only shrinks the kept set
    val keptLow = Dedup.semanticDedup(withClone, cents, threshold = 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(keptLow.subsetOf(kept.keySet))
  }

  test("topTerms ranks rarer terms above common ones, deterministic ties") {
    val docs = Seq(
      (1L, "common rare1 rare1 common common"),
      (2L, "common zebra zebra"),
      (3L, "common alpha beta")).toDF("doc_id", "text")
    val got = TextOps.topTerms(docs, 2, 3)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> r.getString(1)).toMap
    // doc 1: rare1 df=1, tf=2 → score 2*4/2=4.0 beats common (df=3, tf=3 →
    // 3*4/4=3.0); doc 3: alpha/beta tie (score 2.0 each) → term asc
    assert(got((1L, 1)) == "rare1" && got((1L, 2)) == "common")
    assert(got((2L, 1)) == "zebra")
    assert(got((3L, 1)) == "alpha" && got((3L, 2)) == "beta")
  }

  test("lineDedup removes corpus-frequent lines, keeps order, drops empty docs") {
    val docs = Seq(
      (1L, "boiler\nalpha one\nboiler\nbeta two"),
      (2L, "boiler\ngamma three"),
      (3L, "boiler\nalpha one"),
      (4L, "boiler")).toDF("doc_id", "text")
    // "boiler" appears 4x (> 2) → removed everywhere; "alpha one" 2x (≤ 2)
    // → kept; doc 4 becomes empty and drops out
    val got = TextOps.lineDedup(docs, maxLineFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "alpha one\nbeta two",
      2L -> "gamma three",
      3L -> "alpha one"))
  }

  test("lineDedup hashed-key default == string-keyed oracle variant") {
    val docs = (0 until 60).map { i =>
      val boiler = "accept all cookies to continue browsing this site"
      val extra = if (i % 3 == 0) "subscribe to our newsletter today\n" else ""
      (i.toLong, s"$boiler\n${extra}unique line $i\ntail ${i % 7}")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(TextOps.lineDedup(docs, maxLineFreq = 10)) ==
      rows(TextOps.lineDedup(docs, maxLineFreq = 10, hashLines = false)))
  }

  test("lineDedup and redactPii are idempotent; topTerms invariants hold") {
    // lineDedup: after removal every surviving line is at or under the
    // frequency cap, so a second pass is a no-op
    val docs = (0 until 40).map(i =>
      (i.toLong, s"boiler\nuniq $i line\n${if (i % 2 == 0) "half line\n" else ""}tail $i"))
      .toDF("doc_id", "text")
    val once = TextOps.lineDedup(docs, maxLineFreq = 10)
    val twice = TextOps.lineDedup(once, maxLineFreq = 10)
    assert(twice.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      once.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
    // redact: placeholders contain no redactable shapes, so re-redacting
    // changes nothing
    val texts = Seq("a@b.io x 1.2.3.4 +123456789 done", "no pii here",
      "mix a@b.io +1 415-555-2671 and 10.0.0.7").toDF("text")
    val r1 = texts.select(TextOps.redactPii($"text").as("t"))
    val r2 = r1.select(TextOps.redactPii($"t").as("t"))
    assert(r1.collect().map(_.getString(0)).toSeq == r2.collect().map(_.getString(0)).toSeq)
    // topTerms: ranks 1..k dense per doc, scores non-increasing in rank
    val tt = TextOps.topTerms(docs, 3, 40).collect()
      .map(r => (r.getLong(0), r.getInt(4), r.getDouble(3)))
    tt.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to byRank.length).toSeq, "dense ranks")
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sorted.reverse.toSeq,
        "scores non-increasing in rank")
    }
  }

  test("redactPii replaces emails, IPv4s and phones with typed tokens") {
    val rows = Seq(
      ("write to alice.smith+spam@sub.example.co.uk today",
        "write to <EMAIL> today"),
      ("server at 192.168.0.1 and 10.255.3.77:8080 up",
        "server at <IP> and <IP>:8080 up"),
      ("call +1 415-555-2671 now", "call <PHONE> now"),
      ("v1.2.3 released, order #12345", "v1.2.3 released, order #12345"),
      ("mail a@b.io from 8.8.8.8 or +442071838750",
        "mail <EMAIL> from <IP> or <PHONE>"))
    val got = rows.toDF("text", "want")
      .select(TextOps.redactPii($"text").as("got"), $"want").collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got '${r.getString(0)}', want '${r.getString(1)}'"))
  }

  test("multi-query exact top-k equals the single-query path per query") {
    val queries = embs.filter($"vec_id" < 4)
    val multi = Similarity.bruteForceTopKMulti(embs, queries, 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    for (qid <- 0L until 4L) {
      val q = embs.filter($"vec_id" === qid)
        .select(transform($"embedding", x => x.cast("double"))).head().getSeq[Double](0)
      val single = Similarity.bruteForceTopK(embs, q, 5).collect()
      assert(single.zipWithIndex.forall { case (r, i) =>
        multi((qid, r.getLong(0))) == ((r.getDouble(1), i + 1))
      }, s"query $qid: multi disagrees with single")
    }
    // every query's own vector is its rank-1 with cosine 1.0
    for (qid <- 0L until 4L) assert(multi((qid, qid)) == ((1.0, 1)))
  }

  test("multi-query LSH top-k equals the single-query path; recall@k scores overlap") {
    val dim = embs.select(size($"embedding")).head().getInt(0)
    val bucketed = Similarity.lshBuckets(embs, 8, dim)
    val queries = embs.filter($"vec_id" < 4)
    val multi = Similarity.lshTopKMulti(bucketed, queries, 5, 8, dim)
    val multiSets = multi.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSet }
    for (qid <- 0L until 4L) {
      val q = embs.filter($"vec_id" === qid)
        .select(transform($"embedding", x => x.cast("double"))).head().getSeq[Double](0)
      val single = Similarity.lshTopK(bucketed, q, 5, 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(multiSets(qid) == single, s"query $qid: LSH multi != single")
    }
    // recall of the exact path against itself is 1.0 for every query;
    // recall of LSH against exact is in [0, 1] and self-match guarantees > 0
    val exact = Similarity.bruteForceTopKMulti(embs, queries, 5)
    val self = Similarity.recallAtK(exact, exact, 5).collect()
    assert(self.length == 4 && self.forall(r => r.getDouble(2) == 1.0))
    val rec = Similarity.recallAtK(exact, multi, 5).collect()
    assert(rec.length == 4 &&
      rec.forall(r => r.getLong(1) >= 1L && r.getLong(1) <= 5L))
  }
}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("linearScoreTicks kernel equals the declarative twin and a hand replay") {
    val w = Seq.tabulate(16)(i => (i * 37L % 1000L) - 500L)
    val bias = 250L
    val df = Seq("the quick brown fox", "a a a", "Zebra!  mixed CASE  ", "x")
      .toDF("text")
    val both = df.select(
      graft.ops.TextOps.linearScoreTicks($"text", w, bias).as("k"),
      graft.ops.TextOps.linearScoreTicksDeclarative($"text", w, bias).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(both.forall { case (k, d) => k == d }, both.toSeq.toString)
    // independent replay of the first row
    def ph(t: String): Long = {
      val p = t + "xx"
      (p(0).toInt * 961 + p(1).toInt * 31 + p(2).toInt + t.length * 7919).toLong
    }
    val expect = bias + "the quick brown fox".split("\\s+")
      .map(t => w(java.lang.Math.floorMod(ph(t), 16L).toInt)).sum
    assert(both.head._1 == expect)
    // the filter composes with zero exchange
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ex = df.filter(graft.ops.TextOps.linearScoreTicks($"text", w, bias) >= 0)
      .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
    assert(ex.isEmpty)
  }

  test("bpeTrain equals a sequential reference on a corpus with ties and overlaps") {
    def refBpe(corpus: Seq[String], nMerges: Int): Seq[(Int, String, String, Long)] = {
      var vocab: Seq[(Vector[String], Long)] = corpus
        .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).toSeq
        .map { case (w, xs) => w.map(_.toString).toVector -> xs.size.toLong }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
      for (rank <- 1 to nMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        for ((syms, f) <- vocab; i <- 0 until syms.size - 1)
          counts((syms(i), syms(i + 1))) += f
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.toSeq
            .sortBy { case ((pl, pr), pc) => (-pc, pl, pr) }.head
          out += ((rank, l, r, c))
          vocab = vocab.map { case (syms, f) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == l && syms(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += syms(i); i += 1 }
            }
            (b.result(), f)
          }
        }
      }
      out.toSeq
    }
    // overlapping repeats ("aaaa"), cross-word reuse, ties, 1-char words
    val corpus = Seq(
      "low lower lowest low low", "aaaa aa a baa", "slow slower low",
      "w w w lo lo")
    val df = corpus.toDF("text")
    val got = graft.ops.TextOps.bpeTrain(df, nMerges = 6)
    val expect = refBpe(corpus, 6)
    assert(got == expect, s"got $got expect $expect")
    // candidates row 1 is the first selected merge
    val cand = graft.ops.TextOps.bpePairCandidates(df, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3))).sortBy(_._4)
    assert((cand.head._1, cand.head._2, cand.head._3) ==
      (expect.head._2, expect.head._3, expect.head._4))
  }

  test("bpeSegment replays merges in rank order, map-side") {
    val df = Seq("low slow glow o").toDF("text")
    val got = df.select(graft.ops.TextOps.bpeSegment($"text",
      Seq(("l", "o"), ("lo", "w"))).as("t"))
      .head().getSeq[String](0)
    assert(got == Seq("low", "s", "low", "g", "low", "o"), got.toString)
    // greedy-leftmost non-overlap: "aaa" under (a,a) -> [aa, a]
    val aa = Seq("aaa").toDF("text")
      .select(graft.ops.TextOps.bpeSegment($"text", Seq(("a", "a"))).as("t"))
      .head().getSeq[String](0)
    assert(aa == Seq("aa", "a"), aa.toString)
  }

  test("langId picks the dominant lexicon, und for no hits, tie→first") {
    val df = Seq(
      "the cat is in the house and it is fine",   // en
      "der hund ist nicht zu haus und das ist ok", // de
      "xyzzy qwerty asdf",                         // und
      "the der"                                    // tie en/de → en (first)
    ).toDF("text").select(TextOps.langId($"text").as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "de", "und", "en"))
  }

  test("quality features are bounded and deterministic") {
    val out = TextOps.qualityFeatures(
      Seq((1L, "the quick, brown fox! is very lazy today")).toDF("doc_id", "text"))
      .collect()(0)
    assert(out.getAs[Long]("n_tokens") == 8)
    assert(out.getAs[Double]("punct_ratio") > 0 && out.getAs[Double]("punct_ratio") < 0.2)
    assert(out.getAs[Double]("stopword_ratio") == 0.25) // the, is
    val q = out.getAs[Double]("quality_score")
    assert(q > 0 && q <= 1)
  }

  test("winnowFingerprints: matches a reference fold; coverage theorem holds") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y"),                                       // < k tokens → whole-text shingle
      (3L, "a b c a b c a b c a b c"),                   // ties in every window
      (4L, "p q r s t u a b c d e f g h z1 z2 z3"))      // shares a run with doc 1
    def brute(text: String, k: Int, w: Int): Set[(Long, Long)] = {
      val toks = text.toLowerCase.split("\\s+").toSeq
      val shingles = if (toks.size >= k) toks.sliding(k).map(_.mkString(" ")).toSeq
                     else Seq(toks.mkString(" "))
      def ph(s: String): Long = {
        val p = s + "xx"
        (p(0).toLong * 961 + p(1).toLong * 31 + p(2).toLong +
          s.length.toLong * 7919) % 2147483647L
      }
      val hs = shingles.map(ph)
      val nWin = math.max(1, hs.size - (w - 1))
      (0 until nWin).map { i =>
        val win = hs.slice(i, math.min(i + w, hs.size))
        val mn = win.min
        ((i + win.indexOf(mn)).toLong, mn)
      }.toSet
    }
    val got = TextOps.winnowFingerprints(corpus.toDF("doc_id", "text"),
        k = 3, w = 4, hash = TextOps.portableHash)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    corpus.foreach { case (id, text) =>
      assert(got(id) == brute(text, 3, 4), s"doc $id")
    }
    // coverage: docs 1 and 4 share the run "a b c d e f g h" (8 ≥ w+k−1 = 6)
    assert((got(1L).map(_._2) & got(4L).map(_._2)).nonEmpty)
    // density: selections are a strict subset of windows on a long doc
    assert(got(1L).size < 8) // doc 1 has 8 shingles
  }

  test("fingerprints: whitespace/case-invariant md5; rolling is order-sensitive") {
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "world hello")
    ).toDF("doc_id", "text")
      .select($"doc_id", TextOps.fingerprint($"text").as("fp"),
        TextOps.rollingFingerprint($"text").as("rfp"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(1L)._1 == rows(2L)._1) // md5 normalizes case+ws
    assert(rows(2L)._1 != rows(3L)._1)
    assert(rows(2L)._2 != rows(3L)._2) // rolling hash sees order
  }

  test("rollingFingerprint kernel == declarative HOF fold (incl. edge tokens)") {
    // adversarial shapes: empty text (split -> [""]), 1/2/3-char tokens (the
    // "xx" padding branches), >8 tokens (weight wrap), multi-byte UTF-8
    // (ascii = SIGNED first byte of the char), mixed whitespace runs
    val texts = Seq(
      "", "a", "ab", "abc", "abcd",
      "the quick brown fox jumps over the lazy dog again and again",
      "café naïve über straße 中文 token",
      "x\ty\nz  w", "  leading and trailing  ",
      (1 to 40).map(i => s"tok$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = df.select(
      TextOps.rollingFingerprint($"text").as("kernel"),
      TextOps.rollingFingerprintDeclarative($"text").as("decl")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // and the kernel stays inside whole-stage codegen (range source: a
    // local Seq collapses to a pre-evaluated LocalTableScan)
    val plan = spark.range(10)
      .select(concat(lit("a b c "), $"id".cast("string")).as("text"))
      .select(TextOps.rollingFingerprint($"text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("token counts: bpe-ish splits punctuation, whitespace does not") {
    val out = Seq((1L, "don't stop, believing 123!")).toDF("doc_id", "text")
      .select(size(split($"text", "\\s+")).as("ws"),
        TextOps.bpeishTokenCount($"text").as("bpe")).collect()(0)
    assert(out.getInt(0) == 4)
    assert(out.getInt(1) == 8) // don ' t | stop , | believing | 123 ! => 8
  }

  test("intraDocLineDedup keeps the FIRST occurrence, preserves order, zero shuffle") {
    val out = Seq(
      "nav\nbody one\nnav\nbody two\nnav",      // interleaved repeats
      "a\na\na",                                 // all same
      "only line",                               // nothing to do
      "x\ny\nx\ny"                               // pairwise repeats
    ).toDF("text").select(TextOps.intraDocLineDedup($"text").as("t"))
    assert(out.collect().map(_.getString(0)).toSeq ==
      Seq("nav\nbody one\nbody two", "a", "only line", "x\ny"))
    // map-side only: no Exchange anywhere in the plan
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextOps.intraDocLineDedup($"text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("domain quality: integer tick rollup is exact; filter drops whole domains") {
    // goodhost docs score high (stopword-rich, long); badhost docs score low
    val good = "the cat is in the house and it is fine for the dog to stay " * 4
    val bad = "!!!!! ..... ;;;;; :::::"
    val docs = (0L until 6L).map(i => (i, good, "goodhost")) ++
      (6L until 12L).map(i => (i, bad, "badhost"))
    val df = docs.toDF("doc_id", "text", "source")
    val roll = TextOps.domainQualityRollup(df)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(roll("goodhost")._1 == 6L && roll("badhost")._1 == 6L)
    // identical docs ⇒ sum_ticks divisible by the count (exact integers)
    assert(roll("goodhost")._2 % 6 == 0 && roll("badhost")._2 % 6 == 0)
    assert(roll("goodhost")._2 > roll("badhost")._2)
    // threshold between the two means keeps exactly the good domain
    val midTicks = (roll("goodhost")._2 + roll("badhost")._2) / 12.0 / 10000.0
    val kept = TextOps.domainQualityFilter(df, midTicks)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 6L).toSet)
    // boundary is inclusive: threshold exactly at the good mean still keeps it
    val atMean = TextOps.domainQualityFilter(df, roll("goodhost")._2 / 6.0 / 10000.0)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(atMean == Set("goodhost"))
  }

  test("chunkDocuments: stride/overlap hand-check, short docs, zero shuffle") {
    val doc = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val df = Seq((1L, doc), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextOps.chunkDocuments(df, chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3))).toMap
    // stride 3: [t1..t4], [t4..t7], [t7..t10] — exactly covers, overlap 1
    assert(got((1L, 0)) == (("t1 t2 t3 t4", 4L)))
    assert(got((1L, 1)) == (("t4 t5 t6 t7", 4L)))
    assert(got((1L, 2)) == (("t7 t8 t9 t10", 4L)))
    assert(!got.contains((1L, 3)))
    // docs shorter than one chunk come through whole
    assert(got((2L, 0)) == (("a b", 2L)) && got((3L, 0)) == (("solo", 1L)))
    // every token index appears in some chunk (coverage, no gaps)
    val covered = got.collect { case ((1L, _), (text, _)) => text.split(" ") }
      .flatten.toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    // map-side only: no Exchange in the plan
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .transform(d => TextOps.chunkDocuments(d, 32, 8))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("lmSurprisal: hand-computed integer ticks; count-1 vocab cut is a no-op") {
    // corpus "a a b" / "a c": total 5, counts a=3 b=1 c=1
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val tickA = math.floor(-math.log(3.0 / 5) * 1e6 + 0.5).toLong // 510826
    val tickRare = math.floor(math.log(5.0) * 1e6 + 0.5).toLong   // 1609438
    val got = TextOps.lmSurprisal(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((3L, 2 * tickA + tickRare)))
    assert(got(2L) == ((2L, tickA + tickRare)))
    // cutting count-1 tokens cannot change anything: their in-vocab tick
    // −ln(1/total) IS the OOV floor ln(total)
    val cut = TextOps.lmSurprisal(df, minTokenFreq = 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cut == got)
  }

  test("perplexityBuckets: common-token docs head, rare-token docs tail; boundary exact") {
    // 8 docs of pure filler + 1 doc of singletons: filler docs sit BELOW
    // the corpus mean (head), the singleton doc far above (tail)
    val docs = (0L until 8L).map(i => (i, "w w w w w w w w")) :+
      (8L, "q0 q1 q2 q3 q4 q5 q6 q7")
    val out = TextOps.perplexityBuckets(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert((0L until 8L).forall(out(_) == "head"), out.toString)
    assert(out(8L) == "tail")
    // identical docs all land in the same bucket (exact integer compare —
    // no float-mean ties straddling the boundary)
    assert(out.filter(_._1 < 8).values.toSet.size == 1)
  }
}

class EventOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ev(user: Long, us: Long) =
    (user, new java.sql.Timestamp(us / 1000) match {
      case t => { t.setNanos(((us % 1000000) * 1000).toInt); t }
    })

  test("sessionize: exact-gap extends the session; gap+1µs starts a new one") {
    val gapUs = 10L * 1000000
    val rows = Seq(
      ev(1L, 0), ev(1L, gapUs - 1),          // same session (gap − 1 µs)
      ev(1L, 2 * gapUs - 1),                 // exactly gap after prev → MERGES
      ev(1L, 3 * gapUs),                     // gap + 1 µs after prev → NEW
      ev(2L, 5)                              // other user, own session
    ).toDF("user_id", "ts")
    val got = EventOps.sessionize(rows, gapSeconds = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0L, 2 * gapUs - 1, 3L),
      (1L, 3 * gapUs, 3 * gapUs, 1L),
      (2L, 5L, 5L, 1L)), got.toString)
  }

  test("calendarHistogram buckets on ISO-week/month boundaries, not epoch multiples") {
    // 1970-01-01 is a THURSDAY: the ISO week containing it starts Monday
    // 1969-12-29 (-259200s), which no epoch-multiple window can produce
    val day = 86400000000L
    val rows = Seq(
      (ev(1L, 0)._2, "a", 1.0),              // Thu 1970-01-01
      (ev(1L, 3 * day)._2, "a", 2.0),        // Sun 1970-01-04, same ISO week
      (ev(1L, 4 * day)._2, "a", 4.0),        // Mon 1970-01-05, NEXT ISO week
      (ev(1L, 40 * day)._2, "b", 0.5)        // 1970-02-10
    ).toDF("ts", "event_type", "value")
    val wk = EventOps.calendarHistogram(rows, "week")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(wk == Set(
      (-3 * day, "a", 2L, 300L),  // week of Mon 1969-12-29: Thu+Sun, 100+200 cents
      (4 * day, "a", 1L, 400L),
      (39 * day, "b", 1L, 50L)), wk.toString) // week of Mon 1970-02-09
    val mo = EventOps.calendarHistogram(rows, "month")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(mo == Set((0L, "a", 3L), (31 * day, "b", 1L)), mo.toString)
    // bogus unit rejected
    intercept[IllegalArgumentException] {
      EventOps.calendarHistogram(rows, "fortnight")
    }
  }

  test("sessionize is invariant under input partitioning and ordering") {
    val rows = (0L until 400L)
      .map(i => ev(i % 7, i * 997 * 1000000 % 86400000000L)).toDF("user_id", "ts")
    val a = EventOps.sessionize(rows, 1800).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = EventOps.sessionize(rows.orderBy(rand(7)).repartition(13), 1800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
    // per-user event conservation
    val n = EventOps.sessionize(rows, 1800)
      .groupBy("user_id").sum("n_events").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 400L).groupBy(_ % 7).map { case (u, xs) => u -> xs.size.toLong }
    assert(n == want)
  }

  private def evt(user: Long, us: Long, et: String) = {
    val t = new java.sql.Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    (user, t, et)
  }

  test("funnel: strict ordering, same-µs never advances, greedy earliest step time") {
    val rows = Seq(
      // user 1: full conversion in order
      evt(1L, 10, "view"), evt(1L, 20, "click"), evt(1L, 30, "purchase"),
      // user 2: click BEFORE view → stops at view
      evt(2L, 10, "click"), evt(2L, 20, "view"),
      // user 3: click at the SAME µs as the view → tie never advances
      evt(3L, 10, "view"), evt(3L, 10, "click"), evt(3L, 30, "purchase"),
      // user 4: greedy uses the EARLIEST view (t=5), so the t=8 click counts
      evt(4L, 5, "view"), evt(4L, 8, "click"), evt(4L, 100, "view"),
      // user 5: no step-1 event at all
      evt(5L, 10, "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnel(rows, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, "view") -> 4L, (2L, "click") -> 2L,
      (3L, "purchase") -> 1L), got.toString)
  }

  test("retention: cohorts from first-event day, offset cells exact") {
    val day = 86400000000L
    val rows = Seq(
      evt(1L, 0, "view"), evt(1L, day + 5, "view"), evt(1L, 3 * day, "view"),
      evt(2L, day, "view"), evt(2L, day + 10, "view"), // same-day repeat → one cell
      evt(3L, 0, "view")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.retention(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L), got.toString)
  }

  test("jsonPropStats: extracts $.k as long; missing key excluded from count") {
    val rows = Seq(
      (1L, "click", """{"k": 3}"""), (2L, "click", """{"k": 7}"""),
      (3L, "click", """{"other": 1}"""), (4L, "view", """{"k": 10}""")
    ).toDF("event_id", "event_type", "props")
    val got = EventOps.jsonPropStats(rows)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map("click" -> ((2L, 10L, 3L, 7L)),
      "view" -> ((1L, 10L, 10L, 10L))), got.toString)
  }

  test("sessionizeBucketed property: equals sessionize on random logs with straddling sessions") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // gap 60 s, bucket 120 s, times over 40 min → plenty of sessions
    // crossing (and chaining through) bucket boundaries
    val gen = Gen.listOfN(500, for {
      u <- Gen.chooseNum(0L, 10L)
      us <- Gen.chooseNum(0L, 2400000000L)
    } yield (u, us))
    for (seed <- Seq(2L, 41L, 77L)) {
      val evs = gen.apply(Gen.Parameters.default, Seed(seed)).get.distinct
      val df = evs.map { case (u, us) => ev(u, us) }.toDF("user_id", "ts")
      def set(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val plain = set(EventOps.sessionize(df, gapSeconds = 60L))
      val bucketed = set(EventOps.sessionizeBucketed(df, gapSeconds = 60L,
        bucketSeconds = 120L))
      assert(bucketed == plain, s"seed=$seed")
      // the test is only meaningful if cross-bucket merges really happened:
      // strictly more raw pass-1 (user, bucket) intervals than final sessions
      val rawIntervals = df
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("b", expr("unix_micros(ts) div 120000000"))
        .groupBy(col("user_id"), col("b"),
          session_window(col("ts"), "60 seconds"))
        .agg(count(lit(1))).count()
      assert(rawIntervals > plain.size,
        s"seed=$seed: no session straddled a bucket boundary ($rawIntervals raw vs ${plain.size})")
    }
  }

  test("sessionizeBucketed: a session chaining through 3+ buckets merges fully") {
    // one event every 50 s for 10 min (gap 60 s, bucket 120 s): a single
    // session spanning 5 buckets
    val rows = (0 until 13).map(i => ev(1L, i * 50000000L)).toDF("user_id", "ts")
    val got = EventOps.sessionizeBucketed(rows, gapSeconds = 60L, bucketSeconds = 120L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 0L, 600000000L, 13L)), got.mkString(","))
  }

  test("timeWindowCounts: epoch-aligned, boundary event opens the NEXT window") {
    val rows = Seq(
      (evt(1L, 5000000L, "click")._2, "click", 0.335),      // w0; cents from the same IEEE expr below
      (evt(1L, 9999999L, "click")._2, "click", 1.0),        // w0 last µs
      (evt(1L, 10000000L, "click")._2, "click", 2.0),       // exactly boundary → w1
      (evt(1L, 10000001L, "view")._2, "view", 0.5)          // w1
    ).toDF("ts", "event_type", "value")
    val got = EventOps.timeWindowCounts(rows, windowSeconds = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val c0 = math.floor(0.335 * 100 + 0.5).toLong // exact IEEE value, same both engines
    assert(got == Map(
      (0L, "click") -> ((2L, c0 + 100L)),
      (10000000L, "click") -> ((1L, 200L)),
      (10000000L, "view") -> ((1L, 50L))), got.toString)
  }

  test("hoppingWindowCounts: each event in window/slide windows, edges clip") {
    val rows = Seq(
      (evt(1L, 5000000L, "click")._2, "click", 1.0),   // starts 5s, 0s
      (evt(1L, 10000000L, "click")._2, "click", 2.0),  // starts 10s, 5s (0s excluded: 0+10 !> 10)
      (evt(1L, 12000000L, "view")._2, "view", 0.5)     // starts 10s, 5s
    ).toDF("ts", "event_type", "value")
    val got = EventOps.hoppingWindowCounts(rows, windowSeconds = 10L, slideSeconds = 5L)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      (0L, "click") -> ((1L, 100L)),
      (5000000L, "click") -> ((2L, 300L)),
      (10000000L, "click") -> ((1L, 200L)),
      (5000000L, "view") -> ((1L, 50L)),
      (10000000L, "view") -> ((1L, 50L))), got.toString)
    // tumbling parity: slide == window reduces to timeWindowCounts exactly
    val tumble = EventOps.timeWindowCounts(rows, windowSeconds = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val hopSame = EventOps.hoppingWindowCounts(rows, windowSeconds = 10L, slideSeconds = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(hopSame == tumble)
  }

  test("funnel property: equals the sequential min-filter definition on random logs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val steps = Seq("view", "click", "purchase")
    val evsGen = Gen.listOfN(600, for {
      u <- Gen.chooseNum(0L, 25L)
      us <- Gen.chooseNum(0L, 400L) // dense range → many exact ties
      et <- Gen.oneOf("view", "click", "purchase", "error", "signup")
    } yield (u, us, et))
    for (seed <- Seq(3L, 17L, 91L)) {
      val evs = evsGen.apply(Gen.Parameters.default, Seed(seed)).get
      val df = evs.map { case (u, us, et) => evt(u, us, et) }
        .toDF("user_id", "ts", "event_type")
      val got = EventOps.funnel(df, steps)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // reference: t_i = min time of step i strictly after t_{i-1}
      val perUser = evs.groupBy(_._1)
      val reached = perUser.values.map { es =>
        var t = Long.MinValue; var done = 0
        for (s <- steps) {
          val cand = es.collect { case (_, us, et) if et == s && us > t => us }
          if (done == steps.indexOf(s) && cand.nonEmpty) { done += 1; t = cand.min }
        }
        done
      }
      val expect = (1 to steps.length)
        .map(i => i.toLong -> reached.count(_ >= i).toLong)
        .filter(_._2 > 0).toMap
      assert(got == expect, s"seed=$seed got=$got expect=$expect")
    }
  }

  test("sessionize property: equals a reference gap-split fold on random logs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(400, for {
      u <- Gen.chooseNum(0L, 12L)
      us <- Gen.chooseNum(0L, 3000000000L) // 0..50 min in µs
    } yield (u, us))
    for (seed <- Seq(5L, 23L)) {
      // distinct (user, us): duplicate timestamps count as extra events in
      // both engines, but dedup keeps the reference fold simple
      val evs = gen.apply(Gen.Parameters.default, Seed(seed)).get.distinct
      val df = evs.map { case (u, us) => ev(u, us) }.toDF("user_id", "ts")
      val gapUs = 60000000L // 60 s
      val got = EventOps.sessionize(df, gapSeconds = 60L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val expect = evs.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(_._2).sorted
        // split AFTER any gap strictly greater than gapUs (exact gap merges)
        val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head > gapUs) List(t) :: acc
          else (t :: acc.head) :: acc.tail
        }
        sessions.map(s => (u, s.min, s.max, s.size.toLong))
      }.toSet
      assert(got == expect, s"seed=$seed")
    }
  }

  test("chunkDocuments property: full coverage; overlap=0 reconstructs the doc") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val shapes = Gen.listOfN(80, for {
      id <- Gen.chooseNum(0L, 9999L)
      n <- Gen.chooseNum(1, 90)
    } yield (id, n)).apply(Gen.Parameters.default, Seed(7L)).get.distinctBy(_._1)
    val docs = shapes.map { case (id, n) =>
      (id, (0 until n).map(j => s"t${id}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    // overlap=0: concatenating chunks in order reconstructs the token stream
    val flat = TextOps.chunkDocuments(docs, chunkTokens = 7, overlapTokens = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).map { case (id, cs) =>
        id -> cs.sortBy(_._2).map(_._3).mkString(" ")
      }
    assert(flat == shapes.map { case (id, n) =>
      id -> (0 until n).map(j => s"t${id}_$j").mkString(" ") }.toMap)
    // with overlap: every token of every doc appears in some chunk, and
    // every chunk is ≤ chunkTokens long
    val over = TextOps.chunkDocuments(docs, chunkTokens = 7, overlapTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(over.forall(_._3 <= 7))
    val covered = over.groupBy(_._1).map { case (id, cs) =>
      id -> cs.flatMap(_._2.split(" ")).toSet }
    assert(covered == shapes.map { case (id, n) =>
      id -> (0 until n).map(j => s"t${id}_$j").toSet }.toMap)
  }

  test("valueQuantiles: lower median/p90 are real elements at integer ranks") {
    // group a: cents 100..1000 (n=10) → median rank (10+1) div 2 = 5 → 500;
    // p90 rank (90+9) div 10 = 9 → 900. group b: n=3 → median rank 2, p90 rank 3
    val rows = (1 to 10).map(i => ("a", i * 1.0, i.toLong)) ++
      Seq(("b", 5.0, 11L), ("b", 1.0, 12L), ("b", 9.0, 13L))
    val df = rows.toDF("event_type", "value", "event_id")
    val got = EventOps.valueQuantiles(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map("a" -> ((10L, 500L, 900L)),
      "b" -> ((3L, 500L, 900L))), got.toString)
  }

  test("valueQuantiles histogram path equals the sorted form") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(400, for {
      et <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(0, 5000) // duplicate-heavy cents on purpose
    } yield (et, v / 100.0))
    for (seed <- Seq(11L, 29L, 63L)) {
      val rows = gen.apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex.map { case ((et, v), i) => (et, v, i.toLong) }
      val df = rows.toDF("event_type", "value", "event_id")
      def set(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val sorted = set(EventOps.valueQuantiles(df))
      assert(set(EventOps.valueQuantilesHistogram(df)) == sorted, s"seed=$seed")
    }
  }

  test("funnelBucketed property: equals funnel on random logs spanning buckets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val steps = Seq("view", "click", "purchase")
    // bucket = 100 µs over a 0..2000 µs range: step sequences routinely
    // thread through many buckets, with dense exact-tie timestamps
    val evsGen = Gen.listOfN(600, for {
      u <- Gen.chooseNum(0L, 25L)
      us <- Gen.chooseNum(0L, 2000L)
      et <- Gen.oneOf("view", "click", "purchase", "error", "signup")
    } yield (u, us, et))
    for (seed <- Seq(7L, 19L, 83L)) {
      val evs = evsGen.apply(Gen.Parameters.default, Seed(seed)).get
      val df = evs.map { case (u, us, et) => evt(u, us, et) }
        .toDF("user_id", "ts", "event_type")
      def m(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val plain = m(EventOps.funnel(df, steps))
      // bucketSeconds is whole seconds, so the µs-dense log would land in
      // ONE bucket; re-time each µs to a second (monotone, tie-preserving)
      // and bucket at 100 s — sequences then span many buckets
      val dfSec = evs.map { case (u, us, et) => evt(u, us * 1000000L, et) }
        .toDF("user_id", "ts", "event_type")
      val plainSec = m(EventOps.funnel(dfSec, steps))
      val bucketedSec = m(EventOps.funnelBucketed(dfSec, steps, bucketSeconds = 100L))
      assert(bucketedSec == plainSec, s"seed=$seed")
      // sanity: second-scaling preserves the funnel (pure monotone re-time)
      assert(plainSec == plain, s"seed=$seed retime changed the funnel")
    }
  }

  test("funnelBucketed: one step per bucket threads through the boundary merges") {
    // view@10s, click@110s, purchase@210s with 100 s buckets: every
    // transition crosses a bucket boundary; and a same-µs tie inside a
    // later bucket must still never advance
    val rows = Seq(
      evt(1L, 10000000L, "view"), evt(1L, 110000000L, "click"),
      evt(1L, 210000000L, "purchase"),
      evt(2L, 10000000L, "view"),
      evt(2L, 110000000L, "click"), evt(2L, 110000000L, "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnelBucketed(rows, Seq("view", "click", "purchase"),
      bucketSeconds = 100L)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, "view") -> 2L, (2L, "click") -> 2L,
      (3L, "purchase") -> 1L), got.toString)
  }

  test("funnelBucketed equals funnel on a hot user") {
    val steps = Seq("view", "click", "purchase")
    val rows = ((0 until 120).map(i =>
      evt(1L, i * 1000000L, steps(i % 3))) ++
      (0 until 6).map(i => evt(2L, i * 7000000L, steps(2 - i % 3))))
      .toDF("user_id", "ts", "event_type")
    def m(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val plain = m(EventOps.funnel(rows, steps))
    // one bucket for the whole log, and 10 s buckets that split user 1's
    // 120 step events across 12 of them
    for (b <- Seq(86400L, 10L))
      assert(m(EventOps.funnelBucketed(rows, steps, bucketSeconds = b)) == plain,
        s"bucketSeconds=$b")
  }

  test("sessionizeBucketed equals sessionize on a hot user") {
    val rows = ((0 until 200).map(i => ev(1L, i * 30000000L)) ++
      (0 until 10).map(i => ev(2L, i * 400000000L))).toDF("user_id", "ts")
    def set(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val plain = set(EventOps.sessionize(rows, gapSeconds = 60L))
    // one bucket for the whole log, and 600 s buckets that cut user 1's
    // single 100-minute session at every boundary
    for (b <- Seq(86400L, 600L))
      assert(set(EventOps.sessionizeBucketed(rows, gapSeconds = 60L,
        bucketSeconds = b)) == plain, s"bucketSeconds=$b")
  }

  test("sessionize, funnel and valueQuantiles run no Spark job at plan-build time") {
    // user_id and event_type throw on ANY row evaluation, so any job run
    // while the plans are built raises here
    val poisoned = ((0 until 200).map(i => ev(1L, i * 30000000L)) ++
      (0 until 10).map(i => ev(2L, i * 400000000L))).toDF("user_id", "ts")
      .withColumn("user_id", raise_error(lit("job ran")).cast("long"))
      .withColumn("event_type", raise_error(lit("job ran")).cast("string"))
      .withColumn("value", lit(1.0))
      .withColumn("event_id", monotonically_increasing_id())
    EventOps.sessionize(poisoned, gapSeconds = 60L, hotUserThreshold = 50L)
    EventOps.funnel(poisoned, Seq("s1", "s2"), hotUserThreshold = 50L)
    EventOps.valueQuantiles(poisoned)
  }

  test("retention floors pre-1970 days like DuckDB's // (not truncating div)") {
    val day = 86400000000L
    // the ev() helper assumes non-negative µs; build pre-epoch instants directly
    def evi(user: Long, us: Long) = (user,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0L, us * 1000L)))
    val rows = Seq(
      evi(1L, -1L),      // 1969-12-31T23:59:59.999999 → day −1 (floor), not 0
      evi(1L, day + 5)   // day 1 → offset 2 from cohort day −1
    ).toDF("user_id", "ts")
    val got = EventOps.retention(rows)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((-1L, 0L) -> 1L, (-1L, 2L) -> 1L), got.toString)
  }
}

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: 3-cycle is a fixed point of the exact integer iteration") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // start ⌊1e12/3⌋; each iteration: ⌊3e12/60⌋ + ⌊17·333333333333/20⌋
    // = 50000000000 + 283333333333 = the start value again
    assert(r == Map(0L -> 333333333333L, 1L -> 333333333333L, 2L -> 333333333333L))
  }

  test("pageRank: star accrues rank at the hub, exact hand-computed integers") {
    val edges = Seq((1L, 0L), (2L, 0L), (0L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val base = 50000000000L // ⌊3e12/(20·3)⌋
    assert(r(0L) == base + 17L * (2 * 333333333333L) / 20) // two inbound
    assert(r(1L) == base + 17L * 333333333333L / 20)
    assert(r(2L) == base)                                  // dangling inbound none
  }

  test("pageRank is invariant under input partitioning (integer sums)") {
    val edges = (0L until 300L).map(i => (i % 40, (i * 13 + 5) % 40)).toDF("src", "dst")
    val a = GraphOps.pageRank(edges, 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = GraphOps.pageRank(edges.repartition(17), 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b)
    // mass sanity: floors only shave ticks, never add
    assert(a.values.sum <= 1000000000000L && a.values.sum > 900000000000L)
  }

  test("anchorStats: counts, exact distinct sources, deterministic mode tie-break") {
    val links = Seq(
      (1L, 100L, "blue"), (2L, 100L, "blue"), (3L, 100L, "red"),
      (1L, 100L, "red"),                      // tie 2-2 → "red" (lexic. max)
      (9L, 200L, "solo")
    ).toDF("src", "dst", "anchor")
    val got = GraphOps.anchorStats(links).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    assert(got(100L) == ((4L, 3L, "red", 2L)))
    assert(got(200L) == ((1L, 1L, "solo", 1L)))
  }

  test("hits: hand-computed integer scores on a tiny hub/authority graph") {
    // 0→2, 1→2, 2→3 : node 2 is the authority of {0,1} and the hub of {3}
    val edges = Seq((0L, 2L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = GraphOps.hits(edges, iterations = 1, scale = 1000L).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // a1: 2 ← h0(0)+h0(1) = 2000; 3 ← h0(2) = 1000; 0,1 ← 0
    // h1: 0,1 ← a1(2) = 2000; 2 ← a1(3) = 1000; 3 ← 0
    assert(r(0L) == ((0L, 2000L)) && r(1L) == ((0L, 2000L)))
    assert(r(2L) == ((2000L, 1000L)))
    assert(r(3L) == ((1000L, 0L)))
  }

  test("hits is invariant under input partitioning and duplicate edges") {
    val edges = (0L until 400L).map(i => (i % 37, (i * 13 + 5) % 37)).toDF("src", "dst")
    val a = GraphOps.hits(edges, 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    val b = GraphOps.hits(edges.unionByName(edges).repartition(17), 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(a == b)
  }

  test("hits overflow bound rejects an iteration depth the degrees can't carry") {
    val hub = (0L until 64L).map(i => (0L, i + 1)) ++ (0L until 64L).map(i => (i + 1, 0L))
    val edges = hub.toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphOps.hits(edges, iterations = 5, scale = 1L << 40)
    }
  }

  test("hostGraph collapses URL edges to weighted host edges, drops intra-host") {
    val links = Seq(
      ("http://a.com/1", "http://b.com/x"),
      ("http://a.com/1", "http://b.com/y"),   // same page, same host pair
      ("http://a.com/2", "http://b.com/x"),
      ("http://a.com/3", "http://a.com/4"),   // intra-host → dropped
      ("http://b.com/9", "http://a.com/1")
    ).toDF("src", "dst")
    val got = GraphOps.hostGraph(links).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(("a.com", "b.com")) == ((3L, 2L)))  // 3 URL edges from 2 distinct pages
    assert(got(("b.com", "a.com")) == ((1L, 1L)))
    assert(!got.contains(("a.com", "a.com")))
    val kept = GraphOps.hostGraph(links, keepIntraHost = true).collect()
    assert(kept.length == 3)
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  lazy val media = Multimodal.syntheticMedia(spark, docs)

  test("decode: schema + deterministic metadata, balanced repartition") {
    val out = Multimodal.decode(media, partitions = 4)
    assert(out.rdd.getNumPartitions == 4)
    val rows = out.collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      assert(Set("image", "audio", "video").contains(r.media_type))
      assert(r.byte_len > 0 && r.checksum != 0L)
      if (r.media_type == "audio") assert(r.width == 0)
      if (r.media_type == "image") assert(r.duration_ms == 0L)
    }
    // determinism
    val again = Multimodal.decode(media, partitions = 2).collect()
    assert(rows.sortBy(_.doc_id).toSeq == again.sortBy(_.doc_id).toSeq)
  }

  test("features: fixed-dim embedding feeds Similarity directly") {
    val f = Multimodal.features(media, dim = 16)
    assert(f.select(size($"embedding")).distinct().collect().map(_.getInt(0)).toSeq == Seq(16))
    val planes = Similarity.lshBuckets(f, 4, 16, vecCol = "embedding")
    assert(planes.select("bucket").distinct().count() > 1)
  }

  test("codec: header round-trip is exact; real-layout files parse; garbage rejected") {
    val payload = "some pixel-ish payload bytes".getBytes("UTF-8")
    // BMP: width/height read back from the BITMAPINFOHEADER offsets
    assert(Multimodal.Codec.parse(Multimodal.Codec.encodeBmp(123, 456, payload)) ==
      (("image", 123, 456, 0L)))
    // WAV: duration = dataSize/byteRate from the walked fmt/data chunks
    val wav = Multimodal.Codec.encodeWav(new Array[Byte](32000))
    assert(Multimodal.Codec.parse(wav) == (("audio", 0, 0, 2000L))) // 2 s at 16 kB/s
    // AVI: totalFrames × µs/frame from the avih chunk
    assert(Multimodal.Codec.parse(Multimodal.Codec.encodeAvi(50, 320, 240, payload)) ==
      (("video", 320, 240, 2000L))) // 50 frames at 25 fps
    // a minimal WAV written by ANOTHER writer (extra chunk before fmt )
    // still parses — the decoder walks chunks, it doesn't assume our layout
    val buf = java.nio.ByteBuffer.allocate(60).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(52).put("WAVE".getBytes)
    buf.put("LIST".getBytes).putInt(4).putInt(0) // unknown chunk, skipped
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(1600)
    assert(Multimodal.Codec.parse(buf.array()) == (("audio", 0, 0, 100L)))
    // garbage must fail loudly, not fabricate metadata
    intercept[IllegalArgumentException] {
      Multimodal.Codec.parse("not a container at all".getBytes)
    }
    // a NEGATIVE chunk size must throw, not stall the chunk walk forever
    val bad = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bad.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes)
    bad.put("fmt ".getBytes).putInt(-8)
    intercept[IllegalArgumentException] { Multimodal.Codec.parse(bad.array()) }
  }

  test("interleavedTokens: all-integer accounting matches the header formulas") {
    val dec = Multimodal.decode(media).toDF()
    val out = Multimodal.interleavedTokens(docs, dec).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val texts = docs.select($"doc_id".cast("string"), $"text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.size == texts.size)
    texts.foreach { case (id, text) =>
      val n = text.getBytes("UTF-8").length
      val ws = text.split("\\s+", -1).length.toLong
      val patches = ((16 + n % 512 + 15) / 16).toLong *
        ((16 + (3 * n) % 512 + 15) / 16)
      val (tpe, media) = (id.toLong % 3) match {
        case 0 => ("image", patches)
        case 1 => ("audio", (n.toLong * 1000 / 16000 + 79) / 80)
        case _ => ("video",
          (((10 + n % 240) * 40 + 999) / 1000).toLong * patches)
      }
      val (gTpe, gWs, gMedia, gTotal) = out(id)
      assert(gTpe == tpe && gWs == ws && gMedia == media &&
        gTotal == ws + media, s"doc $id")
    }
    // every media span costs at least one token — packing weights stay > 0
    assert(out.values.forall(_._3 >= 1L))
  }

  test("audioStats: exact PCM reductions incl. negative samples and crossings") {
    // hand-built samples: +100, -2, +3, 0, -32768 (peak; Short.MinValue)
    val samples = Seq[Short](100, -2, 3, 0, -32768)
    val payload = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      payload(2 * i) = (s & 0xff).toByte
      payload(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val rows = Seq(
      Multimodal.MediaRow("a", "m://a", "audio", Multimodal.Codec.encodeWav(payload)),
      Multimodal.MediaRow("b", "m://b", "audio", Multimodal.Codec.encodeWav(Array.empty)),
      Multimodal.MediaRow("c", "m://c", "image", Multimodal.Codec.encodeBmp(16, 16, payload)))
    val got = spark.createDataset(rows)
    val out = Multimodal.audioStats(got).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // crossings: 100→-2 and -2→3 flip sign; 3→0 and 0→-32768 do NOT (strict product<0)
    assert(out == Map("a" -> ((5L, 32873L, 32768L, 2L))), out.toString)
    // ASCII-payload clips (the oracle corpus): all samples positive, 0 crossings
    val ascii = Multimodal.audioStats(media.filter(_.media_type == "audio"))
    assert(ascii.filter($"zero_crossings" =!= 0L).count() == 0)
    assert(ascii.filter($"peak" >= 32768L).count() == 0)
  }

  test("codec property: encode∘parse is identity for arbitrary payloads/params") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Seed(7L)
    val cases = Gen.listOfN(60, for {
      n <- Gen.chooseNum(0, 5000)
      w <- Gen.chooseNum(1, 100000)
      h <- Gen.chooseNum(1, 100000)
      frames <- Gen.chooseNum(0, 1000000)
      kind <- Gen.oneOf("bmp", "wav", "avi")
    } yield (n, w, h, frames, kind))
      .apply(Gen.Parameters.default, params).get
    cases.foreach { case (n, w, h, frames, kind) =>
      val payload = Array.tabulate(n)(i => (i * 31 + 7).toByte)
      kind match {
        case "bmp" =>
          assert(Multimodal.Codec.parse(Multimodal.Codec.encodeBmp(w, h, payload)) ==
            (("image", w, h, 0L)))
        case "wav" =>
          assert(Multimodal.Codec.parse(Multimodal.Codec.encodeWav(payload)) ==
            (("audio", 0, 0, n.toLong * 1000L / Multimodal.Codec.WavByteRate)))
        case "avi" =>
          assert(Multimodal.Codec.parse(
            Multimodal.Codec.encodeAvi(frames, w, h, payload)) ==
            (("video", w, h, frames.toLong * Multimodal.Codec.AviUsecPerFrame / 1000L)))
      }
    }
  }

  test("frameSample: n rows per non-image blob, offsets monotonic") {
    val frames = Multimodal.frameSample(media, nFrames = 4).collect()
    val byDoc = frames.groupBy(_.doc_id)
    byDoc.values.foreach { fs =>
      assert(fs.length == 4)
      val offs = fs.sortBy(_.frame_idx).map(_.frame_offset_ms)
      assert(offs.zip(offs.tail).forall { case (a, b) => a <= b })
    }
    assert(byDoc.nonEmpty)
  }

  test("resizeBmp: exact ceil dims, decimated payload, re-parses as image") {
    val payload = (0 until 100).map(_.toByte).toArray
    val bmp = Multimodal.Codec.encodeBmp(33, 17, payload)
    val out = Multimodal.Codec.resizeBmp(bmp, 3)
    val (t, w, h, _) = Multimodal.Codec.parse(out)
    assert(t == "image" && w == 11 && h == 6)      // ⌈33/3⌉, ⌈17/3⌉
    assert(out.length == 54 + 34)                  // ⌈100/3⌉ sampled bytes
    assert((0 until 34).forall(i => out(54 + i) == payload(3 * i)))
    // factor 1 is byte-identical; empty payload survives
    assert(Multimodal.Codec.resizeBmp(bmp, 1).sameElements(bmp))
    assert(Multimodal.Codec.parse(
      Multimodal.Codec.resizeBmp(Multimodal.Codec.encodeBmp(16, 16,
        Array.empty[Byte]), 4)) == (("image", 4, 4, 0L)))
  }

  test("resize: images re-coded, audio/video byte-identical, composes with decode") {
    val resized = Multimodal.resize(media, factor = 4)
    val before = media.collect().map(r => r.doc_id -> r).toMap
    resized.collect().foreach { r =>
      val orig = before(r.doc_id)
      if (orig.media_type == "image") {
        assert(r.bytes.length < orig.bytes.length || orig.bytes.length <= 54)
      } else assert(r.bytes.sameElements(orig.bytes))
    }
    val dec = Multimodal.decode(resized).collect()
    val origDec = Multimodal.decode(media).collect().map(d => d.doc_id -> d).toMap
    dec.foreach { d =>
      val o = origDec(d.doc_id)
      if (d.media_type == "image") {
        assert(d.width == (o.width + 3) / 4 && d.height == (o.height + 3) / 4)
      } else assert(d.width == o.width && d.duration_ms == o.duration_ms)
    }
  }
}

class SamplingSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // skewed strata: "hot" owns 70% of ids, two mid strata, one singleton
  lazy val strat = (0L until 2000L).map { i =>
    val s = if (i < 1400) "hot" else if (i < 1700) "mid_a"
            else if (i < 1999) "mid_b" else "solo"
    (i, s)
  }.toDF("doc_id", "lang")

  test("bottomK equals the naive single-window form and yields exact per-stratum counts") {
    import org.apache.spark.sql.expressions.Window
    val got = Sampling.bottomK(strat, "doc_id", "lang", k = 25)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val naive = strat
      .withColumn("__p", md5($"doc_id".cast("string")))
      .withColumn("__r", row_number().over(
        Window.partitionBy($"lang").orderBy($"__p", $"doc_id")))
      .filter($"__r" <= 25).drop("__r", "__p")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == naive)
    val counts = got.groupBy(_._2).map { case (s, rs) => s -> rs.size }
    assert(counts == Map("hot" -> 25, "mid_a" -> 25, "mid_b" -> 25, "solo" -> 1))
  }

  test("bottomK is invariant to input partitioning and salt-bucket count") {
    val base = Sampling.bottomK(strat, "doc_id", "lang", k = 10)
      .collect().map(_.getLong(0)).toSet
    val rep = Sampling.bottomK(strat.repartition(7), "doc_id", "lang", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(base == rep)
  }

  // 5 groups with known distinct cardinalities (values repeat 3x)
  lazy val vals = (0L until 30000L).map { i =>
    (s"g${i % 5}", s"v${(i / 3) % (1000 * (i % 5 + 1))}")
  }.toDF("host", "url")

  test("exact distinctPerGroup matches ground truth; HLL within rsd bound") {
    val exact = Sketches.distinctPerGroup(vals, "host", "url")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = vals.collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).distinct.size.toLong }
    assert(exact == truth)
    val approx = Sketches.distinctPerGroupApprox(vals, "host", "url", rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (g, est) =>
      val rel = math.abs(est.toDouble - truth(g)) / truth(g)
      assert(rel <= 0.10, s"$g: est $est vs ${truth(g)} (rel $rel)")
    }
  }

  test("HLL estimate is partition-invariant (register merge is commutative)") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.distinctPerGroupApprox(df, "host", "url")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run(vals.repartition(1)) == run(vals.repartition(13)))
  }

  test("heavyHitters: exact top-k value counts per group, salt-invariant") {
    // g0: values 0..9 with count = 10-v; g1: uniform counts, tie-break by value
    val rows = (0 until 10).flatMap(v => Seq.fill(10 - v)(("g0", s"u$v"))) ++
      (0 until 6).map(v => ("g1", s"u$v"))
    val df = rows.toDF("host", "url")
    val got = Sketches.heavyHitters(df, "host", "url", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    val expect = Set(
      ("g0", "u0", 10L, 1), ("g0", "u1", 9L, 2), ("g0", "u2", 8L, 3),
      ("g1", "u0", 1L, 1), ("g1", "u1", 1L, 2), ("g1", "u2", 1L, 3))
    assert(got == expect)
    val rep = Sketches.heavyHitters(df.repartition(5), "host", "url", k = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(rep == expect)
  }

  test("quantilesApprox honors the rank-error bound vs exact quantiles") {
    val rows = (0L until 20000L).map(i => ("t", (i * 37 % 20000).toDouble))
      .toDF("event_type", "value")
    val qs = Sketches.quantilesApprox(rows, "event_type", "value",
      Seq(0.5, 0.99), accuracy = 10000).collect()
    val got = qs.head.getSeq[Double](1)
    // exact medians of 0..19999: rank error 1/accuracy * n = 2 ranks
    assert(math.abs(got(0) - 10000.0) <= 37 * 3)
    assert(math.abs(got(1) - 19800.0) <= 37 * 3)
  }
}

class SearchOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // planted corpus: doc 1 is dense in the rare term "zebra"; docs 2-4
  // carry it once among filler; filler terms are corpus-wide
  lazy val docs = Seq(
    (1L, "zebra zebra zebra scan filter"),
    (2L, "scan filter join hash hash"),
    (3L, "scan filter join"),
    (4L, "join hash scan filter filter join hash"),
    (5L, "scan filter join hash"),
    (6L, "scan scan filter join"),
    (7L, "hash join filter scan scan filter")
  ).toDF("doc_id", "text")

  /** test-side reference scorer: exact BigInt replay of the rational-idf
    * tick formula, independent of Spark's decimal plan */
  private def referenceTopK(
      corpus: Seq[(Long, String)], query: Seq[String], k: Int): Seq[(Long, Long, Int)] = {
    val toks = corpus.map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }
    val n = BigInt(corpus.size)
    val l = BigInt(toks.map(_._2.size).sum)
    val dfm = query.map(q => q -> BigInt(toks.count(_._2.contains(q)))).toMap
    val scores = toks.map { case (id, ts) =>
      val s = query.map { q =>
        val tf = BigInt(ts.count(_ == q))
        if (tf == 0) BigInt(0)
        else {
          val dl = BigInt(ts.size); val df = dfm(q)
          (BigInt(1000000) * 22 * tf * l * (2 * n - 2 * df + 1)) /
            ((BigInt(10) * tf * l + 3 * l + 9 * dl * n) * (2 * df + 1))
        }
      }.sum
      (id, s.toLong)
    }.filter(_._2 > 0)
    scores.sortBy { case (id, s) => (-s, id) }.take(k)
      .zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }
  }

  // per-field tick scores for the fielded replay (same formula, but the
  // corpus/stats/df are the FIELD's own — only docs carrying the field)
  private def referenceFieldScores(
      corpus: Seq[(Long, String)], query: Seq[String]): Map[Long, BigInt] = {
    val toks = corpus.map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }
    val n = BigInt(corpus.size)
    val l = BigInt(toks.map(_._2.size).sum)
    val dfm = query.map(q => q -> BigInt(toks.count(_._2.contains(q)))).toMap
    toks.map { case (id, ts) =>
      id -> query.map { q =>
        val tf = BigInt(ts.count(_ == q))
        if (tf == 0 || dfm(q) == 0) BigInt(0)
        else {
          val dl = BigInt(ts.size); val df = dfm(q)
          (BigInt(1000000) * 22 * tf * l * (2 * n - 2 * df + 1)) /
            ((BigInt(10) * tf * l + 3 * l + 9 * dl * n) * (2 * df + 1))
        }
      }.sum
    }.toMap
  }

  test("fieldedTopK matches the weighted per-field BigInt replay") {
    val fdocs = Seq(
      (1L, "zebra zebra stripes run fast", Option("zebra")),
      (2L, "plain hash join text zebra", None: Option[String]),
      (3L, "nothing relevant in this body", Option("zebra zebra best")),
      (4L, "zebra one mention here", Option(""))
    ).toDF("doc_id", "body", "anchor")
    val query = Seq("zebra")
    val fields = Seq(("body", 1L), ("anchor", 5L))
    val rows = fdocs.collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    val bodyRef = referenceFieldScores(rows.map(r => (r._1, r._2)), query)
    val anchorRef = referenceFieldScores(
      rows.collect { case (id, _, Some(a)) if a.nonEmpty => (id, a) }, query)
    val expect = rows.map(_._1).map { id =>
      id -> (bodyRef.getOrElse(id, BigInt(0)) * 1 +
        anchorRef.getOrElse(id, BigInt(0)) * 5).toLong
    }.filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }
    val got = SearchOps.fieldedTopK(fdocs, query, k = 4, fields)
      .select("doc_id", "score_ticks", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sortBy(_._3)
    assert(got == expect, s"got $got expect $expect")
    // the anchor weight lifts the anchor-only doc over the body-only one
    assert(got.map(_._1).indexOf(3L) < got.map(_._1).indexOf(2L))
    // and it is partition invariant
    val again = SearchOps.fieldedTopK(fdocs.repartition(7), query, 4, fields)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == got.toSet)
  }

  test("searchTopK matches an independent BigInt replay of the tick formula") {
    val corpus = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val query = Seq("zebra", "hash")
    val got = SearchOps.searchTopK(docs, query, k = 5)
      .select("doc_id", "score_ticks", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      .sortBy(_._3)
    assert(got == referenceTopK(corpus, query, 5))
    // the zebra-dense doc wins
    assert(got.head._1 == 1L)
  }

  test("searchTopK is invariant to partitioning and salt-bucket count") {
    def run(df: org.apache.spark.sql.DataFrame) =
      SearchOps.searchTopK(df, Seq("zebra", "scan"), k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(run(docs) == run(docs.repartition(5)))
  }

  test("search_after pagination: page 2 equals rows k+1..2k of the deep top-2k") {
    val query = Seq("scan", "hash", "zebra")
    val k = 3
    val deep = SearchOps.searchTopK(docs, query, k = 2 * k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    // cursor = last hit of page 1, exactly what a caller would carry over
    val (curId, curScore, _) = deep(k - 1)
    val page2 = SearchOps.searchTopK(docs, query, k = k,
      after = Some((curScore, curId)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    // same rows as deep ranks k+1..2k, but rank restarts at 1 per page
    assert(page2.toSeq == deep.drop(k).map { case (id, s, r) => (id, s, r - k) }.toSeq)
    // tie-safe: a cursor mid-tie still never re-returns page-1 rows
    assert(page2.map(_._1).toSet.intersect(deep.take(k).map(_._1).toSet).isEmpty)
  }

  test("scrollExport equals the global orderBy replay, any partitioning") {
    val rows = (1L to 257L).map(i => (i, s"v${i % 7}"))
    val df = rows.toDF("id", "grp")
    val expect = rows.sortBy { case (id, g) => (g, id) }.zipWithIndex
      .map { case ((id, g), i) => (id, g, i + 1L, i / 25L) }
    for (parts <- Seq(1, 4, 16); inParts <- Seq(1, 9)) {
      val got = SearchOps.scrollExport(df.repartition(inParts),
        Seq($"grp".asc, $"id".asc), pageSize = 25, partitions = parts)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._3)
      assert(got.toSeq == expect, s"parts=$parts inParts=$inParts")
    }
    // desc order works through the same range exchange
    val desc = SearchOps.scrollExport(df, Seq($"id".desc), 100, 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._2)
    assert(desc.map(_._1).toSeq == (257L to 1L by -1))
  }

  test("scrollExport plan: range exchange, no single-partition global sort") {
    val df = (1L to 100L).toDF("id")
    val (out, release) = SearchOps.scrollExportReleasable(
      df, Seq($"id".asc), 10, 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    release()
  }

  test("suggest matches a brute-force prefix replay; hot prefix is salted") {
    val corpus = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val toks = corpus.flatMap(_._2.toLowerCase.split("\\s+"))
    def brute(prefix: String, k: Int) =
      toks.filter(_.startsWith(prefix)).groupBy(identity)
        .map { case (t, xs) => (t, xs.size.toLong) }.toSeq
        .sortBy { case (t, w) => (-w, t) }.take(k)
        .zipWithIndex.map { case ((t, w), i) => (prefix, t, w, i + 1) }
    val got = SearchOps.suggest(docs, Seq("s", "ha"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(got == (brute("s", 3) ++ brute("ha", 3)).toSet)
    // partition invariance
    val again = SearchOps.suggest(docs.repartition(5), Seq("s", "ha"), 3)
      .collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(again == got)
  }

  test("fuzzyTerms equals the full-scan levenshtein ball (transposition trap filtered)") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // vocab plants: exact, sub, del, ins, transposition (dist 2), far
    val vdocs = Seq((1L, "spark sparc spak sparke psark ab ba zebra"))
      .toDF("doc_id", "text")
    val vocab = Seq("spark", "sparc", "spak", "sparke", "psark", "ab", "ba", "zebra")
    for (me <- Seq(1, 2); q <- Seq(Seq("spark"), Seq("ab"), Seq("spark", "ba"))) {
      val got = SearchOps.fuzzyTerms(vdocs, q, maxEdits = me)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val expect = (for (qt <- q.distinct; t <- vocab; d = lev(qt, t)
        if d <= me) yield (qt, t, d.toLong)).toSet
      assert(got == expect, s"maxEdits=$me q=$q got=$got expect=$expect")
    }
    // the trap explicitly: "ab" vs "ba" shares deletion keys but is dist 2
    val e1 = SearchOps.fuzzyTerms(vdocs, Seq("ab"), maxEdits = 1)
      .collect().map(_.getString(1)).toSet
    assert(!e1.contains("ba"))
  }

  test("fuzzyTopK: a typo query reaches the true term's docs, exact hits included") {
    // "zebr" (dist 1 of zebra) must surface the zebra-dense doc first
    val got = SearchOps.fuzzyTopK(docs, Seq("zebr"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._3)
    val exact = SearchOps.searchTopK(docs, Seq("zebra"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._3)
    assert(got.toSeq == exact.toSeq) // only 'zebra' is within dist 1 in this vocab
    assert(got.head._1 == 1L)
    // an exact term matches itself at distance 0 even with typo siblings
    val self = SearchOps.fuzzyTopK(docs, Seq("hash"), k = 3)
    assert(self.collect().nonEmpty)
    // no match at all -> clean empty result
    assert(SearchOps.fuzzyTopK(docs, Seq("qqqqqqqq"), k = 3).collect().isEmpty)
  }

  test("percolate: each doc matches exactly the stored queries it fully contains") {
    val stored = Seq(
      "q_scan_filter" -> Seq("scan", "filter"),
      "q_hash" -> Seq("hash"),
      "q_zebra_join" -> Seq("zebra", "join"), // no doc has both
      "q_dup_term" -> Seq("scan", "scan", "filter")) // dup terms collapse
    val got = SearchOps.percolate(docs, stored)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val corpus = docs.collect().map(r => (r.getLong(0),
      r.getString(1).toLowerCase.split("\\s+").toSet)).toSeq
    val expect = (for ((id, ts) <- corpus; (qid, qts) <- stored
      if qts.map(_.toLowerCase).toSet.subsetOf(ts)) yield (id, qid)).toSet
    assert(got == expect)
    assert(!got.exists(_._2 == "q_zebra_join"))
    // dup-term query behaves as its distinct set
    assert(got.filter(_._2 == "q_dup_term").map(_._1) ==
      got.filter(_._2 == "q_scan_filter").map(_._1))
  }

  test("percolateInline equals the exchange form and compiles to zero exchanges") {
    val stored = Seq(
      "q_scan_filter" -> Seq("scan", "filter"),
      "q_hash" -> Seq("hash"),
      "q_zebra_join" -> Seq("zebra", "join"),
      "q_dup_term" -> Seq("scan", "scan", "filter"))
    val a = SearchOps.percolate(docs, stored)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = SearchOps.percolateInline(docs.repartition(5), stored)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b && a.nonEmpty)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exchanges = SearchOps.percolateInline(docs, stored)
      .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty)
  }

  test("significantTerms matches an exact BigInt JLH replay on a planted slice") {
    // fg docs are dense in 'rare'; the filler vocabulary is corpus-wide
    val sdocs = Seq(
      (1L, "rare rare rare common filler", true),
      (2L, "rare common filler filler", true),
      (3L, "common filler filler noise", false),
      (4L, "common common filler noise noise", false),
      (5L, "filler noise common", false),
      (6L, "rare noise", false)
    ).toDF("doc_id", "text", "is_fg")
    val corpus = sdocs.collect()
      .map(r => (r.getString(1).toLowerCase.split("\\s+").toSeq, r.getBoolean(2)))
    val fgToks = corpus.filter(_._2).flatMap(_._1)
    val bgToks = corpus.flatMap(_._1)
    val (fTot, bTot) = (BigInt(fgToks.size), BigInt(bgToks.size))
    val expect = fgToks.distinct.flatMap { t =>
      val ft = BigInt(fgToks.count(_ == t)); val bt = BigInt(bgToks.count(_ == t))
      val num = ft * bTot - bt * fTot
      if (num > 0)
        Some((t, ft.toLong, bt.toLong,
          (BigInt(1000000) * ft * num / (fTot * fTot * bt)).toLong))
      else None
    }.sortBy { case (t, _, _, s) => (-s, t) }.take(3)
      .zipWithIndex.map { case ((t, f, b, s), i) => (t, f, b, s, i + 1) }
      .toSeq
    val got = SearchOps.significantTerms(sdocs, col("is_fg"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSeq.sortBy(_._5)
    assert(got == expect, s"got $got expect $expect")
    assert(got.head._1 == "rare") // the planted signal wins
  }

  test("hybridTopK: RRF replay over the two ranked lists, both-lists docs boosted") {
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)), (4L, Seq(0.4f, 0.2f, 0.6f)),
      (5L, Seq(0.0f, 0.0f, 1.0f)), (6L, Seq(0.5f, 0.5f, 0.0f)),
      (7L, Seq(0.2f, 0.8f, 0.1f))
    ).toDF("vec_id", "embedding")
    val query = Seq("zebra", "hash")
    val poolK = 5; val rrfK = 60
    val kw = SearchOps.searchTopK(docs, query, poolK)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    val ann = graft.ops.Similarity.bruteForceTopKMulti(
        embs, embs.filter($"vec_id" === 1L), poolK)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    val expect = (kw ++ ann).groupBy(_._1).map { case (id, xs) =>
      (id, xs.map(x => 1000000L / (rrfK + x._2)).sum, xs.size.toLong)
    }.toSeq.sortBy { case (id, t, _) => (-t, id) }.take(4)
      .zipWithIndex.map { case ((id, t, n), i) => (id, t, n, i + 1) }
    val got = SearchOps.hybridTopK(docs, embs, query, queryVecId = 1L,
      k = 4, poolK = poolK, rrfK = rrfK)
      .select("doc_id", "rrf_ticks", "n_lists", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq.sortBy(_._4)
    assert(got == expect, s"got $got expect $expect")
    // a doc in both lists carries n_lists = 2
    assert(got.exists(_._3 == 2L))
  }

  test("selectByTokenBudget: inclusive greedy prefix of the priority order, any partitioning") {
    val rows = (1L to 60L).map(i =>
      (i, ("w " * (i % 7 + 1).toInt).trim, i * 13 % 10))
    val df = rows.toDF("doc_id", "text", "pri")
    val ordered = rows.sortBy { case (id, _, p) => (-p, id) }
    val cums = ordered.scanLeft(0L)((acc, r) => acc + (r._1 % 7 + 1)).tail
    val budget = 90L
    val expect = ordered.zip(cums).filter(_._2 <= budget)
      .map { case ((id, _, _), c) => (id, c) }.toSet
    for (parts <- Seq(1, 4, 16)) {
      val got = graft.ops.Sampling.selectByTokenBudget(df.repartition(5),
        Seq($"pri".desc, $"doc_id".asc), budget, partitions = parts)
        .select("doc_id", "cum_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect, s"parts=$parts")
    }
    // plan: range exchange, never a single-partition global sort
    val (out, release) = graft.ops.Sampling.selectByTokenBudgetReleasable(
      df, Seq($"pri".desc, $"doc_id".asc), budget, partitions = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    release()
  }

  test("selectByTokenBudget: caller-supplied weight column overrides the text count") {
    // weights NOT derivable from text (the multimodal case): cost = doc_id²%11+1
    val rows = (1L to 40L).map(i => (i, "ignored text", i * i % 11 + 1))
    val df = rows.toDF("doc_id", "text", "cost")
    val cums = rows.scanLeft(0L)((acc, r) => acc + r._3).tail
    val budget = 60L
    val expect = rows.zip(cums).filter(_._2 <= budget)
      .map { case ((id, _, c), cum) => (id, c, cum) }.toSet
    val got = graft.ops.Sampling.selectByTokenBudget(df.repartition(6),
      Seq($"doc_id".asc), budget, partitions = 4,
      weight = Some($"cost"))
      .select("doc_id", "n_tokens", "cum_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"got $got expect $expect")
    // the text column played no part: n_tokens == cost, never the split count
    assert(got.forall { case (id, n, _) => n == id * id % 11 + 1 })
  }

  test("shardByTokens: packSequences' start-based rule over a priority order") {
    val rows = (1L to 50L).map(i =>
      (i, ("t " * (i % 5 + 1).toInt).trim, i * 17 % 9))
    val df = rows.toDF("doc_id", "text", "pri")
    val ordered = rows.sortBy { case (id, _, p) => (-p, id) }
    val starts = ordered.scanLeft(0L)((acc, r) => acc + (r._1 % 5 + 1)).init
    val expect = ordered.zip(starts)
      .map { case ((id, _, _), st) => (id, st / 20L) }.toSet
    for (parts <- Seq(1, 4, 16)) {
      val got = graft.ops.Sampling.shardByTokens(df.repartition(7),
        Seq($"pri".desc, $"doc_id".asc), shardTokens = 20L, partitions = parts)
        .select("doc_id", "shard_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect, s"parts=$parts")
    }
    // whole docs only: every shard's docs are contiguous in the order
    val byShard = expect.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val pos = ordered.map(_._1).zipWithIndex.toMap
    byShard.values.foreach { ids =>
      val ps = ids.map(pos).toSeq.sorted
      assert(ps == (ps.head to ps.last), s"non-contiguous shard: $ids")
    }
  }

  test("bm25TopK agrees with the exact form on the planted winner and set") {
    val exact = SearchOps.searchTopK(docs, Seq("zebra", "hash"), k = 3)
      .collect().map(_.getLong(0))
    val bm = SearchOps.bm25TopK(docs, Seq("zebra", "hash"), k = 3)
      .collect().map(_.getLong(0))
    assert(bm.head == 1L && exact.head == 1L)
    assert(bm.toSet == exact.toSet) // same candidate set at this k
  }

  test("mergeIndex: index(a ++ b) equals merge(index(a), index(b)) and searches identically") {
    val a = docs.filter($"doc_id" <= 3)
    val b = docs.filter($"doc_id" > 3)
    val merged = SearchOps.mergeIndex(
      SearchOps.index(a), SearchOps.index(b))
    val whole = SearchOps.index(docs)
    def postSet(i: SearchOps.SearchIndex) = i.postings.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(postSet(merged) == postSet(whole))
    assert(merged.stats.collect().head.toSeq == whole.stats.collect().head.toSeq)
    val q = Seq(("q", "zebra"), ("q", "hash")).toDF("query_id", "term")
    val viaMerged = SearchOps.searchAllTopK(merged, q, k = 5)
      .select("doc_id", "score_ticks", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = SearchOps.searchTopK(docs, Seq("zebra", "hash"), k = 5)
      .select("doc_id", "score_ticks", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaMerged == direct)
  }

  test("requireAll gates to docs containing every query term") {
    val or = SearchOps.searchTopK(docs, Seq("scan", "hash"), k = 10)
      .collect().map(_.getLong(0)).toSet
    val and = SearchOps.searchTopK(docs, Seq("scan", "hash"), k = 10,
      requireAll = true)
      .collect().map(_.getLong(0)).toSet
    assert(and == Set(2L, 4L, 5L, 7L)) // docs with BOTH terms
    assert(or == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // AND scores equal the OR scores of the surviving docs
    val orScores = SearchOps.searchTopK(docs, Seq("scan", "hash"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    SearchOps.searchTopK(docs, Seq("scan", "hash"), k = 10, requireAll = true)
      .collect().foreach(r => assert(r.getLong(1) == orScores(r.getLong(0))))
  }

  test("phraseTopK counts consecutive occurrences, matching a brute-force scan") {
    val corpus = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def brute(phrase: Seq[String]): Seq[(Long, Long, Int)] = {
      val m = corpus.map { case (id, t) =>
        val ts = t.toLowerCase.split("\\s+").toSeq
        id -> (0 to ts.size - phrase.size).count(i =>
          phrase.indices.forall(j => ts(i + j) == phrase(j))).toLong
      }.filter(_._2 > 0)
      m.sortBy { case (id, n) => (-n, id) }.zipWithIndex
        .map { case ((id, n), i) => (id, n, i + 1) }
    }
    for (phrase <- Seq(Seq("scan", "filter"), Seq("filter", "filter"),
        Seq("scan", "filter", "join"))) {
      val got = SearchOps.phraseTopK(docs, phrase, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        .sortBy(_._3)
      assert(got == brute(phrase), s"phrase $phrase")
    }
    val rep = SearchOps.phraseTopK(docs.repartition(5), Seq("scan", "filter"),
      k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rep == brute(Seq("scan", "filter")).toSet)
  }

  test("moreLikeThis matches a BigInt replay of the idf-overlap definition") {
    val corpus = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    def brute(srcId: Long, m: Int, k: Int): Seq[(Long, Long, Long, Int)] = {
      val toks = corpus.map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }.toMap
      val srcTf = toks(srcId).groupBy(identity).map { case (t, o) => t -> o.size }
      val sel = srcTf.toSeq.sortBy { case (t, tf) => (-tf, t) }.take(m).map(_._1)
      val n = BigInt(corpus.size)
      val w = sel.map { t =>
        val df = BigInt(corpus.count { case (id, _) => toks(id).contains(t) })
        t -> ((BigInt(1000000) * (2 * n - 2 * df + 1)) / (2 * df + 1))
      }.toMap
      val scored = corpus.filter(_._1 != srcId).map { case (id, _) =>
        val shared = sel.filter(toks(id).contains)
        (id, shared.map(w).sum.toLong, shared.size.toLong)
      }.filter(_._3 > 0)
      scored.sortBy { case (id, s, _) => (-s, id) }.take(k).zipWithIndex
        .map { case ((id, s, ns), i) => (id, s, ns, i + 1) }
    }
    for ((m, k) <- Seq((2, 5), (10, 10))) {
      val got = SearchOps.moreLikeThis(docs, 1L, k = k, maxQueryTerms = m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq.sortBy(_._4)
      assert(got == brute(1L, m, k), s"m=$m k=$k")
    }
  }

  test("snippet extracts the window around the first hit; null when absent") {
    val out = docs.select($"doc_id",
      SearchOps.snippet($"text", "zebra", 2).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) == Some("zebra zebra zebra"))        // hit at pos 1: window 1..3
    assert(out(5L).isEmpty)                             // absent
    // term at the very end of a doc clips the right edge
    val tail = Seq((9L, "alpha beta gamma zebra")).toDF("doc_id", "text")
      .select(SearchOps.snippet($"text", "zebra", 2).as("s"))
      .head().getString(0)
    assert(tail == "beta gamma zebra")
  }

  test("buildIndex/loadIndex round-trip: searchAllTopK over the catalog index equals direct search") {
    val dir = graft.TestSpark.tmpDir("searchidx")
    try {
      val idx = SearchOps.buildIndex(docs, "search_idx", s"$dir/idx", 4)
      // reloaded stats equal the scan-time stats
      val st = idx.stats.collect().head
      assert(st.getLong(0) == 7L && st.getLong(1) == 34L)
      val queries = Seq(("q", "zebra"), ("q", "hash")).toDF("query_id", "term")
      val viaIndex = SearchOps.searchAllTopK(idx, queries, k = 5)
        .select("doc_id", "score_ticks", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val direct = SearchOps.searchTopK(docs, Seq("zebra", "hash"), k = 5)
        .select("doc_id", "score_ticks", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaIndex == direct)
    } finally {
      graft.sources.BucketedStore.drop(spark, "search_idx")
    }
  }
}
