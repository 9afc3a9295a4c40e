package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.pipeline.{Ann, Curation, Dedup, Nsw, TextMetrics}

/** Pins the non-SQL-oracle pipeline ops: LSH recall/precision on
  * planted near-dups, SimHash banding, IVF recall vs exact,
  * fingerprint determinism. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("pipeline-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  // NOTE: never stop() here - getOrCreate shares ONE SparkContext
  // across all suites in the JVM; stopping it kills whichever suite
  // runs next (the forked test JVM cleans up on exit).
  override def afterAll(): Unit = ()

  private def docsDf: DataFrame = {
    val sp = spark; import sp.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank again"), // near-dup of 1
      (3L, "completely different content about database systems and query planning"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (5L, "spark catalyst optimizer rewrites logical plans into physical plans"))
      .toDF("doc_id", "text")
  }

  test("exact dedup groups by content hash") {
    val groups = Dedup.exactDupGroups(docsDf, "doc_id", "text").collect()
    assert(groups.length == 4) // 1&4 collapse
    val dup = groups.find(_.getAs[Double]("n_dups") == 2.0).get
    assert(dup.getAs[String]("keep_key") == "1")
  }

  test("minhash LSH finds planted near-dups with exact verified jaccard") {
    val pairs = Dedup.minhashNearDups(docsDf, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted
    // exact pair (1,4): J=1; near pair (1,2)/(2,4): 12 of 13 bigrams shared
    assert(pairs.map(p => (p._1, p._2)).toSet ==
      Set(("1", "2"), ("1", "4"), ("2", "4")))
    val exact = pairs.find(p => p._1 == "1" && p._2 == "4").get
    assert(exact._3 == 1.0)
    val near = pairs.find(p => p._1 == "1" && p._2 == "2").get
    assert(math.abs(near._3 - 12.0 / 14.0) < 1e-9) // 13 bigrams each, 12 shared
  }

  test("staged sketch-prefilter verify ≡ direct verify (randomized corpus)") {
    // 200 docs over a tiny vocabulary: heavy banding collisions across
    // the full Jaccard spectrum, including near-threshold pairs the
    // 4σ sketch margin must keep alive, plus size-skewed pairs the
    // exact size bound prunes.
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val random = (0 until 200).map { i =>
      val n = 3 + rnd.nextInt(30)
      (i.toLong, Vector.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // planted: exact copies, one-token edits (near-threshold J), and a
    // doc embedded in one 4× its size (size-bound territory)
    val baseTokens = Vector.tabulate(20)(j => vocab(j % vocab.length))
    val planted = Seq(
      (1000L, baseTokens.mkString(" ")),
      (1001L, baseTokens.mkString(" ")),
      (1002L, baseTokens.updated(10, "omega").mkString(" ")),
      (1003L, (baseTokens ++ Vector.fill(60)("sigma")).mkString(" ")))
    val docs = (random ++ planted).toDF("doc_id", "text")
    def run(pre: Boolean) = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 2, numHashes = 128, bands = 32, threshold = 0.5,
      sketchPrefilter = pre)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val staged = run(true)
    val direct = run(false)
    assert(staged == direct)
    assert(staged.nonEmpty) // the corpus must actually exercise the verify
  }

  test("ngram jaccard join matches minhash-verified values (no cross join)") {
    val exact = Dedup.ngramJaccardPairs(docsDf, "doc_id", "text",
      shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val viaLsh = Dedup.minhashNearDups(docsDf, "doc_id", "text",
      shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(exact == viaLsh) // at these J values LSH recall is certain-ish
  }

  test("simhash: identical docs collide, near-dups within hamming 3, bandings exact") {
    val pairs = Dedup.simhashNearDups(docsDf, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val exactPair = pairs.find(p => p._1 == "1" && p._2 == "4")
    assert(exactPair.isDefined && exactPair.get._3 == 0.0)
    // every reported pair respects the bound
    assert(pairs.forall(_._3 <= 3.0))
  }

  test("simhash degenerate guard: 5k identical docs emit a star, not a quadratic clique") {
    val sp = spark; import sp.implicits._
    val n = 5000
    val d = sp.range(n).select(col("id").as("doc_id"),
      lit("exactly the same boilerplate page body every single time").as("text"))
    val pairs = Dedup.simhashNearDups(d, "doc_id", "text")
    val rows = pairs.collect()
    assert(rows.length == n - 1, s"star expected, got ${rows.length} edges")
    assert(rows.forall(_.getDouble(2) == 0.0))
    assert(rows.forall(_.getString(0) == "0")) // anchored at the min key
    assert(rows.map(_.getString(1)).distinct.length == n - 1)
    // connectivity-equivalence: greedy drop keeps exactly the representative
    val kept = Dedup.dropNearDups(d, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(0L))
  }

  test("hamming guard tiers are exact vs a naive all-pairs baseline") {
    val sp = spark; import sp.implicits._
    // per seed: ~60 keys over 18 hash values — identical classes
    // (sizes 1..8, all ≤ cliqueCap), near pairs (hamming 1-3, bit
    // flips), far hashes; multi-seed so class shapes, collision
    // patterns and band layouts vary across runs
    for (seed <- Seq(5, 23, 91)) {
      val rnd = new scala.util.Random(seed)
      val baseHashes = Array.fill(18)(rnd.nextLong())
      val rows = (0L until 60L).map { k =>
        val h0 = baseHashes((k % 18).toInt)
        val h = if (k % 18 >= 12) h0 ^ (1L << ((k + seed) % 7).toInt) else h0
        (k, h)
      }
      val df = rows.toDF("k", "hash")
      val naive = (for {
        (ka, ha) <- rows; (kb, hb) <- rows
        if ka < kb && java.lang.Long.bitCount(ha ^ hb) <= 3
      } yield (ka, kb, java.lang.Long.bitCount(ha ^ hb))).toSet
      // cold path (nothing salted), salted path (everything salted),
      // and a cap high enough to drop nothing must ALL equal naive
      for ((salt, cap) <- Seq((1024, Some(100000)), (1, Some(100000)), (1, None))) {
        val got = Dedup.hammingNearDups(df, maxHamming = 3,
          cliqueCap = 1000, saltAbove = salt, maxBandFreq = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(got == naive, s"seed=$seed saltAbove=$salt cap=$cap: " +
          s"missing=${(naive -- got).take(5)} extra=${(got -- naive).take(5)}")
      }
    }
    // survivor-equality block below reuses the LAST seed's corpus
    val rnd = new scala.util.Random(91)
    val baseHashes = Array.fill(18)(rnd.nextLong())
    val rows = (0L until 60L).map { k =>
      val h0 = baseHashes((k % 18).toInt)
      val h = if (k % 18 >= 12) h0 ^ (1L << ((k + 91) % 7).toInt) else h0
      (k, h)
    }
    val df = rows.toDF("k", "hash")
    val naive = (for {
      (ka, ha) <- rows; (kb, hb) <- rows
      if ka < kb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ka, kb, java.lang.Long.bitCount(ha ^ hb))).toSet
    // oversized classes degrade to connectivity-preserving star edges:
    // same connected components as naive (checked via dropNearDups set)
    val star = Dedup.hammingNearDups(df, maxHamming = 3, cliqueCap = 2)
      .select(col("key_a").cast("string").as("key_a"),
        col("key_b").cast("string").as("key_b"))
    val naivePairsDf = naive.toSeq.map(p => (p._1.toString, p._2.toString))
      .toDF("key_a", "key_b")
    val keptStar = Dedup.dropNearDups(df, "k", star)
      .collect().map(_.getLong(0)).toSet
    val keptNaive = Dedup.dropNearDups(df, "k", naivePairsDf)
      .collect().map(_.getLong(0)).toSet
    assert(keptStar == keptNaive)
  }

  test("hamming planner tier 2: hot cell of singleton classes routes back to the exact fast path") {
    val sp = spark; import sp.implicits._
    // 8 singleton classes differing only in band-0 low bits: the
    // (band 1..3, base) cells hold all 8 rows (> cliqueCap = 4), so
    // the cell histogram alone cannot prove dispersal and the planner
    // must pay the exact per-class count — which finds maxM = 1 and
    // keeps the plain pigeonhole plan. Every pair differs in ≤ 3 bits,
    // so the exact fast-path output is the full 28-pair set.
    val base = 0x0123456789ABCDEFL
    val rows = (0L until 8L).map(i => (i, base ^ i))
    val df = rows.toDF("k", "hash")
    val naive = (for {
      (ka, ha) <- rows; (kb, hb) <- rows
      if ka < kb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ka, kb, java.lang.Long.bitCount(ha ^ hb))).toSet
    assert(naive.size == 28)
    val got = Dedup.hammingNearDups(df, maxHamming = 3,
        cliqueCap = 4, saltAbove = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == naive)
  }

  test("hamming guard: null hashes never pair on either path") {
    val sp = spark; import sp.implicits._
    // 30 null-text docs (null simhash) would form one spurious
    // > cliqueCap "identical" class on the tiered path if null hashes
    // grouped — emitting star edges that declare distinct documents
    // exact dups. A real oversized class (12 boilerplate copies)
    // forces the tiered route; a genuine dup pair must still surface.
    val nulls = sp.range(30).select(col("id").as("doc_id"),
      lit(null).cast("string").as("text"))
    val boiler = sp.range(100L, 112L).select(col("id").as("doc_id"),
      lit("exactly the same boilerplate page body every single time").as("text"))
    val dupPair = Seq((1000L, "a genuinely duplicated document body"),
      (1001L, "a genuinely duplicated document body")).toDF("doc_id", "text")
    val d = nulls.unionByName(boiler).unionByName(dupPair)
    val pairs = Dedup.simhashNearDups(d, "doc_id", "text", cliqueCap = 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expected = (101L to 111L).map(i => ("100", i.toString)).toSet +
      (("1000", "1001"))
    assert(pairs == expected,
      s"missing=${(expected -- pairs).take(5)} extra=${(pairs -- expected).take(5)}")
  }

  test("cappedCells: empty on dispersed corpora; counts class reps, not members") {
    val sp = spark; import sp.implicits._
    // dispersed: every cell at or below the thresholds → no disclosure
    val rnd = new scala.util.Random(17)
    val dispersed = (0L until 200L).map(k => (k, rnd.nextLong())).toDF("k", "hash")
    assert(Dedup.cappedCells(dispersed, saltAbove = 50, maxBandFreq = 50).count() == 0L)
    // one identical-hash class of 30: the tiered join sees ONE rep per
    // oversized class, so with cliqueCap = 5 the class's cells carry
    // freq 1 — a raw-corpus histogram would wrongly disclose them as
    // capped (freq 30 > 8) though the join never drops them
    val modal = (0L until 30L).map(k => (k, 42L)).toDF("k", "hash")
    assert(Dedup.cappedCells(modal, cliqueCap = 5, saltAbove = 8,
      maxBandFreq = 8).count() == 0L)
    // same corpus with cliqueCap above the class size: members join
    // individually, cells really are hot → disclosed (4 cells)
    assert(Dedup.cappedCells(modal, cliqueCap = 1000, saltAbove = 8,
      maxBandFreq = 8).count() == 4L)
  }

  test("simhash near-dups: empty and single-row corpora yield no pairs") {
    val sp = spark; import sp.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.simhashNearDups(empty, "doc_id", "text").count() == 0L)
    val one = Seq((1L, "a single document")).toDF("doc_id", "text")
    assert(Dedup.simhashNearDups(one, "doc_id", "text").count() == 0L)
  }

  test("embedding near-dup: LSH candidates are a verified subset of exact") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val tweak = base.clone(); tweak(0) += 0.01f // near-identical
    val vecs = (Seq((1L, base), (2L, tweak)) ++
      (3L to 40L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupsExact(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(exact == Set(("1", "2")))
    val lsh = Dedup.embeddingNearDupsLsh(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh == exact) // cosine≈1 pairs agree on every sign bit → always caught
  }

  test("embedding LSH infers hyperplane dim: non-64-dim vectors work") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat) // dim 8, not 64
    val tweak = base.clone(); tweak(1) += 0.01f
    val vecs = (Seq((1L, base), (2L, tweak)) ++
      (3L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat))))
      .toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDupsExact(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(exact.contains(("1", "2")))
    val lsh = Dedup.embeddingNearDupsLsh(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(lsh.subsetOf(exact) && lsh.contains(("1", "2")))
  }

  test("ngram jaccard hot-shingle cap: skew guard drops only no-signal shingles") {
    val sp = spark; import sp.implicits._
    // every doc shares the hot bigram ("common filler"); only 1 & 2 share
    // enough distinctive bigrams to be near-dups
    val docs = (Seq(
      (1L, "common filler alpha beta gamma delta epsilon zeta"),
      (2L, "common filler alpha beta gamma delta epsilon eta")) ++
      (3L to 30L).map(i => (i, s"common filler unique$i words$i here$i now$i")))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.3, maxShingleFreq = None)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // cap of 10 drops "common filler" (freq 30) but keeps the pair: the
    // distinctive shingles still overlap above threshold
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.3, maxShingleFreq = Some(10))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(uncapped.contains(("1", "2")) && capped.contains(("1", "2")))
    // a cap above every shingle frequency is a no-op (gate-corpus case)
    val noop = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.3, maxShingleFreq = Some(1000))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(noop == uncapped)
  }

  test("salted shingle join: exact parity with the plain self-join on a skewed corpus") {
    val sp = spark; import sp.implicits._
    // "common filler" appears in EVERY doc — the hot key the salting
    // spreads; distinctive bigrams stay cold
    val docs = (Seq(
      (1L, "common filler alpha beta gamma delta epsilon zeta"),
      (2L, "common filler alpha beta gamma delta epsilon eta"),
      (3L, "common filler alpha beta gamma delta theta iota")) ++
      (4L to 40L).map(i => (i, s"common filler unique$i words$i here$i now$i")))
      .toDF("doc_id", "text")
    def run(salt: Option[Int], g: Int = 4) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.2, maxShingleFreq = None,
        saltAbove = salt, saltGroups = g)
        .collect().map(r => (r.getString(0), r.getString(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    val plain = run(None)
    // salt EVERYTHING hot (threshold 2 → "common filler" + the shared
    // alpha..epsilon run all route through the triangle tasks)
    assert(run(Some(2)) == plain, "salted pairs diverge from plain join")
    // degenerate group counts still exact (g=1 → one task; g > rows)
    assert(run(Some(2), g = 1) == plain)
    assert(run(Some(2), g = 64) == plain)
    assert(plain.exists(p => p._1 == "1" && p._2 == "2"))
  }

  test("bucketPairs emits exactly the all-pairs-per-bucket multiset (skewed buckets, caps, salting)") {
    val sp = spark; import sp.implicits._
    // skewed: bucket 0 takes ~1/3 of the rows, bucket 1 ~1/6, the rest
    // spread over 30 small buckets; a few null keys and repeated keys
    // (both count toward a bucket's size but never pair)
    val rnd = new scala.util.Random(29)
    val rows = (0 until 360).map { i =>
      val b = rnd.nextInt(6) match {
        case 0 | 1 => 0
        case 2 => 1
        case _ => 2 + rnd.nextInt(30)
      }
      (b, if (i % 41 == 0) None else Some(rnd.nextInt(300).toLong))
    }
    val df = rows.toDF("b", "k").select(col("b"), struct(col("k")).as("m"))
    def model(cap: Option[Int]): Map[(Long, Long), Int] =
      rows.groupBy(_._1).values
        .filter(_.size <= cap.getOrElse(Int.MaxValue))
        .flatMap(rs => for ((_, Some(a)) <- rs; (_, Some(b)) <- rs if a < b) yield (a, b))
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
    val binding = Some(40) // drops buckets 0 and 1, keeps the tail
    assert(model(binding).nonEmpty && model(binding).size < model(None).size)
    for (cap <- Seq(None, binding); salt <- Seq(None, Some(1)); g <- Seq(1, 4, 64)) {
      val got = Dedup.bucketPairs(df, Seq("b"), cap, salt, g)
        .select(col("a.k"), col("b.k")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
      val want = model(cap)
      assert(got == want, s"cap=$cap saltAbove=$salt g=$g: " +
        s"missing=${(want.toSet -- got.toSet).take(5)} extra=${(got.toSet -- want.toSet).take(5)}")
    }
  }

  test("ngram jaccard over a persisted input: identical rows, one scan of the cache") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val docs = (Seq(
      (1L, "common filler alpha beta gamma delta epsilon zeta"),
      (2L, "common filler alpha beta gamma delta epsilon eta"),
      (3L, "common filler alpha beta gamma delta theta iota")) ++
      (4L to 40L).map(i => (i, s"common filler unique$i words$i here$i now$i")))
      .toDF("doc_id", "text")
    val cached = docs.select("*").persist()
    cached.count()
    try {
      val helper = new AdaptiveSparkPlanHelper {}
      def run(in: DataFrame, salt: Option[Int], g: Int) = {
        val out = Dedup.ngramJaccardPairs(in, "doc_id", "text",
          threshold = 0.2, maxShingleFreq = None, saltAbove = salt, saltGroups = g)
        val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
          .sortBy(r => (r._1, r._2)).toSeq
        val scans = helper.collect(out.queryExecution.executedPlan) {
          case s: InMemoryTableScanExec => s
        }
        (rows, scans.size)
      }
      val (plain, _) = run(docs, None, 8)
      assert(plain.exists(p => p._1 == "1" && p._2 == "2"))
      for ((salt, g) <- Seq(None -> 8, Some(2) -> 1, Some(2) -> 4, Some(2) -> 64)) {
        val (uncachedRows, _) = run(docs, salt, g)
        val (cachedRows, scans) = run(cached, salt, g)
        assert(uncachedRows == plain, s"uncached rows diverge at salt=$salt g=$g")
        assert(cachedRows == plain, s"cached rows diverge at salt=$salt g=$g")
        // a plan that reads the cached input once per join branch plans
        // each read as its own cache stage and reuses no exchange above it
        assert(scans <= 1, s"cached input scanned $scans times at salt=$salt g=$g")
      }
    } finally cached.unpersist(blocking = true)
  }

  test("maintained IVF: full-probe view == exact KNN after churn; reopen + pruning hold") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-store").toString
    val ivf = Ann.initIvfStore(embs.filter(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", nCells = 8, path)

    // DISJOINT change sets (the store contract is one op per key per
    // batch — Ingest.dedupePerKey guarantees it upstream): adds the
    // held-out third, shifts %10==1 of the rest, deletes %7==2 of what
    // remains
    val isAdd = col("vec_id") % 3 === 0
    val isUpd = !isAdd && col("vec_id") % 10 === 1
    val isDel = !isAdd && col("vec_id") % 10 =!= 1 && col("vec_id") % 7 === 2
    val adds = embs.filter(isAdd)
      .select(lit("upsert").as("op"), col("vec_id").cast("string").as("__key"),
        col("embedding").cast("array<float>").as("vec"))
    val updates = embs.filter(isUpd)
      .select(lit("upsert").as("op"), col("vec_id").cast("string").as("__key"),
        expr("transform(embedding, x -> cast(x + 10.0 as float))").as("vec"))
    val deletes = embs.filter(isDel)
      .select(lit("delete").as("op"), col("vec_id").cast("string").as("__key"),
        lit(null).cast("array<float>").as("vec"))
    ivf.applyBatch(adds.unionByName(updates).unionByName(deletes))

    // the corpus the changes describe
    val merged = embs.filter(!isDel)
      .select(col("vec_id").cast("string").as("__key"),
        when(isUpd, expr("transform(embedding, x -> cast(x + 10.0 as float))"))
          .otherwise(col("embedding").cast("array<float>")).as("vec"))
    val q = Array.tabulate(64)(i => math.cos(i * 0.37).toFloat)
    // full probes ⇒ maintained view must EQUAL exact KNN (keys + order)
    val got = ivf.view.search(q, k = 15, nProbe = 8, metric = "L2")
      .collect().map(_.getString(0)).toSeq
    val exact = Ann.topK(merged, "__key", "vec", q, k = 15, metric = "L2")
      .collect().map(_.getString(0)).toSeq
    assert(got == exact, s"maintained IVF diverged from exact\n$got\n$exact")

    // reopen from disk (manifest) — same result
    val re = Ann.openIvfStore(spark, path)
    assert(re.view.search(q, k = 15, nProbe = 8, metric = "L2")
      .collect().map(_.getString(0)).toSeq == got)

    // partition pruning reaches BOTH branches: a 2-probe search scans
    // only the probed cell_id dirs of main and delta
    val pruned = re.view.search(q, k = 5, nProbe = 2, metric = "L2")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("cell_id"), s"no partition filter:\n$pruned")

    // compaction keeps the view identical and empties the segments
    re.store.compact()
    assert(re.store.deltaSize == 0 && re.store.tombSize == 0)
    assert(re.view.search(q, k = 15, nProbe = 8, metric = "L2")
      .collect().map(_.getString(0)).toSeq == got)
  }

  test("maintained IVF: drift ratio flags a moved distribution, stays ~1 in-distribution") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-drift").toString
    val ivf = Ann.initIvfStore(embs.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nCells = 8, path)
    assert(ivf.baselineAssignDist.exists(_ > 0), "no baseline recorded at init")
    assert(ivf.lastDriftRatio.isEmpty)

    // in-distribution batch (the held-out half of the SAME corpus):
    // mean assignment distance tracks the baseline
    ivf.applyBatch(embs.filter(col("vec_id") % 2 === 1)
      .select(lit("upsert").as("op"), col("vec_id").cast("string").as("__key"),
        col("embedding").cast("array<float>").as("vec")))
    val inDist = ivf.lastDriftRatio.get
    assert(inDist > 0.5 && inDist < 1.5, s"in-distribution ratio off: $inDist")

    // moved distribution: vectors shifted far outside every frozen cell
    // → the ratio must flag it (re-init signal)
    ivf.applyBatch(embs.filter(col("vec_id") % 2 === 1).limit(50)
      .select(lit("upsert").as("op"),
        concat(lit("m"), col("vec_id")).cast("string").as("__key"),
        expr("transform(embedding, x -> cast(x + 100.0 as float))").as("vec")))
    val moved = ivf.lastDriftRatio.get
    assert(moved > 3.0, s"moved distribution not flagged: $moved")

    // the baseline survives a reopen
    val re = Ann.openIvfStore(spark, path)
    assert(re.baselineAssignDist == ivf.baselineAssignDist)
  }

  test("maintained IVF: drift response re-inits centroids, recall recovers, store reopens") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-reinit").toString
    val ivf = Ann.initIvfStore(embs, "vec_id", "embedding", nCells = 8, path)

    // healthy store: below the threshold, maybeReinit is a no-op
    assert(Ann.maybeReinit(ivf, path, nCells = 8).isEmpty)

    // the distribution moves: every key shifts far outside the frozen
    // cells (upsert SUPERSEDES in place, so the live corpus IS moved)
    val moved = embs.select(lit("upsert").as("op"),
      col("vec_id").cast("string").as("__key"),
      expr("transform(embedding, x -> cast(x + 100.0 as float))").as("vec"))
    ivf.applyBatch(moved)
    assert(ivf.lastDriftRatio.exists(_ > 3.0), s"drift: ${ivf.lastDriftRatio}")

    // BEFORE re-init: the frozen centroids all sit ~100 away from every
    // vector, so cells no longer separate the data — a 2-of-8 probe
    // has degraded recall. After re-init the quantizer fits again.
    val q = Queries.queryVec.map(_ + 100.0f)
    val exact = Ann.topK(ivf.view.assigned, "__key", "vec", q, 10, "L2")
      .collect().map(_.getString(0)).toSeq

    val re = Ann.maybeReinit(ivf, path, nCells = 8)
    assert(re.isDefined, "drift past threshold must trigger re-init")
    val fresh = re.get
    // new centroids actually moved with the data
    assert(fresh.centroids.head.head > 50.0,
      s"centroids not re-initialized: ${fresh.centroids.head.head}")
    // full probe ≡ exact on the SAME live rows (rebuild lost nothing)
    val full = fresh.view.search(q, 10, nProbe = 8, "L2")
      .collect().map(_.getString(0)).toSeq
    assert(full == exact)
    // partial probe has sane recall again on the moved distribution
    val probed = fresh.view.search(q, 10, nProbe = 2, "L2")
      .collect().map(_.getString(0)).toSet
    assert(probed.intersect(exact.toSet).size >= 5,
      s"recall did not recover: ${probed.intersect(exact.toSet).size}/10")
    // the re-initialized generation is what a restart opens
    val reopened = Ann.openIvfStore(spark, path)
    assert(reopened.baselineAssignDist == fresh.baselineAssignDist)
    assert(reopened.view.search(q, 10, nProbe = 8, "L2")
      .collect().map(_.getString(0)).toSeq == exact)
    // an in-(new)-distribution batch reads healthy drift (~1)
    fresh.applyBatch(embs.limit(64).select(lit("upsert").as("op"),
      concat(lit("n"), col("vec_id")).cast("string").as("__key"),
      expr("transform(embedding, x -> cast(x + 100.0 as float))").as("vec")))
    assert(fresh.lastDriftRatio.exists(r => r > 0.5 && r < 1.5),
      s"post-reinit drift off: ${fresh.lastDriftRatio}")
  }

  test("IVF search: nProbe=all equals exact top-k; nProbe=2 has sane recall") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val exact = Ann.topK(embs, "vec_id", "embedding", Queries.queryVec, 10)
      .collect().map(_.getString(0)).toSeq
    val ivf = Ann.buildIvf(embs, "vec_id", "embedding", nCells = 8)
    val full = ivf.search(Queries.queryVec, 10, nProbe = 8)
      .collect().map(_.getString(0)).toSeq
    assert(full == exact) // probing every cell ≡ exact
    val probed = ivf.search(Queries.queryVec, 10, nProbe = 2)
      .collect().map(_.getString(0)).toSet
    assert(probed.intersect(exact.toSet).size >= 5) // ≥50% recall at 1/4 cells
  }

  test("tag folding is ASCII-only on both sides (tag.cc:87)") {
    val sp = spark; import sp.implicits._
    val df = Seq(("k1", "RED,CAFÉ")).toDF("k", "tags")
    val schema = graft.model.IndexSchema("asciitags",
      Seq(graft.model.FieldDef("tags", graft.model.TagField())))
    val e = new graft.engine.SearchEngine().createIndex(schema,
      graft.sources.Documents.enrich(df, schema, keyExpr = Some(col("k"))))
    assert(e.search("asciitags", "@tags:{caFÉ}").count() == 1) // a-z folds
    assert(e.search("asciitags", "@tags:{café}").count() == 0) // É does not
    assert(e.search("asciitags", "@tags:{red}").count() == 1)
  }

  test("text metrics: deterministic values on a known document") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = TextMetrics.annotate(df, "text").collect().head
    assert(r.getAs[Double]("n_tokens_ws") == 6.0)
    assert(r.getAs[Double]("n_tokens_bpe") == 6.0)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 3.0 / 6.0) < 1e-9) // the, on, the
    assert(math.abs(r.getAs[Double]("mean_token_len") - 17.0 / 6.0) < 1e-9)
    assert(r.getAs[String]("lang_pred") == "en")
  }

  test("winnowing fingerprint: deterministic, near-dups share most hashes") {
    val sp = spark; import sp.implicits._
    val df = docsDf
    val fps = df.select(col("doc_id"),
        TextMetrics.fingerprint("text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) == fps(4L)) // identical text → identical fingerprint
    val overlap = fps(1L).intersect(fps(2L)).size.toDouble /
      fps(1L).union(fps(2L)).size
    assert(overlap > 0.5) // near-dup shares most selected hashes
    assert(fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).union(fps(3L)).size < 0.2)
    // stable across evaluations
    val again = df.filter(col("doc_id") === 1)
      .select(TextMetrics.fingerprint("text")).collect().head.getSeq[Long](0).toSet
    assert(again == fps(1L))
  }
  test("dropNearDups keeps exactly one doc per duplicate chain") {
    val pairs = Dedup.minhashNearDups(docsDf, "doc_id", "text",
      shingleN = 2, threshold = 0.5)
    val kept = Dedup.dropNearDups(docsDf, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    // pairs (1,2),(1,4),(2,4) → drop 2 and 4, keep 1; 3 and 5 untouched
    assert(kept == Seq(1L, 3L, 5L))
  }

  test("tag SEPARATOR and CASESENSITIVE options (ft_create_parser.cc:57-58)") {
    val sp = spark; import sp.implicits._
    import graft.model._
    import graft.sources.Documents
    val df = Seq(("k1", "Red;BLUE"), ("k2", "blue;green"), ("k3", "RED"))
      .toDF("k", "colors")
    val e = new graft.engine.SearchEngine
    e.createIndex(IndexSchema("ci", Seq(FieldDef("colors", TagField(separator = ";")))),
      Documents.enrich(df, IndexSchema("ci", Seq(FieldDef("colors", TagField(separator = ";")))),
        keyExpr = Some(org.apache.spark.sql.functions.col("k"))))
    // case-insensitive (default): RED matches Red
    val ci = e.search("ci", "@colors:{red}").collect().map(_.getString(0)).sorted
    assert(ci.toSeq == Seq("k1", "k3"))
    val csSchema = IndexSchema("cs", Seq(FieldDef("colors", TagField(";", caseSensitive = true))))
    e.createIndex(csSchema, Documents.enrich(df, csSchema,
      keyExpr = Some(org.apache.spark.sql.functions.col("k"))))
    val cs = e.search("cs", "@colors:{blue}").collect().map(_.getString(0)).sorted
    assert(cs.toSeq == Seq("k2")) // BLUE no longer matches
  }
  test("IVF persisted partitionBy(cell_id): probes prune at storage level") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val ivf = Ann.buildIvf(embs, "vec_id", "embedding", nCells = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Ann.saveIvf(ivf, tmp)
    val loaded = Ann.loadIvf(spark, tmp, "vec_id", "embedding")
    // identical answers through the persisted layout
    val mem = ivf.search(Queries.queryVec, 10, nProbe = 3)
      .collect().map(_.getString(0)).toSeq
    val disk = loaded.search(Queries.queryVec, 10, nProbe = 3)
      .collect().map(_.getString(0)).toSeq
    assert(disk == mem)
    // partition pruning: the probe plan reads files from <= nProbe cell dirs
    val probed = loaded.search(Queries.queryVec, 10, nProbe = 3)
    val partCounts = probed.queryExecution.executedPlan.collectLeaves()
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    // the scan's selected partitions are exactly the probed cells
    assert(partCounts.nonEmpty && partCounts.head <= 3,
      s"partitions read: $partCounts")
  }

  // ------------------------- curation ------------------------------ //

  test("PII redaction: sequential passes, exact replacement counts, no false hits") {
    val sp = spark; import sp.implicits._
    import graft.pipeline.Curation
    val df = Seq(
      (1L, "write to alice.b+test@sub.ex-ample.org or call +1 555 123 4567 from 192.168.0.1"),
      (2L, "version 1.2.3.4567 is not an ip and user at host dot com is not an email"),
      (3L, "bare 8.8.8.8 and x@y.io and x@y.io twice"),
      (4L, "")).toDF("doc_id", "txt")
    val out = Curation.redactPii(df, "txt").collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("n_pii"), r.getAs[String]("redacted"))).toMap
    assert(out(1L) == ((3, "write to <EMAIL> or call <PHONE> from <IP>")))
    // 4-segment version string: the \b-bounded IPv4 must NOT half-match
    assert(out(2L)._1 == 0 && out(2L)._2.contains("1.2.3.4567"))
    assert(out(3L) == ((3, "bare <IP> and <EMAIL> and <EMAIL> twice")))
    assert(out(4L) == ((0, "")))
  }

  test("decontamination: n-gram hits are exact; anti-join removes only contaminated docs") {
    val sp = spark; import sp.implicits._
    import graft.pipeline.Curation
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val cands = Seq(
      // shares the full 9-word overlap → two distinct 8-grams
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota trailing"),
      // shares exactly one 8-gram (words 1..8)
      (2L, "alpha beta gamma delta epsilon zeta eta theta DIFFERENT"),
      // 7-word overlap only → clean at n=8
      (3L, "beta gamma delta epsilon zeta eta theta other words here"),
      // shorter than n → clean by definition
      (4L, "alpha beta gamma")).toDF("doc_id", "text")
    val hits = Curation.contaminationHits(cands, "doc_id", "text", bench, "text", n = 8)
      .collect().map(r => r.getAs[Long]("__key") -> r.getAs[Double]("n_hits")).toMap
    assert(hits == Map(1L -> 2.0, 2L -> 1.0))
    // tokenization folds case and punctuation: "DIFFERENT" vs "different,"
    val clean = Curation.decontaminate(cands, "doc_id", "text", bench, "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(3L, 4L))
  }

  test("hash sampling: deterministic, key-stable across partitionings, ~fraction sized") {
    val sp = spark; import sp.implicits._
    import graft.pipeline.Curation
    val df = (1L to 4000L).toDF("id")
    val a = Curation.sampleByHash(df, "id", 0.25).collect().map(_.getLong(0)).toSet
    val b = Curation.sampleByHash(df.repartition(7), "id", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partitioning")
    assert(math.abs(a.size - 1000) < 150, s"25% of 4000: got ${a.size}")
    // monotone: a smaller fraction is a subset of a larger one
    val small = Curation.sampleByHash(df, "id", 0.1).collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a) && small.nonEmpty)
  }

  test("sequence packing: docs start in the chunk where the running sum left them") {
    val sp = spark; import sp.implicits._
    import graft.pipeline.Curation
    val df = Seq( // shard s: 60+50+30 tokens at budget 100 → chunks 0,0,1
      ("s", 1L, 60), ("s", 2L, 50), ("s", 3L, 30),
      ("t", 7L, 250), ("t", 8L, 10)) // oversized doc spans chunks; next starts at its end
      .toDF("source", "doc_id", "n")
    val out = Curation.packSequences(df, "doc_id", tokens = col("n"),
      budget = 100, shardCols = Seq("source"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("chunk_id"), r.getAs[Long]("chunk_offset")))).toMap
    assert(out(1L) == ((0L, 0L)))
    assert(out(2L) == ((0L, 60L))) // starts inside chunk 0 at offset 60
    assert(out(3L) == ((1L, 10L))) // 110 tokens precede it → chunk 1, offset 10
    assert(out(7L) == ((0L, 0L)))
    assert(out(8L) == ((2L, 50L))) // 250 precede → chunk 2, offset 50
    // shards are independent: same result no matter how rows partition
    val again = Curation.packSequences(df.repartition(5), "doc_id",
      tokens = col("n"), budget = 100, shardCols = Seq("source"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("chunk_id"), r.getAs[Long]("chunk_offset")))).toMap
    assert(again == out)
  }

  test("repetition stats: known duplicate-line fractions, empty edge") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("a\nbb\na\n\ncc\na", 1), // lines a,bb,a,cc,a: L=5 D=3; chars tot=7 dup=2
      ("solo", 2),              // one line, nothing repeated
      ("", 3),                  // no lines at all
      ("x\nx", 4)               // fully repeated: fracs 1/2
    ).toDF("text", "id")
      .select(col("id"), TextMetrics.repetitionStats(col("text")).as("r"))
      .select(col("id"), col("r.n_lines"), col("r.dup_line_frac"),
        col("r.dup_char_frac"))
    val got = df.collect().map(r => r.getInt(0) ->
      ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1) == ((5, 2.0 / 5, 2.0 / 7)))
    assert(got(2) == ((1, 0.0, 0.0)))
    assert(got(3) == ((0, 0.0, 0.0)))
    assert(got(4) == ((2, 0.5, 0.5)))
  }

  test("stratified + temperature sampling: caps, determinism, tail upweighting") {
    val d = Fixtures.table(spark, "/root/testdata/sf0.001", "documents")
    val strat = Curation.sampleStratified(d, "doc_id", Seq("source"), perGroup = 10)
    val perGroup = strat.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val groupSizes = d.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    groupSizes.foreach { case (g, n) =>
      assert(perGroup.getOrElse(g, 0L) == math.min(10L, n),
        s"group $g: got ${perGroup.get(g)} of $n, want min(10, n)") }
    // key-stable under repartitioning
    def keys(df: DataFrame): Set[String] =
      df.select(col("doc_id").cast("string")).collect().map(_.getString(0)).toSet
    assert(keys(Curation.sampleStratified(d.repartition(7), "doc_id",
      Seq("source"), 10)) == keys(strat))
    // alpha = 1 degenerates to plain proportional hash sampling: the
    // threshold is target/total for EVERY group — the exact same rule
    // as sampleByHash, so the selected key sets must coincide
    val total = d.count()
    val t1 = Curation.sampleByTemperature(d, "doc_id", Seq("source"),
      alpha = 1.0, target = total / 3)
    val plain = Curation.sampleByHash(d, "doc_id",
      fraction = (total / 3).toDouble / total)
    assert(keys(t1) == keys(plain), "alpha=1 must equal proportional sampling")
    // alpha < 1 upweights the tail: the smallest group keeps a strictly
    // larger FRACTION of itself than the largest group
    val t05 = Curation.sampleByTemperature(d, "doc_id", Seq("source"),
      alpha = 0.25, target = total / 3)
    val kept = t05.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val (gMin, nMin) = groupSizes.minBy(_._2)
    val (gMax, nMax) = groupSizes.maxBy(_._2)
    if (nMin < nMax) {
      val fMin = kept.getOrElse(gMin, 0L).toDouble / nMin
      val fMax = kept.getOrElse(gMax, 0L).toDouble / nMax
      assert(fMin > fMax,
        s"alpha=0.25 should upweight $gMin ($fMin) over $gMax ($fMax)")
    }
    // determinism under repartitioning for the temperature path too
    assert(keys(Curation.sampleByTemperature(d.repartition(5), "doc_id",
      Seq("source"), alpha = 0.25, target = total / 3)) == keys(t05))
  }

  test("knn join: exact matches a naive model; IVF full-probe == exact; partial probe recalls") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val queries = embs.filter(col("vec_id") % 23 === 0)
    val base = embs.filter(col("vec_id") % 23 =!= 0)
    def rows(df: DataFrame): Seq[(String, Double, String, Long)] =
      df.collect().map(r => (r.getAs[String]("__key"),
        r.getAs[Double]("rk"), r.getAs[String]("neighbor"),
        math.round(r.getAs[Double]("distance") * 1e7))).toSeq
        .sortBy(t => (t._1.toLong, t._2))
    val exact = rows(Ann.knnJoinExact(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, metric = "COSINE"))
    // naive driver-side model over the collected vectors
    val qv = queries.collect().map(r => r.getAs[Long]("vec_id").toString ->
      r.getAs[Seq[Float]]("embedding").toArray).toSeq
    val bv = base.collect().map(r => r.getAs[Long]("vec_id").toString ->
      r.getAs[Seq[Float]]("embedding").toArray).toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      1.0 - d / math.sqrt(na * nb)
    }
    val naive = qv.flatMap { case (qk, q) =>
      bv.map { case (bk, b) => (qk, bk, cos(q, b)) }
        .sortBy(t => (t._3, t._2)).take(4).zipWithIndex
        .map { case ((_, bk, d), i) =>
          (qk, (i + 1).toDouble, bk, math.round(d * 1e7)) }
    }.sortBy(t => (t._1.toLong, t._2))
    assert(exact == naive, "knnJoinExact diverges from the naive model")
    // probing every cell reproduces the exact join bit-for-bit
    val full = rows(Ann.knnJoinIvf(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, nCells = 8, nProbe = 8,
      metric = "COSINE"))
    assert(full == exact, "full-probe IVF join must equal exact")
    // nProbe=2 of 8 cells: these embeddings are uniform-random (the
    // hardest case for IVF), so the pin is "probe ordering beats the
    // 2/8 = 0.25 random-cell baseline by a wide margin", not a high
    // absolute recall (measured ≈ 0.47 here).
    val part = rows(Ann.knnJoinIvf(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, nCells = 8, nProbe = 2,
      metric = "COSINE")).groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    val byQ = exact.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    val recall = byQ.map { case (k, nn) =>
      part.getOrElse(k, Set.empty).intersect(nn).size.toDouble / nn.size }
    assert(recall.sum / recall.size >= 0.4,
      s"mean recall@4 at nProbe 2/8 too low: ${recall.sum / recall.size}")
    // every query emits exactly k ranked rows
    assert(exact.groupBy(_._1).values.forall(_.map(_._2).sorted ==
      Seq(1.0, 2.0, 3.0, 4.0)))
  }

  test("boilerplate removal: frequent lines vanish, structure survives") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "HEAD\nunique one\n\nFOOT"),
      (2L, "HEAD\nunique two\nFOOT"),
      (3L, "HEAD\nunique three\nFOOT"),
      (4L, "HEAD\nFOOT"),            // all non-empty lines are boilerplate
      (5L, "HEAD\nHEAD\nsolo\nFOOT") // repeated boiler line in one doc
    ).toDF("doc_id", "text")
    val out = Curation.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("unique one\n", 2)))  // empty line survives
    assert(out(2L) == (("unique two", 2)))
    assert(out(3L) == (("unique three", 2)))
    assert(out(4L) == (("", 2)))              // doc survives empty
    assert(out(5L) == (("solo", 3)))          // both HEAD occurrences count
    // below threshold nothing is removed
    val none = Curation.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 6)
      .collect().map(r => r.getInt(2)).sum
    assert(none == 0)
  }

  test("token chunking: coverage, overlap and tail invariants") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, (1 to 32).map(i => s"u$i").mkString(" ")),  // exactly one window
      (3L, "a b c"),                                   // shorter than size
      (4L, "")                                         // empty doc
    ).toDF("doc_id", "text")
    val out = Curation.chunkTokens(docs, "doc_id", "text", size = 32, overlap = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    val byDoc = out.groupBy(_._1)
    // doc 1: stride 24 → chunks at 0,24,48,72 → ceil((100-8)/24)=4
    assert(byDoc(1L).length == 4)
    assert(byDoc(1L).map(_._4).toSeq == Seq(32, 32, 32, 28)) // short tail
    // consecutive chunks share exactly `overlap` tokens
    val c0 = byDoc(1L)(0)._3.split(" "); val c1 = byDoc(1L)(1)._3.split(" ")
    assert(c0.takeRight(8).toSeq == c1.take(8).toSeq)
    // full coverage, in order, no token lost
    assert(byDoc(1L).flatMap(c => c._3.split(" ").drop(if (c._2 == 0) 0 else 8))
      .toSeq == (1 to 100).map(i => s"t$i"))
    assert(byDoc(2L).map(t => (t._2, t._4)).toSeq == Seq((0, 32)))
    assert(byDoc(3L).map(t => (t._3, t._4)).toSeq == Seq(("a b c", 3)))
    assert(byDoc(4L).map(t => (t._3, t._4)).toSeq == Seq(("", 0)))
  }

  test("token chunking: fuzz vs a Scala model over random size/overlap") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(424242L)
    val words = Vector("aa", "b", "ccc", "d1", "e")
    val docs = (1L to 40L).map(id =>
      (id, Vector.fill(rnd.nextInt(50))(words(rnd.nextInt(words.size)))
        .mkString(" "))).toDF("doc_id", "text")
    for (_ <- 1 to 8) {
      val size = 1 + rnd.nextInt(12)
      val overlap = rnd.nextInt(size)
      val stride = size - overlap
      val got = Curation.chunkTokens(docs, "doc_id", "text", size, overlap)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getString(2), r.getInt(3)))).toMap
      val expected = docs.collect().flatMap { r =>
        val id = r.getLong(0)
        val w = r.getString(1).split(" ").filter(_.nonEmpty).toVector
        val m = math.max(1, ((w.length - overlap + stride - 1).toDouble / stride).floor.toInt)
        (0 until m).map { i =>
          val slice = w.slice(i * stride, i * stride + size)
          (id, i) -> ((slice.mkString(" "), math.min(size, w.length - i * stride)))
        }
      }.toMap
      assert(got == expected, s"size=$size overlap=$overlap")
    }
  }

  test("scalar quantization: grid error bound, re-rank recall and exactness") {
    val e = Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val quant = Ann.sqQuantize(e, "embedding")
    // per-component reconstruction error ≤ scale/2 (the int8 grid bound)
    val bad = quant.select(col("embedding"), col("__sq.scale").as("s"),
        col("__sq.code").as("c"))
      .collect().count { r =>
        val v = r.getSeq[Float](0); val s = r.getFloat(1)
        val c = r.getSeq[Byte](2)
        v.indices.exists(i => math.abs(v(i) - s * c(i)) > s / 2 + 1e-7)
      }
    assert(bad == 0, s"$bad vectors violate the grid error bound")
    // two-stage search: ≥ 0.9 recall vs exact float32 top-10, and the
    // returned distances are EXACT (stage 2 re-scores on the floats)
    val qv = Array.tabulate(64)(i => ((i * 7) % 13) * 0.0625f - 0.375f)
    val sq = Ann.topKSq(quant, "vec_id", "embedding", qv, k = 10,
      metric = "L2").collect()
    val exact = Ann.topK(e, "vec_id", "embedding", qv, k = 10,
      metric = "L2").collect()
    val exactMap = exact.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hit = sq.count(r => exactMap.contains(r.getString(0)))
    assert(hit >= 9, s"SQ recall too low: $hit/10")
    sq.foreach { r =>
      exactMap.get(r.getString(0)).foreach(d =>
        assert(r.getDouble(1) == d, s"re-ranked distance not exact for ${r.getString(0)}"))
    }
    // degenerate vectors survive the encode (scale 0, all-zero codes)
    val sp = spark
    import sp.implicits._
    val z = Ann.sqQuantize(
      Seq((1L, Array.fill(8)(0f))).toDF("vec_id", "embedding"), "embedding")
      .select(col("__sq.scale"), col("__sq.code")).head()
    assert(z.getFloat(0) == 0f && z.getSeq[Byte](1).forall(_ == 0))
  }

  test("quantized knn join: high recall, exact re-ranked distances") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val queries = embs.filter(col("vec_id") % 23 === 0)
    val base = embs.filter(col("vec_id") % 23 =!= 0)
    val exact = Ann.knnJoinExact(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, metric = "L2").collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("neighbor")) ->
        r.getAs[Double]("distance")).toMap
    val sq = Ann.knnJoinSq(queries, "vec_id", "embedding",
      Ann.sqQuantize(base, "embedding"), "vec_id", "embedding",
      k = 4, metric = "L2").collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("neighbor")) ->
        r.getAs[Double]("distance"))
    val hit = sq.count { case (pair, _) => exact.contains(pair) }
    assert(hit.toDouble / exact.size >= 0.95, s"SQ join recall: $hit/${exact.size}")
    // wherever the pair agrees, the distance must be the EXACT float32
    // value (stage 2 re-scored on the original vectors)
    sq.foreach { case (pair, d) =>
      exact.get(pair).foreach(ed => assert(d == ed, s"distance not exact for $pair")) }
    // full k rows per query
    assert(sq.length == exact.size)
  }

  test("knn join via NSW: high recall vs exact; deleted nodes never surface") {
    import graft.pipeline.Nsw
    val sp = spark
    import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val queries = embs.filter(col("vec_id") % 23 === 0)
    val base = embs.filter(col("vec_id") % 23 =!= 0)
    val idx = Nsw.build(base, "vec_id", "embedding", metric = "L2",
      numPartitions = 4)
    def pairs(df: DataFrame): Set[(String, String)] =
      df.collect().map(r => (r.getAs[String]("__key"),
        r.getAs[String]("neighbor"))).toSet
    val exact = pairs(Ann.knnJoinExact(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, metric = "L2"))
    val nsw = Ann.knnJoinNsw(idx, queries, "vec_id", "embedding", k = 4, ef = 100)
    val nswPairs = pairs(nsw)
    // full k rows per query, rank shape intact
    assert(nsw.count() == exact.size,
      s"NSW join row count ${nsw.count()} != exact ${exact.size}")
    val recall = nswPairs.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"NSW join recall too low: $recall")
    // delete every key the exact join surfaced for the first query; the
    // joined neighbors must come from the survivors only
    val victimQ = exact.map(_._1).min
    val victims = exact.collect { case (q, n) if q == victimQ => n }
    val dels = victims.toSeq.toDF("__key")
      .select(lit("delete").as("op"), col("__key"),
        lit(null).cast("array<float>").as("vec"))
    val idx2 = Nsw.upsert(idx, dels)
    val after = Ann.knnJoinNsw(idx2, queries.filter(col("vec_id") === victimQ.toLong),
      "vec_id", "embedding", k = 4, ef = 100)
    val afterN = after.collect().map(_.getAs[String]("neighbor")).toSet
    assert(afterN.intersect(victims).isEmpty,
      s"deleted keys surfaced: ${afterN.intersect(victims)}")
    assert(after.count() == 4, "join must refill to k from surviving nodes")
  }

  test("topKSq stage 1 scans only key + int8 codes; float column read for candidates only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val e = Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-sq-scan").toString
    // the deployment shape: the quantized corpus is PERSISTED and the
    // search plans over the parquet table, so scan pruning is visible
    Ann.sqQuantize(e, "embedding").write.mode("overwrite").parquet(dir)
    val quant = spark.read.parquet(dir)
    val qv = Array.tabulate(64)(i => ((i * 7) % 13) * 0.0625f - 0.375f)
    val plan = Ann.topKSq(quant, "vec_id", "embedding", qv, k = 10, metric = "L2")
    val scans = plan.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet }
    // stage 1 (candidate scan): __sq + key, NO float vector column —
    // the whole point of SQ is that the corpus-wide pass reads 4× less
    val stage1 = scans.filter(_.contains("__sq"))
    assert(stage1.nonEmpty, s"no scan reads __sq: $scans")
    stage1.foreach(s => assert(!s.contains("embedding"),
      s"stage-1 scan reads the float column too: $s"))
    // stage 2 (re-rank): float column + key, no __sq
    val stage2 = scans.filter(_.contains("embedding"))
    assert(stage2.nonEmpty && stage2.forall(!_.contains("__sq")),
      s"re-rank scan shape wrong: $scans")
    // and the two-stage result still matches exact top-k semantics
    val sq = plan.collect().map(_.getString(0)).toSet
    val exact = Ann.topK(e, "vec_id", "embedding", qv, k = 10, metric = "L2")
      .collect().map(_.getString(0)).toSet
    assert(sq.intersect(exact).size >= 9, s"recall broke: ${sq.intersect(exact).size}/10")
  }

  test("knnJoin auto-plan: choosePlan pins the measured sweep regimes") {
    import Ann.{JoinShape, choosePlan}
    // regime 1 (sweep: exact beat both approximate plans below ~2e10
    // score-flops — its mid batch 962×92.3k×32 ≈ 2.8e9 → exact; the
    // big clustered batch 7693×92.3k×32 ≈ 2.3e10 is past the budget
    // and IVF measured faster there, 2.5 vs 3.3 s): small cross
    // product → exact regardless of shape, boundary+clustered → ivf
    assert(choosePlan(JoinShape(100, 10000, 32, 0.9), nswAvailable = true) == "exact")
    assert(choosePlan(JoinShape(962, 92300, 32, 0.2), nswAvailable = true) == "exact")
    assert(choosePlan(JoinShape(7693, 92300, 32, 0.2), nswAvailable = true) == "ivf")
    // regime 2: query side beyond broadcast → ivf (the only plan that
    // shuffles the batch instead of broadcasting it)
    assert(choosePlan(JoinShape(1000000, 100000000L, 32, 0.9), nswAvailable = true) == "ivf")
    // regime 3 (sweep: clustered corpus → IVF r=1.0 where NSW needs
    // ef=400 for 0.92): clustered → ivf
    assert(choosePlan(JoinShape(10000, 100000000L, 32, 0.2), nswAvailable = true) == "ivf")
    // regime 4 (sweep: uniform corpus → IVF r≈0.45, NSW r≈1.0):
    // uniform → nsw with a graph, sq without one (L2/IP), exact-cosine
    // fallback without either
    assert(choosePlan(JoinShape(10000, 100000000L, 32, 0.9), nswAvailable = true) == "nsw")
    assert(choosePlan(JoinShape(10000, 100000000L, 32, 0.9), nswAvailable = false,
      metric = "L2") == "sq")
    assert(choosePlan(JoinShape(10000, 100000000L, 32, 0.9), nswAvailable = false,
      metric = "COSINE") == "exact")
    // a supplied PQ codebook outranks sq in the quantized regime (m-byte
    // scan vs 64-byte), never beats a graph, and never applies to cosine
    assert(choosePlan(JoinShape(10000, 100000000L, 32, 0.9), nswAvailable = false,
      metric = "L2", pqAvailable = true) == "pq")
    assert(choosePlan(JoinShape(10000, 100000000L, 32, 0.9), nswAvailable = true,
      metric = "L2", pqAvailable = true) == "nsw")
    assert(choosePlan(JoinShape(10000, 100000000L, 32, 0.9), nswAvailable = false,
      metric = "COSINE", pqAvailable = true) == "exact")
  }

  test("probeShape separates clustered from uniform corpora; facade matches exact") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    // clustered: 3 tight clusters far apart → nnRatio near 0
    val clustered = (0 until 3).flatMap { c =>
      (0 until 400).map { i =>
        (c * 400L + i, Array.tabulate(16)(j =>
          (c * 20.0 + rnd.nextGaussian() * 0.05 + j * 0.01).toFloat))
      }
    }.toDF("id", "vec")
    // uniform high-dim: concentration of measure → nnRatio near 1
    val uniform = (0 until 1200).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vec")
    val qs = uniform.limit(5)
    val shapeC = Ann.probeShape(qs, "vec", clustered, "vec")
    val shapeU = Ann.probeShape(qs, "vec", uniform, "vec")
    assert(shapeC.nnRatio < 0.45, s"clustered nnRatio ${shapeC.nnRatio}")
    assert(shapeU.nnRatio > 0.45, s"uniform nnRatio ${shapeU.nnRatio}")
    assert(shapeC.dim == 16 && shapeC.nBase == 1200)
    // end-to-end facade: auto choice on a small corpus is the exact
    // plan and matches knnJoinExact bit-for-bit
    val auto = Ann.knnJoin(qs, "id", "vec", uniform, "id", "vec",
      k = 3, metric = "L2").collect().map(_.toSeq).toSeq
    val exact = Ann.knnJoinExact(qs, "id", "vec", uniform, "id", "vec",
      k = 3, metric = "L2").collect().map(_.toSeq).toSeq
    assert(auto == exact)
  }

  test("topKAuto: chooseQueryPlan pins the single-query regimes") {
    import Ann.{QueryShape, chooseQueryPlan}
    def cqp(n: Long, ratio: Double, ivf: Boolean, nsw: Boolean, sq: Boolean,
            metric: String = "COSINE") =
      chooseQueryPlan(QueryShape(n, 64, ratio), ivfAvailable = ivf,
        nswAvailable = nsw, sqAvailable = sq, metric = metric)
    // small corpus: exact beats every index (regardless of availability)
    assert(cqp(10000, 0.9, ivf = true, nsw = true, sq = true) == "exact")
    // big CLUSTERED corpus with a built IVF index: cell pruning is
    // recall-safe there (sweep r=1.0) and reads nProbe/nCells of the data
    assert(cqp(100000000L, 0.2, ivf = true, nsw = true, sq = true) == "ivf")
    // clustered but NO ivf built: graph beam next
    assert(cqp(100000000L, 0.2, ivf = false, nsw = true, sq = true) == "nsw")
    // big UNIFORM corpus: cell pruning collapses (sweep r≈0.45) — graph
    assert(cqp(100000000L, 0.9, ivf = true, nsw = true, sq = true) == "nsw")
    // no graph, pre-built int8 codes, L2: quantized scan + re-rank
    assert(cqp(100000000L, 0.9, ivf = false, nsw = false, sq = true,
      metric = "L2") == "sq")
    // sq is never chosen for cosine, or without PRE-BUILT codes
    assert(cqp(100000000L, 0.9, ivf = false, nsw = false, sq = true) == "exact")
    assert(cqp(100000000L, 0.9, ivf = false, nsw = false, sq = false,
      metric = "L2") == "exact")
    // pre-built PQ codes outrank int8 (m bytes vs 64), same guards
    assert(chooseQueryPlan(QueryShape(100000000L, 64, 0.9),
      ivfAvailable = false, nswAvailable = false, sqAvailable = true,
      metric = "L2", pqAvailable = true) == "pq")
    assert(chooseQueryPlan(QueryShape(100000000L, 64, 0.9),
      ivfAvailable = false, nswAvailable = true, sqAvailable = false,
      metric = "L2", pqAvailable = true) == "nsw")
    assert(chooseQueryPlan(QueryShape(100000000L, 64, 0.9),
      ivfAvailable = false, nswAvailable = false, sqAvailable = false,
      metric = "COSINE", pqAvailable = true) == "exact")
  }

  test("topKAuto: auto choice is exact on small corpora; overrides dispatch each arm") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(13)
    val df = (0 until 400).map(i =>
        (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val q = Array.fill(8)(rnd.nextGaussian().toFloat)
    def keys(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(_.getString(0)).toSeq
    val exact = Ann.topK(df, "id", "vec", q, k = 5, metric = "L2")
    // auto on a small corpus = the exact plan, bit-for-bit
    val auto = Ann.topKAuto(df, "id", "vec", q, k = 5, metric = "L2")
    assert(auto.collect().map(_.toSeq).toSeq == exact.collect().map(_.toSeq).toSeq)
    // ivf arm with FULL probes is exact on keys
    val ivf = Ann.buildIvf(df, "id", "vec", nCells = 4)
    val viaIvf = Ann.topKAuto(df, "id", "vec", q, k = 5, metric = "L2",
      plan = Some("ivf"), ivf = Some(ivf), nProbe = Some(ivf.centroids.length))
    assert(keys(viaIvf) == keys(exact))
    // sq arm (pre-quantized codes) recovers the exact top-5 here
    val viaSq = Ann.topKAuto(Ann.sqQuantize(df, "vec"), "id", "vec", q,
      k = 5, metric = "L2", plan = Some("sq"))
    assert(keys(viaSq) == keys(exact))
    // nsw arm returns k results with high overlap on a tiny graph
    val nswIdx = Nsw.build(df, "id", "vec", metric = "L2", numPartitions = 2)
    try {
      val viaNsw = Ann.topKAuto(df, "id", "vec", q, k = 5, metric = "L2",
        plan = Some("nsw"), nsw = Some(nswIdx), ef = 200)
      assert(keys(viaNsw).count(keys(exact).contains) >= 4)
    } finally nswIdx.unpersistIndex()
    // pq arm (trained codebook; dim 8 / m 4) recovers the exact top-5
    val pqModel = Ann.trainPq(df, "vec", m = 4)
    val viaPq = Ann.topKAuto(Ann.pqEncode(df, "vec", pqModel), "id", "vec", q,
      k = 5, metric = "L2", plan = Some("pq"), pq = Some(pqModel))
    assert(keys(viaPq) == keys(exact))
    // index-requiring overrides without the index fail loudly
    intercept[IllegalArgumentException] {
      Ann.topKAuto(df, "id", "vec", q, k = 5, plan = Some("ivf"))
    }
    intercept[IllegalArgumentException] {
      Ann.topKAuto(df, "id", "vec", q, k = 5, plan = Some("nsw"))
    }
    intercept[IllegalArgumentException] {
      Ann.topKAuto(df, "id", "vec", q, k = 5, metric = "L2", plan = Some("pq"))
    }
  }

  test("kmeans centroids and drift baseline are input-layout-invariant") {
    val sp = spark
    import sp.implicits._
    // 3 well-separated clusters, CORPUS SORTED BY CLUSTER — the layout
    // (one source per file block) where a first-rows limit() sample
    // would see only cluster 0 and starve the other cells
    val rnd = new scala.util.Random(7)
    val rows = (0 until 3).flatMap { c =>
      (0 until 1000).map { i =>
        (c * 1000L + i,
          Array.tabulate(8)(j => (c * 10.0 + rnd.nextGaussian() * 0.1 + j * 0.01).toFloat))
      }
    }
    val sorted = rows.toDF("id", "vec").repartition(1)
      .sortWithinPartitions("id")
    val shuffled = rows.toDF("id", "vec").repartition(6, col("id"))
    val cSorted = Ann.kmeansCentroids(sorted, "vec", nCells = 3, sampleSize = 512)
    val cShuffled = Ann.kmeansCentroids(shuffled, "vec", nCells = 3, sampleSize = 512)
    assert(cSorted.map(_.toSeq).toSeq == cShuffled.map(_.toSeq).toSeq,
      "centroids differ across input layouts")
    // every cluster is represented: each true center has a centroid
    // within its own spread (first-rows sampling would leave 2 of 3
    // centers > 9 units from every centroid)
    (0 until 3).foreach { c =>
      val center = Array.tabulate(8)(j => c * 10.0 + j * 0.01)
      val nearest = cSorted.map(cd =>
        math.sqrt(cd.zip(center).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(nearest < 1.0, s"cluster $c unrepresented (nearest centroid $nearest away)")
    }
  }

  // ---- connected components ------------------------------------- //

  /** Reference CC labeling: per-node least reachable key, by BFS. */
  private def ccModel(edges: Seq[(String, String)]): Map[String, String] = {
    val adj = scala.collection.mutable.HashMap.empty[String, List[String]]
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil); adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val label = scala.collection.mutable.HashMap.empty[String, String]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!label.contains(start)) {
        val comp = scala.collection.mutable.Set(start)
        val queue = scala.collection.mutable.Queue(start)
        while (queue.nonEmpty)
          adj(queue.dequeue()).foreach(n =>
            if (comp.add(n)) queue.enqueue(n))
        val root = comp.min
        comp.foreach(n => label(n) = root)
      }
    }
    label.toMap
  }

  test("dupClusters: distributed star rounds == local union-find == BFS model") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    for (density <- Seq(0.5, 1.5, 3.0)) {
      val n = 40
      val edges = Seq.fill((n * density).toInt)(
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")).filter(p => p._1 != p._2)
      val df = edges.toDF("key_a", "key_b")
      val expected = ccModel(edges)
      def got(threshold: Long): Map[String, String] =
        Dedup.dupClusters(df, localEdgeThreshold = threshold).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got(1L << 20) == expected, s"local path wrong at density $density")
      assert(got(0L) == expected, s"distributed path wrong at density $density")
    }
  }

  test("dupClusters resolves a long chain (worst-diameter graph) transitively") {
    val sp = spark; import sp.implicits._
    // path graph a000-a001-...-a127: one component, root = a000
    val edges = (0 until 127).map(i => (f"a$i%03d", f"a${i + 1}%03d"))
    val clusters = Dedup.dupClusters(edges.toDF("key_a", "key_b"),
        localEdgeThreshold = 0).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.size == 128 && clusters.values.forall(_ == "a000"))
  }

  test("dedupTransitive keeps one per component where greedy keeps two") {
    val sp = spark; import sp.implicits._
    // a-c and b-c pair, a-b never directly: one component {a,b,c}
    val docs = Seq(("a", "x"), ("b", "y"), ("c", "z")).toDF("k", "t")
    val pairs = Seq(("a", "c"), ("b", "c")).toDF("key_a", "key_b")
    val greedy = Dedup.dropNearDups(docs, "k", pairs)
      .select("k").collect().map(_.getString(0)).toSet
    val transitive = Dedup.dedupTransitive(docs, "k", pairs)
      .select("k").collect().map(_.getString(0)).toSet
    assert(greedy == Set("a", "b"), "greedy drops only pair-greater keys")
    assert(transitive == Set("a"), "components keep exactly one representative")
  }

  test("semanticNearDups: identical embeddings always pair; semanticDedup keeps one per component") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    // 3 blobs around ORTHOGONAL directions (10·e_{2b}) with noise wide
    // enough that distinct members stay below cos 0.99 by a margin
    // (angle ≈ 0.5 rad) while identical copies sit at exactly 1.0 —
    // the only pairs at the threshold are the planted ones
    val rows = for {
      blob <- 0 until 3; i <- 0 until 12
    } yield (s"b$blob-$i",
      Array.tabulate(8)(j => ((if (j == 2 * blob) 10.0 else 0.0)
        + rnd.nextGaussian() * 1.5).toFloat))
    val planted = rows.filter(_._1.endsWith("-0")).map { case (k, v) => (s"copy-$k", v) }
    val df = (rows ++ planted).toDF("k", "v")
    val pairs = Dedup.semanticNearDups(df, "k", "v", minCosine = 0.99, nCells = 3)
      .collect().map(r => Set(r.getString(0), r.getString(1)))
    planted.foreach { case (ck, _) =>
      val orig = ck.stripPrefix("copy-")
      assert(pairs.exists(p => p(ck) && p(orig)), s"planted pair ($orig,$ck) missed")
    }
    val survivors = Dedup.semanticDedup(df, "k", "v", minCosine = 0.99, nCells = 3)
      .select("k").collect().map(_.getString(0)).toSet
    planted.foreach { case (ck, _) =>
      val orig = ck.stripPrefix("copy-")
      assert(survivors(ck) ^ survivors(orig), s"expected exactly one of ($orig,$ck)")
    }
    // non-duplicated rows all survive
    rows.filterNot(_._1.endsWith("-0")).foreach { case (k, _) =>
      assert(survivors(k), s"unpaired row $k dropped")
    }
  }

  test("autoCells: √n clamped [16, 4096] — the shared corpus-scaled default") {
    assert(Ann.autoCells(0) == 16)
    assert(Ann.autoCells(256) == 16)
    assert(Ann.autoCells(10000) == 100)
    assert(Ann.autoCells(1000000) == 1000)
    assert(Ann.autoCells(100000000L) == 4096)
    assert(Ann.autoCells(100000000000L) == 4096) // 100 TB-ish row counts stay capped
  }

  test("semanticNearDups in-cell scoring is grouped, not a row-materialized pair join") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(3)
    val df = (0 until 300).map(i =>
        (s"k$i", Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("k", "v")
    val pairs = Dedup.semanticNearDups(df, "k", "v", minCosine = 0.2, nCells = 4)
    // plan shape: ONE grouped pass per cell (flatMapGroups after a
    // shuffle on cell) — no join node, so in-cell candidates are never
    // materialized as rows; executor memory is one cell's rows
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"expected no join in the in-cell scoring plan:\n$plan")
    assert(plan.contains("FlatMapGroups") || plan.contains("MapGroups"),
      s"expected grouped in-cell scoring in plan:\n$plan")
    // semantics: identical to the join-within-cell formulation
    val centroids = Ann.kmeansCentroids(df, "v", 4)
    val base = df.select(col("k"), col("v").cast("array<float>").as("v"))
      .withColumn("cell", Ann.cellId(col("v"), centroids))
    val viaJoin = base.as("a").join(base.as("b"),
        col("a.cell") === col("b.cell") && col("a.k") < col("b.k"))
      .withColumn("cosine", Dedup.cosineSim(col("a.v"), col("b.v")))
      .filter(col("cosine") >= 0.2)
      .select(col("a.k"), col("b.k"), col("cosine")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val viaGroups = pairs.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaGroups == viaJoin, "grouped scoring diverged from join formulation")
  }

  test("kmeansCentroids: duplicate-heavy sample shrinks to distinct seeds, no degenerate cells") {
    val sp = spark; import sp.implicits._
    // 3 distinct vectors, each duplicated 100× — a request for 8 cells
    // must come back with 3 DISTINCT centroids, not 8 with duplicates
    val vs = Seq(Array(0f, 0f), Array(10f, 0f), Array(0f, 10f))
    val df = (0 until 300).map(i => (i.toLong, vs(i % 3))).toDF("id", "vec")
    val cents = Ann.kmeansCentroids(df, "vec", nCells = 8)
    assert(cents.length == 3, s"expected 3 effective cells, got ${cents.length}")
    assert(cents.map(_.toSeq).distinct.length == 3, "duplicate centroids seeded")
  }

  test("embeddingNearDupsLsh releases its banded cache before returning") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.embeddingNearDupsLsh(vecs, "vec_id", "embedding", 0.95).collect()
    // exactly ONE persisted RDD may remain: the localCheckpoint backing
    // the returned result; the banded relation (a second one) must be
    // released inside the operator
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"banded relation left persisted: $leaked")
  }

  test("lmScore: hand-computed add-1 unigram NLL and perplexity; OOV-heavy docs rank worse") {
    val sp = spark; import sp.implicits._
    val ref = Seq((0L, "a a b")).toDF("doc_id", "text")
    val counts = Curation.lmCounts(ref, "text")
    // counts: a=2, b=1; total=3, vocab=2
    // p(a)=(2+1)/(3+3)=1/2, p(b)=(1+1)/6=1/3, p(unseen)=1/6
    val scored = Curation.lmScore(
        Seq((1L, "a b c"), (2L, "a a a"), (3L, "x y z"), (4L, "")).toDF("doc_id", "text"),
        "doc_id", "text", counts)
      .select("doc_id", "n_tok", "nll", "ppl").collect()
      .map(r => r.getLong(0) -> r).toMap
    val expNll = -(math.log(0.5) + math.log(1.0 / 3) + math.log(1.0 / 6)) / 3
    assert(scored(1L).getLong(1) == 3L)
    assert(math.abs(scored(1L).getDouble(2) - expNll) < 1e-12)
    assert(math.abs(scored(1L).getDouble(3) - math.exp(expNll)) < 1e-9)
    // all-in-vocab doc beats mixed beats all-OOV
    assert(scored(2L).getDouble(3) < scored(1L).getDouble(3))
    assert(scored(1L).getDouble(3) < scored(3L).getDouble(3))
    // all-OOV = uniform unseen mass: ppl = 1/p(unseen) = 6
    assert(math.abs(scored(3L).getDouble(3) - 6.0) < 1e-9)
    // scores relation: a token-less doc has no score row (the corpus
    // is never joined back inside the operator)
    assert(!scored.contains(4L))
  }

  test("bloom decontamination: deterministic bits; superset of exact removals; tight-fpp parity") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(23)
    def sentence(n: Int) = Seq.fill(n)("t" + rnd.nextInt(2000)).mkString(" ")
    val leak = Seq.tabulate(10)(i => s"leak$i").mkString(" ")
    val bench = Seq((1L, s"${sentence(12)} $leak")).toDF("id", "text")
    val cands = ((2L to 40L).map(i => (i, sentence(30))) :+
      (99L, s"${sentence(5)} $leak ${sentence(5)}")).toDF("id", "text")
    // deterministic build: same benchmark → byte-identical bits
    val bits = Curation.benchmarkBloom(bench, "text", n = 8, fpp = 1e-6)
    val bits2 = Curation.benchmarkBloom(bench, "text", n = 8, fpp = 1e-6)
    assert(java.util.Arrays.equals(bits, bits2), "bloom build not deterministic")
    val exactHits = Curation.contaminationHits(cands, "id", "text",
      bench, "text", n = 8).select(col("__key").cast("string"))
      .collect().map(_.getString(0)).toSet
    val bloomHits = Curation.contaminationHitsBloom(cands, "id", "text",
      bits, n = 8).select(col("__key").cast("string"))
      .collect().map(_.getString(0)).toSet
    // one-sided error: the planted leak MUST be caught, and every
    // exact hit is a bloom hit
    assert(exactHits.contains("99"))
    assert(exactHits.subsetOf(bloomHits), s"false negatives: ${exactHits -- bloomHits}")
    // at fpp 1e-6 over ~1.2k candidate n-grams, expected false
    // positives ≈ 0.001 — exact parity here is overwhelmingly likely
    assert(bloomHits == exactHits, s"unexpected overblock: ${bloomHits -- exactHits}")
    // end-to-end removal agrees
    val exSurv = Curation.decontaminate(cands, "id", "text", bench, "text", n = 8)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val blSurv = Curation.decontaminateBloom(cands, "id", "text", bits, n = 8)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(blSurv == exSurv && !blSurv.contains(99L))
  }

  test("dedupSubstrings: differential vs string-window model; copies cut; spans merge; keeper survives") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(17)
    def filler(n: Int) = Seq.fill(n)("w" + rnd.nextInt(5000)).mkString(" ")
    val passage = Seq.tabulate(12)(i => s"p$i").mkString(" ")
    val L = 5
    val cBody = filler(30)
    val docs = Seq(
      "a" -> s"${filler(20)} $passage ${filler(7)}",
      "b" -> s"$passage ${filler(15)}",
      "c" -> cBody,
      "d" -> "tiny doc", // < L tokens: untouchable
      "e" -> s"${filler(9)} $passage",
      "g" -> s"$passage x1 x2 $passage", // within-doc repeat
      "h" -> cBody) // exact full copy of c
    // independent model: window STRINGS as identity (no hashing),
    // same tokenization (split ' ', limit -1) and keeper rule
    def model(ds: Seq[(String, String)], len: Int): Map[String, String] = {
      val toks = ds.map { case (k, t) => k -> t.split(" ", -1).toIndexedSeq }
      val occ = scala.collection.mutable.LinkedHashMap
        .empty[Seq[String], List[(String, Int)]]
      for ((k, w) <- toks; i <- 0 to w.length - len) {
        val win = w.slice(i, i + len)
        occ(win) = occ.getOrElse(win, Nil) :+ ((k, i))
      }
      val cuts = scala.collection.mutable.Map.empty[String, List[Int]]
      for ((_, os) <- occ if os.length > 1) {
        val keeper = os.min
        for (o <- os if o != keeper)
          cuts(o._1) = o._2 :: cuts.getOrElse(o._1, Nil)
      }
      toks.map { case (k, w) =>
        cuts.get(k) match {
          case None => k -> ds.find(_._1 == k).get._2
          case Some(ps) =>
            val covered = ps.flatMap(p => p until math.min(p + len, w.length)).toSet
            k -> w.indices.filterNot(covered).map(w).mkString(" ")
        }
      }.toMap
    }
    val expect = model(docs, L)
    val got = Dedup.dedupSubstrings(docs.toDF("k", "text"), "k", "text",
        minTokens = L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == expect, s"differential mismatch:\n$got\nvs\n$expect")
    // sharp shape checks the model also implies:
    assert(got("d") == "tiny doc") // short doc byte-identical
    assert(got("h") == "") // exact copy: keeper 'c' < 'h' → h fully cut
    assert(got("c") == cBody)
    // the shared passage survives ONLY at its canonical occurrence
    // ('a' holds the min (key,pos)); within-doc repeat in 'g' cut too
    assert(got("a").contains(passage))
    Seq("b", "e", "g").foreach(k =>
      assert(!got(k).contains(passage), s"passage survived in $k"))
    // row-local window hashes: equal windows hash equal, the repeated
    // passage in 'g' produces equal hashes at both occurrences
    val hs = docs.toDF("k", "text")
      .filter(col("k") === "g")
      .select(graft.functions.token_window_hashes(split(col("text"), " "), L))
      .head.getSeq[Long](0)
    assert(hs(0) == hs(14) && hs(1) == hs(15), "rolling hash not position-invariant")
    assert(hs.distinct.length > 2, "degenerate hashing")
  }

  test("product quantization: ADC equals distance-to-reconstruction; two-stage recall and exact distances") {
    val e = Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val model = Ann.trainPq(e, "embedding", m = 8)
    assert(model.m == 8 && model.dsub == 8)
    assert(model.books.forall(_.length <= 256))
    val enc = Ann.pqEncode(e, "embedding", model)
    val qv = Array.tabulate(64)(i => ((i * 7) % 13) * 0.0625f - 0.375f)
    // the ADC invariant PQ rests on: the m table lookups sum to
    // EXACTLY the L2² between the query and the DECODED (centroid-
    // reconstructed) vector — pin it against a JVM reconstruction
    val (lut, offsets, addConst) = Ann.pqLut(model, qv, "L2")
    val rows = enc.select(col("vec_id").cast("string"),
        graft.functions.pq_adc(col("__pq"), lut, offsets, addConst).as("adc"),
        col("__pq"))
      .limit(200).collect()
    rows.foreach { r =>
      val codes = r.getSeq[Byte](2)
      assert(codes.length == 8, s"code length ${codes.length}")
      var expect = 0.0
      for (j <- codes.indices) {
        val cent = model.books(j)(codes(j) & 0xFF)
        for (i <- cent.indices) {
          val d = qv(j * model.dsub + i).toDouble - cent(i)
          expect += d * d
        }
      }
      // LUT entries are float-rounded per subspace; tolerance covers
      // that rounding, nothing else
      assert(math.abs(r.getDouble(1) - expect) < 1e-3,
        s"ADC ${r.getDouble(1)} != reconstruction $expect for ${r.getString(0)}")
    }
    // two-stage search: recall vs exact float32 top-10, exact distances
    val pq = Ann.topKPq(enc, "vec_id", "embedding", qv, k = 10, model,
      metric = "L2").collect()
    val exact = Ann.topK(e, "vec_id", "embedding", qv, k = 10,
      metric = "L2").collect()
    val exactMap = exact.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hit = pq.count(r => exactMap.contains(r.getString(0)))
    assert(hit >= 9, s"PQ recall too low: $hit/10")
    pq.foreach { r =>
      exactMap.get(r.getString(0)).foreach(d =>
        assert(r.getDouble(1) == d, s"re-ranked distance not exact for ${r.getString(0)}"))
    }
    // loud failures, not silent garbage: dim not divisible by m, and
    // a too-short vector at encode time
    intercept[IllegalArgumentException] {
      Ann.trainPq(e, "embedding", m = 7)
    }
    val sp = spark; import sp.implicits._
    val short = Seq((1L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Ann.pqEncode(short, "embedding", model).collect()
    }
    // raw on a local relation, SparkException-wrapped on a real scan —
    // either way the encode refuses rather than quantizing garbage
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(t => String.valueOf(t.getMessage).contains("pq_encode")),
      s"unexpected failure: $ex")
  }

  test("topKPq stage 1 scans only key + m-byte codes; float column read for candidates only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val e = Fixtures.table(spark, "/root/testdata/sf0.001", "embeddings")
    val model = Ann.trainPq(e, "embedding", m = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-scan").toString
    // deployment shape: the encoded corpus is PERSISTED and the search
    // plans over the parquet table, so scan pruning is visible
    Ann.pqEncode(e, "embedding", model).write.mode("overwrite").parquet(dir)
    val enc = spark.read.parquet(dir)
    val qv = Array.tabulate(64)(i => ((i * 7) % 13) * 0.0625f - 0.375f)
    val plan = Ann.topKPq(enc, "vec_id", "embedding", qv, k = 10, model,
      metric = "L2")
    val scans = plan.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet }
    // stage 1 (candidate scan): __pq + key, NO float vector column —
    // the whole point of PQ is that the corpus-wide pass reads 32× less
    val stage1 = scans.filter(_.contains("__pq"))
    assert(stage1.nonEmpty, s"no scan reads __pq: $scans")
    stage1.foreach(s => assert(!s.contains("embedding"),
      s"stage-1 scan reads the float column too: $s"))
    // stage 2 (re-rank): float column + key, no __pq
    val stage2 = scans.filter(_.contains("embedding"))
    assert(stage2.nonEmpty && stage2.forall(!_.contains("__pq")),
      s"re-rank scan shape wrong: $scans")
    val pq = plan.collect().map(_.getString(0)).toSet
    val exact = Ann.topK(e, "vec_id", "embedding", qv, k = 10, metric = "L2")
      .collect().map(_.getString(0)).toSet
    assert(pq.intersect(exact).size >= 9, s"recall broke: ${pq.intersect(exact).size}/10")
  }

  test("IVFADC knn join: full probes at least flat-PQ recall; exact distances; partial probes keep shape") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val model = Ann.trainPq(embs, "embedding", m = 8)
    val queries = embs.filter(col("vec_id") % 23 === 0)
    val base = embs.filter(col("vec_id") % 23 =!= 0)
    val exact = Ann.knnJoinExact(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, metric = "L2").collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("neighbor")) ->
        r.getAs[Double]("distance")).toMap
    def run(nProbe: Int) = Ann.knnJoinIvfPq(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, nCells = 8, nProbe = nProbe,
      model, metric = "L2").collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("neighbor")) ->
        r.getAs[Double]("distance"))
    val full = run(nProbe = 8)
    val fullRecall = full.count { case (p, _) => exact.contains(p) }.toDouble / exact.size
    assert(fullRecall >= 0.9, s"IVFADC full-probe recall: $fullRecall")
    // full-probe ADC candidates are a SUPERSET of the flat PQ plan's
    // (per-cell heaps each keep kCand), so recall can only match or beat
    val flat = Ann.knnJoinPq(queries, "vec_id", "embedding",
      Ann.pqEncode(base, "embedding", model), "vec_id", "embedding",
      k = 4, model, metric = "L2").collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("neighbor")))
    val flatRecall = flat.count(exact.contains).toDouble / exact.size
    assert(fullRecall >= flatRecall,
      s"full-probe IVFADC ($fullRecall) below flat PQ ($flatRecall)")
    // distances are EXACT float32 wherever the pair agrees
    full.foreach { case (pair, d) =>
      exact.get(pair).foreach(ed => assert(d == ed, s"distance not exact for $pair")) }
    // full k rows per query at full AND partial probes (partial prunes
    // candidates, never output arity — uniform gate vectors are cell
    // pruning's worst case so only shape is pinned here)
    assert(full.length == exact.size)
    val partial = run(nProbe = 2)
    assert(partial.length == exact.size)
    partial.foreach { case (pair, d) =>
      exact.get(pair).foreach(ed => assert(d == ed, s"partial distance not exact for $pair")) }
  }

  test("PQ knn join: high recall, exact re-ranked distances") {
    val dir = "/root/testdata/sf0.001"
    val embs = Fixtures.table(spark, dir, "embeddings")
    val model = Ann.trainPq(embs, "embedding", m = 8)
    val queries = embs.filter(col("vec_id") % 23 === 0)
    val base = embs.filter(col("vec_id") % 23 =!= 0)
    val exact = Ann.knnJoinExact(queries, "vec_id", "embedding",
      base, "vec_id", "embedding", k = 4, metric = "L2").collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("neighbor")) ->
        r.getAs[Double]("distance")).toMap
    val pq = Ann.knnJoinPq(queries, "vec_id", "embedding",
      Ann.pqEncode(base, "embedding", model), "vec_id", "embedding",
      k = 4, model, metric = "L2").collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("neighbor")) ->
        r.getAs[Double]("distance"))
    val hit = pq.count { case (pair, _) => exact.contains(pair) }
    assert(hit.toDouble / exact.size >= 0.9, s"PQ join recall: $hit/${exact.size}")
    // wherever the pair agrees, the distance must be the EXACT float32
    // value (stage 2 re-scored on the original vectors)
    pq.foreach { case (pair, d) =>
      exact.get(pair).foreach(ed => assert(d == ed, s"distance not exact for $pair")) }
    // full k rows per query
    assert(pq.length == exact.size)
  }

  test("shingles (string form) matches a sliding-window model; n>=2 edge cases") {
    val sp = spark; import sp.implicits._
    def model(t: String, n: Int): Seq[String] =
      t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq.distinct
    val texts = Seq("a b c d e", "a b", "one", "", "x y x y x y")
    for (n <- Seq(1, 2, 3, 5, 6)) {
      val got = texts.toDF("t")
        .select(graft.pipeline.Dedup.shingles(org.apache.spark.sql.functions.col("t"), n).as("s"))
        .collect().map(_.getSeq[String](0).toSeq)
      texts.zip(got).foreach { case (t, g) =>
        assert(g == model(t, n), s"n=$n text='$t'")
      }
    }
  }
}
