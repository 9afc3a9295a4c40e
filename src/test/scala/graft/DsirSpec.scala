package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Curation

/** DSIR importance resampling (Xie et al. NeurIPS'23) — differential
  * spec vs a plain-Scala model of the same estimator, plus the
  * selection-behavior property the operator exists for. */
class DsirSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private val B = 64

  /** Scala mirror of dsirBuckets: lowercase alnum tokens, unigrams +
    * bigrams, bucket = first 8 md5 hex digits mod B. */
  private def bucketsOf(text: String): Seq[Int] = {
    val words = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val ngs = words ++ words.sliding(2).filter(_.length == 2).map(_.mkString(" "))
    ngs.map { g =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xFF}%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % B).toInt
    }
  }

  test("dsirBuckets matches the Scala model (tokenization + md5 bucketing)") {
    val sp = spark; import sp.implicits._
    val texts = Seq(
      "Hello, World! hello again",
      "singleword",
      "",
      "  punct---only?!  ",
      "MiXeD CaSe 123 numbers 456",
      "a b a b a") // repeated bigrams count once per occurrence
    val got = texts.toDF("t")
      .select(Curation.dsirBuckets(col("t"), B).as("b"))
      .collect().map(_.getSeq[Int](0).toSeq)
    texts.zip(got).foreach { case (t, g) =>
      assert(g == bucketsOf(t), s"text: '$t'")
    }
  }

  test("dsirBuckets: a null text gives a null array, as the split it starts from") {
    val sp = spark; import sp.implicits._
    val got = Seq(Some("alpha beta"), None).toDF("t")
      .select(Curation.dsirBuckets(col("t"), B).as("b"))
      .collect().map(r => Option(r.getSeq[Int](0)).map(_.toSeq))
    assert(got.toSeq == Seq(Some(bucketsOf("alpha beta")), None))
  }

  test("dsirLogRatio: add-1 smoothed, unseen buckets finite, known value") {
    val t = Array(3L, 0L); val r = Array(1L, 1L)
    val lr = Curation.dsirLogRatio(t, r)
    // p_T = (4/5, 1/5), p_R = (2/4, 2/4)
    assert(math.abs(lr(0) - (math.log(4.0 / 5) - math.log(2.0 / 4))) < 1e-12)
    assert(math.abs(lr(1) - (math.log(1.0 / 5) - math.log(2.0 / 4))) < 1e-12)
    assert(lr.forall(v => !v.isInfinite && !v.isNaN))
  }

  test("dsirScore folds buckets over the ratio; empty doc scores 0") {
    val sp = spark; import sp.implicits._
    val ratio = Array.tabulate(B)(i => i * 0.01)
    val df = Seq(("d1", "alpha beta"), ("d2", "")).toDF("k", "t")
    val got = Curation.dsirScore(df, "t", ratio)
      .select("k", "__dsir_logw").as[(String, Double)].collect().toMap
    val want = bucketsOf("alpha beta").map(ratio).sum
    assert(math.abs(got("d1") - want) < 1e-9)
    assert(got("d2") == 0.0)
  }

  test("resampling selects target-like docs; deterministic across runs") {
    val sp = spark; import sp.implicits._
    // 40 docs speaking the target vocabulary, 40 speaking another;
    // strong separation so logw dominates the Gumbel noise
    val tgtVocab = "zebra quark lattice meson photon"
    val offVocab = "pebble harbor lantern meadow cedar"
    val pool = ((0 until 40).map(i => (s"t$i", Seq.fill(8)(tgtVocab).mkString(" "))) ++
      (0 until 40).map(i => (s"o$i", Seq.fill(8)(offVocab).mkString(" "))))
      .toDF("k", "t")
    val target = Seq.tabulate(10)(i => (s"ref$i", tgtVocab)).toDF("k", "t")
    val ratio = Curation.dsirLogRatio(
      Curation.dsirBucketCounts(target, "t", B),
      Curation.dsirBucketCounts(pool, "t", B))
    val pick = Curation.dsirResample(pool, "k", "t", ratio, k = 25)
      .select("k").as[String].collect().toSeq
    assert(pick.size == 25)
    assert(pick.forall(_.startsWith("t")),
      s"selection leaked off-target docs: $pick")
    val again = Curation.dsirResample(pool, "k", "t", ratio, k = 25)
      .select("k").as[String].collect().toSeq
    assert(pick == again)
  }

  test("dsirBuckets fuzz: random unicode texts match the Scala model") {
    val sp = spark; import sp.implicits._
    val pieces = Vector("a", "zz", "Q7", "1", "\u00e9", "\u00df", "\u4e2d\u6587",
      "\ud83d\ude00", "x y", "", " ", "tok", "na\u00efve", "..", "-", "A_B", "0x1f")
    val rnd = new scala.util.Random(20260813L)
    val texts = Seq.fill(200)(
      Seq.fill(rnd.nextInt(14))(pieces(rnd.nextInt(pieces.size)))
        .mkString(Seq(" ", ", ", "!", "  ")(rnd.nextInt(4))))
    val got = texts.toDF("t")
      .select(Curation.dsirBuckets(col("t"), B).as("b"))
      .collect().map(_.getSeq[Int](0).toSeq)
    texts.zip(got).foreach { case (t, g) =>
      assert(g == bucketsOf(t), s"text: '$t'")
    }
  }

  test("dsirBucketCountsSplit equals two separate dsirBucketCounts scans") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("en", "the cat sat on the mat"),
      ("en", "a dog ran far"),
      ("fr", "le chat dort ici"),
      ("fr", "the mixed language row"),
      ("en", "")).toDF("lang", "t")
    val b = 64
    val (tgt, raw) = Curation.dsirBucketCountsSplit(df, "t", col("lang") === "en", b)
    assert(tgt.toSeq == Curation.dsirBucketCounts(df.filter(col("lang") === "en"), "t", b).toSeq)
    assert(raw.toSeq == Curation.dsirBucketCounts(df, "t", b).toSeq)
  }

  test("dsirSelectSplit (fused fit+select, r16) is bit-identical to the split chain") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    // mixed-vocab pool so the ratio is non-trivial and Gumbel ties are
    // broken by real logw differences
    val rnd = new scala.util.Random(16L)
    val vocabA = Vector("zebra", "quark", "lattice", "meson", "photon")
    val vocabB = Vector("pebble", "harbor", "lantern", "meadow", "cedar")
    val pool = (0 until 120).map { i =>
      val v = if (i % 3 == 0) vocabA else vocabB
      val lang = if (i % 3 == 0) "en" else "fr"
      (i.toLong, lang, Seq.fill(6 + rnd.nextInt(6))(v(rnd.nextInt(v.size))).mkString(" "))
    }.toDF("doc_id", "lang", "t")
    val (tgt, raw) = Curation.dsirBucketCountsSplit(pool, "t", col("lang") === "en", B)
    val ratio = Curation.dsirLogRatio(tgt, raw)
    val want = Curation.dsirResample(pool, "doc_id", "t", ratio, k = 30)
      .select(col("doc_id"), col("__dsir_logw"), col("__dsir_score"))
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    val got = Curation.dsirSelectSplit(pool, "doc_id", "t",
        col("lang") === "en", B, k = 30)
      .select(col("doc_id"), col("__dsir_logw"), col("__dsir_score"))
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got == want) // exact doubles: same fold over the same arrays
    // column surface parity with dsirResample (pool cols + logw + score)
    val cols = Curation.dsirSelectSplit(pool, "doc_id", "t",
      col("lang") === "en", B, k = 5).columns.toSeq
    assert(cols == Seq("doc_id", "lang", "t", "__dsir_logw", "__dsir_score"))
  }

  test("Parallelism.ensure widens a small scan, honors explicit layouts, and keeps rows") {
    val sp = spark; import sp.implicits._
    val target = spark.sparkContext.defaultParallelism
    val df = (0 until 1000).map(i => (i.toLong, s"row $i")).toDF("k", "t")
    val widened = graft.util.Parallelism.ensure(df.coalesce(1))
    // explicit caller layout (coalesce = Repartition node) is honored
    assert(widened.rdd.getNumPartitions == 1)
    // a plain small local relation widens to the session default
    val plain = graft.util.Parallelism.ensure(df)
    assert(plain.rdd.getNumPartitions == target)
    // row multiset unchanged
    assert(plain.as[(Long, String)].collect().sorted.toSeq ==
      df.as[(Long, String)].collect().sorted.toSeq)
    // idempotence: ensure(ensure(df)) adds no second exchange
    val twice = graft.util.Parallelism.ensure(plain)
    val exchanges = twice.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }
    assert(exchanges.size == 1)
    // a caller's KEYED layout (RepartitionByExpression) is honored too
    // (r16 ADVICE: a round-robin exchange on top would silently destroy
    // a deliberate hash layout, e.g. DocState's __bpart or the posting
    // store's cell_id)
    val keyed = graft.util.Parallelism.ensure(df.repartition(col("k")))
    val rre = keyed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }
    assert(rre.isEmpty, "ensure must not stack round-robin on a keyed layout")
    // and a REBALANCE hint likewise passes through unchanged
    val rebal = graft.util.Parallelism.ensure(
      df.hint("rebalance"))
    val rbNodes = rebal.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }
    assert(rbNodes.isEmpty)
  }

  test("Parallelism.ensureBytes derives the partition count from the size estimate") {
    val sp = spark; import sp.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val df = (0 until 1000).map(i => (i.toLong, s"row $i")).toDF("k", "t")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // grain = est/3 → ⌈est/grain⌉ = 3 partitions (size-proportional,
    // NOT the straight-to-cores layout that taxed point queries in r16)
    val grain = (est / 3).toLong.max(1L)
    val laid = graft.util.Parallelism.ensureBytes(df, grain)
    val want = math.min(cores, 3)
    assert(laid.rdd.getNumPartitions == want,
      s"got ${laid.rdd.getNumPartitions}, want $want")
    // row multiset unchanged
    assert(laid.as[(Long, String)].collect().sorted.toSeq ==
      df.as[(Long, String)].collect().sorted.toSeq)
    // a huge grain still yields at least one partition
    assert(graft.util.Parallelism.ensureBytes(df, Long.MaxValue)
      .rdd.getNumPartitions >= 1)
    // caller layout wins here too
    assert(graft.util.Parallelism.ensureBytes(df.coalesce(2), grain)
      .rdd.getNumPartitions == 2)
  }
}
