package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{Metrics, SearchEngine, SearchOptions}
import graft.model._
import graft.query.VectorParam
import graft.sources.Documents

/**
 * The serving floor in Spark work: how many jobs and actions one
 * FT.SEARCH reply runs, and whether it persists anything.
 *
 *  - a page over a cached driver-resident base runs no job;
 *  - a NOCONTENT miss, a content miss within `baseCacheMaxRows`, an
 *    exact (FLAT) KNN reply and a hybrid KNN reply each run ONE action
 *    (every job they start belongs to one SQL execution) and persist
 *    nothing — no new persisted RDD, no unpersist on the way;
 *  - a KNN reply's total and rows equal the top-k semantics: total =
 *    min(non-null vectors in the filtered set, k), rows = the page over
 *    those k neighbours (brute force over the fixture; the ANN
 *    match-all case against the DataFrame path and the exact count);
 *  - the reply-path counters in [[Metrics.snapshot]] count each branch
 *    and each cache hit, miss and LRU eviction.
 */
class ServingJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("serving-jobs-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  /** 30 docs; every fifth has no vector. vec = (i, i % 3), so the L2
    * distance to the origin grows with i. */
  private def vec(i: Int): Option[Array[Float]] =
    if (i % 5 == 0) None else Some(Array(i.toFloat, (i % 3).toFloat))
  private def price(i: Int): Double = ((i * 7) % 13).toDouble

  private def freshEngine(): SearchEngine = {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("sj_t", Seq(
      FieldDef("body", TextField()), FieldDef("price", NumericField),
      FieldDef("vec", VectorField(dim = 2, metric = DistanceMetric.L2))))
    val docs = (1 to 30)
      .map(i => (s"k$i", s"doc body number$i", price(i), vec(i).orNull))
      .toDF("__key", "body", "price", "vec")
      .repartition(2) // served relations are scans, not driver-resident rows
    e.createIndex(schema, Documents.enrich(docs, schema))
    e
  }

  private val origin = Map("q" -> VectorParam(Array(0f, 0f)))

  final case class Work(jobs: Int, actions: Int, unpersists: Int, newPersisted: Set[Int])

  /** Run `body`, counting the jobs it starts, the SQL executions those
    * jobs belong to (one per action that ran a job), the unpersists it
    * posts and the persisted RDDs it leaves behind. */
  private def work[T](body: => T): (T, Work) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBus.drain(sc)
    val jobs = new ConcurrentLinkedQueue[String]
    val unpersists = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).getOrElse(s"job${e.jobId}"))
        ()
      }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
        unpersists.incrementAndGet(); ()
      }
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.GraftTestBus.drain(sc)
      val js = jobs.asScala.toSeq
      (r, Work(js.size, js.distinct.size, unpersists.get(),
        (sc.getPersistentRDDs.keySet -- before).toSet))
    } finally sc.removeSparkListener(l)
  }

  test("a page variant served from a cached local base runs no job") {
    val e = freshEngine()
    val q = "@price:[2 9]"
    e.searchReply("sj_t", q, SearchOptions(limit = (0, 3), sortBy = Some(("price", true))))
    val (r, w) = work(e.searchReply("sj_t", q,
      SearchOptions(limit = (3, 3), sortBy = Some(("price", false)))))
    assert(w.jobs == 0, w)
    assert(r.rows.length == 3)
    val (nc, w2) = work(e.searchReply("sj_t", q, SearchOptions(noContent = true)))
    assert(w2.jobs == 0, w2)
    assert(nc.total == r.total)
  }

  test("a NOCONTENT miss runs one action") {
    val e = freshEngine()
    val (r, w) = work(e.searchReply("sj_t", "@price:[0 6]",
      SearchOptions(noContent = true, sortBy = Some(("price", true)))))
    assert(w.actions == 1, w)
    assert(w.newPersisted.isEmpty && w.unpersists == 0, w)
    assert(r.total == (1 to 30).count(i => price(i) <= 6))
  }

  test("a content miss within baseCacheMaxRows runs one action and persists nothing") {
    val e = freshEngine()
    val (r, w) = work(e.searchReply("sj_t", "@price:[3 11]",
      SearchOptions(limit = (2, 4), sortBy = Some(("price", true)))))
    assert(w.actions == 1, w)
    assert(w.newPersisted.isEmpty && w.unpersists == 0, w)
    val expected = (1 to 30).filter(i => price(i) >= 3 && price(i) <= 11)
    assert(r.total == expected.size)
    assert(r.rows.map(_.getAs[String]("__key")).toSeq ==
      expected.sortBy(i => (price(i), s"k$i")).map(i => s"k$i").slice(2, 6))
  }

  test("an exact (FLAT) KNN reply runs one action and persists nothing") {
    val e = freshEngine()
    val (r, w) = work(e.searchReply("sj_t", "*=>[KNN 4 @vec $q]",
      SearchOptions(params = origin)))
    assert(w.actions == 1, w)
    assert(w.newPersisted.isEmpty && w.unpersists == 0, w)
    assert(r.total == 4)
    assert(r.rows.map(_.getAs[String]("__key")).toSeq == Seq("k1", "k2", "k3", "k4"))
  }

  test("a hybrid KNN reply runs one action and persists nothing") {
    val e = freshEngine()
    val (r, w) = work(e.searchReply("sj_t", "@price:[0 8]=>[KNN 3 @vec $q]",
      SearchOptions(params = origin)))
    assert(w.actions == 1, w)
    assert(w.newPersisted.isEmpty && w.unpersists == 0, w)
    assert(r.rows.map(_.getAs[String]("__key")).toSeq == knnKeys(i => price(i) <= 8, 3))
  }

  // ---- KNN total parity: total = min(non-null vectors, k) ----------

  /** Brute-force top-k keys (distance grows with i; key tiebreak). */
  private def knnKeys(filter: Int => Boolean, k: Int): Seq[String] =
    (1 to 30).filter(i => filter(i) && vec(i).isDefined).take(k).map(i => s"k$i")

  test("KNN parity: k larger than the qualified set") {
    val e = freshEngine()
    val r = e.searchReply("sj_t", "@price:[0 2]=>[KNN 10 @vec $q]",
      SearchOptions(params = origin))
    val expected = knnKeys(i => price(i) <= 2, 10)
    assert(expected.size < 10)
    assert(r.total == expected.size)
    assert(r.rows.map(_.getAs[String]("__key")).toSeq == expected)
  }

  test("KNN parity: null vectors in the filtered set do not count") {
    val e = freshEngine()
    // price 9 ⇔ i ≡ 5 (mod 13): k5 has no vector, k18 has one
    val r = e.searchReply("sj_t", "@price:[9 9]=>[KNN 5 @vec $q]",
      SearchOptions(params = origin))
    val expected = knnKeys(i => price(i) == 9, 5)
    assert(expected.size < (1 to 30).count(i => price(i) == 9))
    assert(r.total == expected.size)
    assert(r.rows.map(_.getAs[String]("__key")).toSeq == expected)
  }

  test("KNN parity: LIMIT smaller than k keeps total = k") {
    val e = freshEngine()
    val r = e.searchReply("sj_t", "*=>[KNN 6 @vec $q]",
      SearchOptions(limit = (1, 2), params = origin))
    assert(r.total == 6)
    assert(r.rows.map(_.getAs[String]("__key")).toSeq == knnKeys(_ => true, 6).slice(1, 3))
  }

  test("KNN parity: SORTBY a non-score field re-sorts the k neighbours") {
    val e = freshEngine()
    val r = e.searchReply("sj_t", "*=>[KNN 5 @vec $q]",
      SearchOptions(sortBy = Some(("price", false)), params = origin))
    val top = (1 to 30).filter(i => vec(i).isDefined).take(5)
    assert(r.total == 5)
    assert(r.rows.map(_.getAs[String]("__key")).toSeq ==
      top.sortBy(i => (-price(i), s"k$i")).map(i => s"k$i"))
  }

  test("KNN parity: the ANN match-all path (NSW fixture)") {
    val dir = "/root/testdata/sf0.001"
    val engine = Fixtures.engine(spark, dir)
    val embs = engine.index("embeddings_l2")._2
    val ann = graft.pipeline.Nsw.build(embs, "__key", "vec", metric = "L2",
      numPartitions = 4, m = 12, efConstruction = 100)
    try {
      engine.registerAnn("embeddings_l2", "vec", ann)
      val opts = SearchOptions(params = Map("q" -> VectorParam(Queries.queryVec)))
      val q = "*=>[KNN 10 @vec $q]"
      val inline0 = Metrics.knnInline.get()
      val r = engine.searchReply("embeddings_l2", q, opts)
      assert(Metrics.knnInline.get() == inline0 + 1, "the ANN branch must answer")
      val nonNull = embs.filter(org.apache.spark.sql.functions.col("vec").isNotNull).count()
      assert(r.total == math.min(nonNull, 10L))
      val viaPlan = engine.search("embeddings_l2", q, opts).collect()
      assert(r.rows.map(_.getAs[String]("__key")).toSeq ==
        viaPlan.map(_.getAs[String]("__key")).toSeq)
    } finally ann.unpersistIndex()
  }

  // ---- reply-path counters -------------------------------------------

  private def metric(name: String): Long = Metrics.snapshot().toMap.getOrElse(name, -1L)

  test("counters: local vs persisted base branch of a content miss") {
    val e = freshEngine()
    val l0 = metric("query_reply_local_base_cnt")
    val p0 = metric("query_reply_persisted_base_cnt")
    e.searchReply("sj_t", "@price:[1 12]")
    assert(metric("query_reply_local_base_cnt") == l0 + 1)
    assert(metric("query_reply_persisted_base_cnt") == p0)
    e.baseCacheMaxRows = 5
    e.searchReply("sj_t", "@price:[0 12]")
    assert(metric("query_reply_local_base_cnt") == l0 + 1)
    assert(metric("query_reply_persisted_base_cnt") == p0 + 1)
    // a NOCONTENT miss and a base hit take neither branch
    e.searchReply("sj_t", "@price:[2 12]", SearchOptions(noContent = true))
    e.searchReply("sj_t", "@price:[1 12]", SearchOptions(limit = (1, 1)))
    assert(metric("query_reply_local_base_cnt") == l0 + 1)
    assert(metric("query_reply_persisted_base_cnt") == p0 + 1)
    e.dropIndex("sj_t") // releases the persisted base
  }

  test("counters: reply and base cache hits, misses and LRU evictions") {
    val e = freshEngine()
    e.replyCache.maxEntries = 1
    e.baseCache.maxEntries = 1
    val names = for (c <- Seq("reply_cache", "base_cache"); x <- Seq("hit", "miss", "eviction"))
      yield s"${c}_${x}_cnt"
    val before = names.map(metric)
    def delta = names.map(metric).zip(before).map { case (a, b) => a - b }
    e.searchReply("sj_t", "@price:[1 3]") // reply miss, base miss
    e.searchReply("sj_t", "@price:[1 3]") // reply hit
    e.searchReply("sj_t", "@price:[1 3]", SearchOptions(limit = (1, 1))) // reply miss (evicts), base hit
    e.searchReply("sj_t", "@price:[4 6]") // reply miss (evicts), base miss (evicts)
    assert(delta == Seq(1L, 3L, 2L, 1L, 2L, 1L), names.zip(delta))
    assert(e.replyCache.hits.get() >= 1 && e.baseCache.hits.get() >= 1)
  }

  test("counters: aggregate wire-reply cache hits, misses and LRU evictions") {
    val e = freshEngine()
    e.aggReplyCache.maxEntries = 1
    val names = Seq("hit", "miss", "eviction").map(x => s"agg_reply_cache_${x}_cnt")
    val before = names.map(metric)
    def delta = names.map(metric).zip(before).map { case (a, b) => a - b }
    val ep = e.registrationEpoch("sj_t")
    val k1 = e.aggReplyCache.key("sj_t", ep, "a")
    val k2 = e.aggReplyCache.key("sj_t", ep, "b")
    assert(e.aggReplyCache.get(Seq(k1)).isEmpty)
    e.aggReplyCache.put(k1, Array[Byte](1))
    assert(e.aggReplyCache.get(Seq(k1)).isDefined)
    e.aggReplyCache.put(k2, Array[Byte](2))
    assert(delta == Seq(1L, 1L, 1L), names.zip(delta))
  }
}
