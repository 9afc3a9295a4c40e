package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{Metrics, SearchEngine, SearchOptions}
import graft.model._
import graft.sources.Documents

/**
 * Reply cache (serving-floor lever): repeated identical non-vector
 * FT.SEARCH requests serve from a bounded cache of complete replies,
 * invalidated per index on createIndex/dropIndex (the catalog contract:
 * every results-affecting mutation re-registers). Pins the hit path,
 * every invalidation edge, the metric-replay semantics, the KNN
 * exclusion, and the size bounds.
 */
class ReplyCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("reply-cache-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  private def freshEngine(n: Int = 20, tag: String = "a"): SearchEngine = {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("rc_t", Seq(
      FieldDef("body", TextField()), FieldDef("price", NumericField)))
    val docs = (1 to n)
      .map(i => (s"k$i", s"doc $tag body number$i", i.toDouble))
      .toDF("__key", "body", "price")
    e.createIndex(schema, Documents.enrich(docs, schema))
    e
  }

  test("identical repeat is a hit and returns the identical reply") {
    val e = freshEngine()
    val opts = SearchOptions(limit = (0, 5))
    val r1 = e.searchReply("rc_t", "@price:[3 9]", opts)
    val h0 = e.replyCache.hits.get()
    val r2 = e.searchReply("rc_t", "@price:[3 9]", opts)
    assert(e.replyCache.hits.get() == h0 + 1)
    assert(r2.total == r1.total)
    assert(r2.rows.toSeq == r1.rows.toSeq)
    // different paging is a different key — a miss, not a wrong hit
    val m0 = e.replyCache.misses.get()
    val r3 = e.searchReply("rc_t", "@price:[3 9]", SearchOptions(limit = (2, 5)))
    assert(e.replyCache.misses.get() == m0 + 1)
    assert(r3.rows.length == 5 && r3.total == r1.total)
  }

  test("createIndex over the same name invalidates: no stale replies") {
    val sp = spark; import sp.implicits._
    val e = freshEngine(n = 10)
    val q = "@price:[0 +inf]"
    assert(e.searchReply("rc_t", q).total == 10)
    // re-register with MORE docs under the same name (the maintainer's
    // per-batch shape) — the cached total=10 must not survive
    val schema = e.schemaOf("rc_t")
    val docs = (1 to 15).map(i => (s"k$i", s"doc body number$i", i.toDouble))
      .toDF("__key", "body", "price")
    e.createIndex(schema, Documents.enrich(docs, schema))
    assert(e.searchReply("rc_t", q).total == 15)
  }

  test("dropIndex invalidates; recreate serves the new corpus") {
    val e = freshEngine(n = 8)
    assert(e.searchReply("rc_t", "*").total == 8)
    e.dropIndex("rc_t")
    intercept[IllegalArgumentException] { e.searchReply("rc_t", "*") }
    val sp = spark; import sp.implicits._
    val schema = IndexSchema("rc_t", Seq(
      FieldDef("body", TextField()), FieldDef("price", NumericField)))
    val docs = (1 to 3).map(i => (s"n$i", s"fresh body number$i", i.toDouble))
      .toDF("__key", "body", "price")
    e.createIndex(schema, Documents.enrich(docs, schema))
    assert(e.searchReply("rc_t", "*").total == 3)
  }

  test("hits replay the truncation metric per call; the cap is part of the key") {
    val e = freshEngine(n = 20)
    e.maxNonVectorResultsFetched = 5
    val before = Metrics.nonVectorFetchLimited.get()
    val opts = SearchOptions(limit = (0, 10))
    val r1 = e.searchReply("rc_t", "*", opts)
    assert(r1.total == 5)
    assert(Metrics.nonVectorFetchLimited.get() == before + 1)
    val r2 = e.searchReply("rc_t", "*", opts) // cache hit
    assert(r2.total == 5)
    assert(Metrics.nonVectorFetchLimited.get() == before + 2,
      "a capped HIT must count like a capped miss")
    // raising the cap changes the key: fresh compute, exact total
    e.maxNonVectorResultsFetched = 100000
    val r3 = e.searchReply("rc_t", "*", opts)
    assert(r3.total == 20)
    assert(Metrics.nonVectorFetchLimited.get() == before + 2)
  }

  test("hits replay the record-drop metric per call") {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("rc_d", Seq(FieldDef("content", TextField())))
    val docs = Seq(("big", "x" * 200), ("small", "ok"))
      .toDF("__key", "content")
    e.createIndex(schema, Documents.enrich(docs, schema))
    e.maxSearchResultRecordSize = 64
    val before = Metrics.queryResultRecordDropped.get()
    val opts = SearchOptions(returnFields = Seq(("content", None)))
    assert(e.searchReply("rc_d", "*", opts).rows.length == 1)
    assert(Metrics.queryResultRecordDropped.get() == before + 1)
    assert(e.searchReply("rc_d", "*", opts).rows.length == 1) // hit
    assert(Metrics.queryResultRecordDropped.get() == before + 2)
  }

  test("KNN replies are never cached") {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("rc_v", Seq(
      FieldDef("vec", VectorField(dim = 2, metric = DistanceMetric.L2))))
    val docs = (1 to 6).map(i => (s"k$i", Array(i.toFloat, 0f)))
      .toDF("__key", "vec")
    e.createIndex(schema, Documents.enrich(docs, schema))
    val opts = SearchOptions(params = Map(
      "BLOB" -> graft.query.VectorParam(Array(0f, 0f))))
    val h0 = e.replyCache.hits.get()
    val m0 = e.replyCache.misses.get()
    val r1 = e.searchReply("rc_v", "*=>[KNN 3 @vec $BLOB]", opts)
    val r2 = e.searchReply("rc_v", "*=>[KNN 3 @vec $BLOB]", opts)
    assert(r1.total == 3 && r2.total == 3)
    assert(e.replyCache.hits.get() == h0, "KNN must bypass the cache")
    assert(e.replyCache.misses.get() == m0,
      "a lookup the cache never consulted is not a miss")
    assert(e.replyCache.size == 0)
  }

  test("LRU bound holds; oversized pages are not cached; disable flag works") {
    val e = freshEngine(n = 20)
    e.replyCache.maxEntries = 2
    e.searchReply("rc_t", "@price:[1 1]")
    e.searchReply("rc_t", "@price:[2 2]")
    e.searchReply("rc_t", "@price:[3 3]")
    assert(e.replyCache.size <= 2)
    // the most recent entries survive: [3 3] must hit
    val h0 = e.replyCache.hits.get()
    e.searchReply("rc_t", "@price:[3 3]")
    assert(e.replyCache.hits.get() == h0 + 1)

    e.replyCacheMaxRows = 3
    e.searchReply("rc_t", "@price:[0 +inf]", SearchOptions(limit = (0, 10)))
    val m0 = e.replyCache.misses.get()
    e.searchReply("rc_t", "@price:[0 +inf]", SearchOptions(limit = (0, 10)))
    assert(e.replyCache.misses.get() == m0 + 1, "a 10-row page above maxRows=3 must not cache")

    e.replyCache.maxEntries = 0
    val h1 = e.replyCache.hits.get()
    e.searchReply("rc_t", "@price:[3 3]")
    assert(e.replyCache.hits.get() == h1)
  }
}
