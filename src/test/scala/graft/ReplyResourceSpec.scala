package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{SearchEngine, SearchOptions}
import graft.model._
import graft.sources.Documents

/**
 * Regression pins for the round-12 fixes (shipped then without specs):
 *
 * 1. The full-base path's unpersist-on-failure guarantee
 *    (SearchEngine.nonVectorReply): a request whose base persists and
 *    then fails AFTER the count — e.g. SORTBY on an unknown field,
 *    which raises in the page stage via fieldOrFail — must not leak the
 *    persisted cap+1 relation. The RESP handler keeps serving after
 *    such an error (reference: an FT.SEARCH arity/field error is a
 *    reply, not a connection teardown), so without the guard repeated
 *    failing requests grow block-manager storage unboundedly.
 *
 * 2. Base-cache hit/miss accounting covers aggregate traffic too
 *    (aggregateStages' front half), so hits + misses always equals the
 *    number of cache lookups across BOTH entry points — one coherent
 *    population for FT.INFO-style observability.
 */
class ReplyResourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("reply-resource-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  private def freshEngine(n: Int = 30): SearchEngine = {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("rr_t", Seq(
      FieldDef("body", TextField()), FieldDef("price", NumericField)))
    val docs = (1 to n)
      .map(i => (s"k$i", s"doc body number$i", i.toDouble))
      .toDF("__key", "body", "price")
    e.createIndex(schema, Documents.enrich(docs, schema))
    e
  }

  test("a failing SORTBY request leaves block-manager storage flat") {
    val e = freshEngine()
    // content request, unknown SORTBY field → fieldOrFail throws in
    // the page stage AFTER the base materialized (a base within
    // baseCacheMaxRows is a bounded collect and persists nothing; the
    // big-base test below covers the persisted path)
    val bad = SearchOptions(sortBy = Some(("no_such_field", true)))
    val baseline = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach { _ =>
      intercept[IllegalArgumentException] {
        e.searchReply("rr_t", "@price:[3 25]", bad)
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.size == baseline,
      "each failing request must unpersist its base — storage flat after 5 failures")
    // and the engine keeps serving correctly afterwards
    val ok = e.searchReply("rr_t", "@price:[3 25]",
      SearchOptions(sortBy = Some(("price", true))))
    assert(ok.total == 23)
  }

  test("failing SORTBY leaks nothing with the base cache disabled either") {
    val e = freshEngine()
    e.baseCache.maxEntries = 0
    val bad = SearchOptions(sortBy = Some(("no_such_field", false)))
    val baseline = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { _ =>
      intercept[IllegalArgumentException] {
        e.searchReply("rr_t", "@price:[1 10]", bad)
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.size == baseline)
  }

  test("failing SORTBY on the big-base (request-private persist) path leaks nothing") {
    val e = freshEngine()
    // force the > baseCacheMaxRows branch — the one serving path that
    // persists (cache-private plan, reader-refcounted lifecycle)
    e.baseCacheMaxRows = 5
    val bad = SearchOptions(sortBy = Some(("no_such_field", true)))
    val baseline = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach { _ =>
      intercept[IllegalArgumentException] {
        e.searchReply("rr_t", "@price:[3 25]", bad)
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.size == baseline,
      "a failing request must unpersist its base — failures never cache")
    // success CACHES the persisted base (paging stays flat in corpus
    // size); page variants hit it without re-persisting...
    val ok = e.searchReply("rr_t", "@price:[3 25]",
      SearchOptions(sortBy = Some(("price", true))))
    assert(ok.total == 23)
    val h0 = e.baseCache.hits.get()
    e.searchReply("rr_t", "@price:[3 25]",
      SearchOptions(limit = (5, 5), sortBy = Some(("price", false))))
    assert(e.baseCache.hits.get() == h0 + 1)
    // ...and invalidation (the maintainer refresh) returns storage to
    // baseline once no reader holds the entry
    e.createIndex(graft.model.IndexSchema("rr_t", Seq(
      graft.model.FieldDef("body", graft.model.TextField()),
      graft.model.FieldDef("price", graft.model.NumericField))),
      e.index("rr_t")._2)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline,
      "invalidated big bases must unpersist once unreferenced")
  }

  test("big-base path with the cache disabled unpersists after success") {
    val e = freshEngine()
    e.baseCacheMaxRows = 5
    e.baseCache.maxEntries = 0
    val baseline = spark.sparkContext.getPersistentRDDs.size
    val ok = e.searchReply("rr_t", "@price:[3 25]",
      SearchOptions(sortBy = Some(("price", true))))
    assert(ok.total == 23)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline)
  }

  test("a served big-base reply matches the bounded-base reply exactly") {
    val e1 = freshEngine(); val e2 = freshEngine()
    e2.baseCacheMaxRows = 5 // same request, big-base path
    val opts = SearchOptions(limit = (3, 7), sortBy = Some(("price", false)))
    val r1 = e1.searchReply("rr_t", "@price:[3 25]", opts)
    val r2 = e2.searchReply("rr_t", "@price:[3 25]", opts)
    assert(r1.total == r2.total)
    assert(r1.rows.map(_.getString(0)).toSeq == r2.rows.map(_.getString(0)).toSeq)
  }

  test("hits + misses = lookups across search AND aggregate traffic") {
    val e = freshEngine()
    val h0 = e.baseCache.hits.get(); val m0 = e.baseCache.misses.get()
    // 1: search, fresh filter → base miss (fills the full base)
    e.searchReply("rr_t", "@price:[3 25]", SearchOptions())
    // 2: aggregate over the SAME filter → base hit
    e.aggregate("rr_t", "@price:[3 25]",
      Seq("GROUPBY", "0", "REDUCE", "COUNT", "0", "AS", "cnt")).collect()
    // 3: aggregate over a NEW filter → base miss (must be counted)
    e.aggregate("rr_t", "@price:[5 9]",
      Seq("GROUPBY", "0", "REDUCE", "COUNT", "0", "AS", "cnt")).collect()
    val hits = e.baseCache.hits.get() - h0
    val misses = e.baseCache.misses.get() - m0
    assert(hits == 1, s"aggregate over a cached filter is the one hit (got $hits)")
    assert(misses == 2, s"search miss + aggregate miss (got $misses)")
    assert(hits + misses == 3, "three lookups, every one accounted")
  }

  test("a hybrid-KNN planner failure releases the qualified-key cache") {
    // The hybrid planner materializes the filtered KEY SET (persist +
    // count) to feed the prefilter probe and the Bloom build. A throw
    // from either action (task failure, cancellation) exits the block
    // before the normal-path releases run — and unlike reply bases the
    // key set is NOT cap-bounded, so the bracket must unpersist it.
    import org.apache.spark.sql.functions.{col, udf}
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("rrk_t", Seq(
      FieldDef("cat", TagField()),
      FieldDef("vec", VectorField(dim = 2, metric = DistanceMetric.L2))))
    // parquet-backed on purpose: a driver-foldable (LocalRelation)
    // corpus throws while persist() eagerly builds the cached child
    // plan — BEFORE the cache registers, so nothing strands. The leak
    // needs runtime task failure: cached RDD registered, entry live,
    // count() dies in executor tasks.
    val dirPath = java.nio.file.Files.createTempDirectory("rrk")
    val dir = dirPath.toString
    try {
    (1 to 20)
      .map(i => (s"k$i", if (i <= 10) "hot" else "cold", Array(i.toFloat, 0f)))
      .toDF("__key", "cat", "vec")
      .write.mode("overwrite").parquet(dir)
    val enriched = Documents.enrich(spark.read.parquet(dir), schema)
    e.createIndex(schema, enriched)
    e.registerAnn("rrk_t", "vec",
      graft.pipeline.Nsw.build(enriched, "__key", "vec", metric = "L2",
        numPartitions = 2))
    val ep = e.registrationEpoch("rrk_t")
    val (sch, catDocs) = e.index("rrk_t")
    val opts = SearchOptions(params =
      Map("v" -> graft.query.VectorParam(Array(1f, 0f))))
    val parsed = graft.query.FilterParser.parse("@cat:{hot} =>[KNN 2 @vec $v]",
      opts.params, analyzer = sch.analyzer)
    // a filtered plan that throws at evaluation: the qualified-key
    // count() action fails strictly AFTER its persist
    val boom = udf((k: String) =>
      if (k == null) true else throw new RuntimeException("boom"))
    val filtered = e.filterStage(sch, catDocs, parsed, opts, ep)
      .filter(boom(col("__key")))
    // Over a local-relation corpus the throw happens while the CACHED
    // CHILD plan optimizes (driver-side local-relation fold evaluates
    // the filter), i.e. before the cached RDD object even exists — so
    // the stranded resource is the CacheManager ENTRY, which would
    // otherwise accumulate per failing request (each is nonce-private,
    // nothing ever reuses or evicts it). On a parquet-backed corpus
    // partial task success would additionally strand cached blocks.
    //
    // clearCache is an INTENTIONAL suite-wide reset: the `cm.isEmpty`
    // assertion below needs a known-empty CacheManager baseline, and
    // every test in this suite builds its own engine + registrations
    // from scratch (dropped entries recompute from lineage), so no
    // later test depends on earlier cached state.
    spark.catalog.clearCache()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val baseline = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      e.finishSearch("rrk_t", sch, filtered, parsed, opts, ep)
    }
    assert(cm.isEmpty,
      "the failed planner block must release the qualified-key cache entry")
    assert(spark.sparkContext.getPersistentRDDs.size == baseline,
      "no cached blocks may survive the failure either")
    // and the same request over the healthy plan still answers
    val page = e.finishSearch("rrk_t", sch,
      e.filterStage(sch, catDocs, parsed, opts, ep), parsed, opts, ep)
    assert(page.collect().length == 2)
    } finally {
      // the parquet corpus was this test's scratch space
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
