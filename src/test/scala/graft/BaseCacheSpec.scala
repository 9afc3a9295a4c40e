package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{SearchEngine, SearchOptions}
import graft.model._
import graft.sources.Documents

/**
 * Filtered-base cache (second serving lever) + single-action NOCONTENT
 * path. The reply cache serves exact repeats; the base cache serves
 * page/SORTBY/RETURN/NOCONTENT VARIANTS of a seen filter from the
 * materialized cap+1-row base, and NOCONTENT misses compute total+page
 * in one collect of the narrow key/sort projection. Pins: variant hits,
 * projection isolation (a content request must never see a keys-only
 * base, a NOCONTENT request may use a full one), invalidation on
 * re-registration, truncation consistency, result equality with the
 * uncached DataFrame path, LRU bound, and the disable flag.
 */
class BaseCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("base-cache-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  private def freshEngine(n: Int = 20, tag: String = "a"): SearchEngine = {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("bc_t", Seq(
      FieldDef("body", TextField()), FieldDef("price", NumericField)))
    val docs = (1 to n)
      .map(i => (s"k$i", s"doc $tag body number$i", i.toDouble))
      .toDF("__key", "body", "price")
    e.createIndex(schema, Documents.enrich(docs, schema))
    e
  }

  test("a different page of the same filter is a base hit with the right rows") {
    val e = freshEngine(n = 20)
    val q = "@price:[3 18]"
    val r1 = e.searchReply("bc_t", q,
      SearchOptions(limit = (0, 5), sortBy = Some(("price", true))))
    val bh = e.baseCache.hits.get()
    val rm = e.replyCache.misses.get()
    val r2 = e.searchReply("bc_t", q,
      SearchOptions(limit = (5, 5), sortBy = Some(("price", true))))
    assert(e.replyCache.misses.get() == rm + 1, "new page = reply miss")
    assert(e.baseCache.hits.get() == bh + 1, "same filter = base hit")
    assert(r1.total == 16 && r2.total == 16)
    assert(r1.rows.map(_.getString(0)).toSeq == (3 to 7).map(i => s"k$i"))
    assert(r2.rows.map(_.getString(0)).toSeq == (8 to 12).map(i => s"k$i"))
  }

  test("a RETURN variant hits the full base; values come from the cached rows") {
    val e = freshEngine(n = 10)
    val q = "@price:[2 6]"
    e.searchReply("bc_t", q, SearchOptions(limit = (0, 10)))
    val bh = e.baseCache.hits.get()
    val r = e.searchReply("bc_t", q, SearchOptions(limit = (0, 10),
      returnFields = Seq(("price", Some("p")))))
    assert(e.baseCache.hits.get() == bh + 1)
    assert(r.rows.map(r0 => (r0.getString(0), r0.getDouble(1))).toSeq ==
      (2 to 6).map(i => (s"k$i", i.toDouble)))
  }

  test("NOCONTENT miss is single-action and seeds a narrow base the next page hits") {
    val e = freshEngine(n = 20)
    val q = "@price:[1 15]"
    val opts1 = SearchOptions(limit = (0, 4), noContent = true,
      sortBy = Some(("price", false)))
    val r1 = e.searchReply("bc_t", q, opts1)
    assert(r1.total == 15)
    assert(r1.rows.map(_.getString(0)).toSeq == Seq("k15", "k14", "k13", "k12"))
    val bh = e.baseCache.hits.get()
    val r2 = e.searchReply("bc_t", q, opts1.copy(limit = (4, 4)))
    assert(e.baseCache.hits.get() == bh + 1, "next NOCONTENT page hits the narrow base")
    assert(r2.rows.map(_.getString(0)).toSeq == Seq("k11", "k10", "k9", "k8"))
  }

  test("a content request never hits a keys-only base; NOCONTENT may use a full one") {
    val e = freshEngine(n = 12)
    val q = "@price:[2 9]"
    // narrow base first (keys only — no sort field needed)
    e.searchReply("bc_t", q, SearchOptions(noContent = true))
    val bh0 = e.baseCache.hits.get()
    val bm0 = e.baseCache.misses.get()
    val rc = e.searchReply("bc_t", q,
      SearchOptions(returnFields = Seq(("body", None)), limit = (0, 3)))
    assert(e.baseCache.hits.get() == bh0, "content must MISS the narrow base")
    assert(e.baseCache.misses.get() == bm0 + 1)
    assert(rc.rows.forall(r0 => r0.getString(1) != null), "content present")
    // the content miss built a FULL base; NOCONTENT can serve from it
    val bh1 = e.baseCache.hits.get()
    val rn = e.searchReply("bc_t", q, SearchOptions(noContent = true, limit = (3, 3)))
    assert(e.baseCache.hits.get() == bh1 + 1, "NOCONTENT hits the full base")
    assert(rn.rows.map(_.getString(0)).toSeq == Seq("k5", "k6", "k7"))
  }

  test("createIndex invalidates the base cache: page variants see the new corpus") {
    val sp = spark; import sp.implicits._
    val e = freshEngine(n = 10)
    val q = "@price:[0 +inf]"
    assert(e.searchReply("bc_t", q, SearchOptions(limit = (0, 3))).total == 10)
    val schema = e.schemaOf("bc_t")
    val docs = (1 to 15).map(i => (s"k$i", s"doc body number$i", i.toDouble))
      .toDF("__key", "body", "price")
    e.createIndex(schema, Documents.enrich(docs, schema))
    assert(e.baseCache.size == 0, "re-registration drops the index's bases")
    // a DIFFERENT page (reply miss) must not resurrect the stale base
    assert(e.searchReply("bc_t", q, SearchOptions(limit = (3, 3))).total == 15)
  }

  test("truncation: totals and flags are consistent across cached pages; cap is in the key") {
    val e = freshEngine(n = 20)
    e.maxNonVectorResultsFetched = 5
    val q = "*"
    val r1 = e.searchReply("bc_t", q, SearchOptions(limit = (0, 3), noContent = true))
    assert(r1.total == 5 && r1.rows.length == 3)
    val r2 = e.searchReply("bc_t", q, SearchOptions(limit = (3, 3), noContent = true))
    assert(r2.total == 5, "page 2 draws from the same truncated base")
    // page 2 cannot overlap page 1: both slices of ONE materialized set
    assert(r1.rows.map(_.getString(0)).toSet.intersect(
      r2.rows.map(_.getString(0)).toSet).isEmpty)
    e.maxNonVectorResultsFetched = 100000
    val r3 = e.searchReply("bc_t", q, SearchOptions(limit = (0, 3), noContent = true))
    assert(r3.total == 20, "a new cap is a new base key")
  }

  test("NOCONTENT single-action reply equals the uncached DataFrame path") {
    val e = freshEngine(n = 20)
    val q = "@body:number1*"
    val opts = SearchOptions(limit = (1, 6), noContent = true,
      sortBy = Some(("price", true)), withSortKeys = true)
    val reply = e.searchReply("bc_t", q, opts)
    val direct = e.search("bc_t", q, opts).collect()
    assert(reply.rows.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
    assert(reply.total == 11) // number1, number10..number19
    assert(reply.rows.forall(_.getString(1).startsWith("#")))
  }

  test("single-action NOCONTENT collects ONLY key + SORTBY source columns") {
    val e = freshEngine(n = 10)
    e.searchReply("bc_t", "@price:[1 5]",
      SearchOptions(noContent = true, sortBy = Some(("price", true))))
    assert(e.lastBaseProjection == Seq("__key", "price"),
      "the narrow collect must never ship content columns to the driver")
    e.searchReply("bc_t", "@price:[2 5]", SearchOptions(noContent = true))
    assert(e.lastBaseProjection == Seq("__key"))
  }

  test("FT.AGGREGATE reuses an untruncated full base as its front half") {
    val e = freshEngine(n = 20)
    val q = "@price:[5 14]"
    e.searchReply("bc_t", q, SearchOptions(limit = (0, 3))) // seeds full base, n=10
    val bh = e.baseCache.hits.get()
    val agg = e.aggregate("bc_t", q,
      Seq("GROUPBY", "0", "REDUCE", "COUNT", "0", "AS", "cnt")).collect()
    assert(e.baseCache.hits.get() == bh + 1, "aggregate must hit the full base")
    assert(agg.head.getDouble(agg.head.fieldIndex("cnt")) == 10.0)
  }

  test("FT.AGGREGATE never uses a TRUNCATED base: aggregates ignore the fetch cap") {
    val e = freshEngine(n = 20)
    e.maxNonVectorResultsFetched = 5
    val q = "@price:[0 +inf]"
    val r = e.searchReply("bc_t", q, SearchOptions(limit = (0, 3)))
    assert(r.total == 5, "search reply is capped")
    val bh = e.baseCache.hits.get()
    val agg = e.aggregate("bc_t", q,
      Seq("GROUPBY", "0", "REDUCE", "COUNT", "0", "AS", "cnt")).collect()
    assert(e.baseCache.hits.get() == bh, "capped base must not serve the aggregate")
    assert(agg.head.getDouble(agg.head.fieldIndex("cnt")) == 20.0,
      "aggregate counts the FULL filtered set")
  }

  test("LRU bound holds with unpersist-on-evict; disable flag bypasses") {
    val e = freshEngine(n = 20)
    e.baseCache.maxEntries = 2
    e.searchReply("bc_t", "@price:[1 1]", SearchOptions(limit = (0, 1)))
    e.searchReply("bc_t", "@price:[2 2]", SearchOptions(limit = (0, 1)))
    e.searchReply("bc_t", "@price:[3 3]", SearchOptions(limit = (0, 1)))
    assert(e.baseCache.size <= 2)
    val bh = e.baseCache.hits.get()
    e.searchReply("bc_t", "@price:[3 3]", SearchOptions(limit = (0, 2)))
    assert(e.baseCache.hits.get() == bh + 1, "most recent base survives")
    // an evicted base recomputes correctly (unpersist left lineage valid)
    assert(e.searchReply("bc_t", "@price:[1 1]", SearchOptions(limit = (0, 2))).total == 1)

    e.baseCache.maxEntries = 0
    val bh1 = e.baseCache.hits.get()
    val bm1 = e.baseCache.misses.get()
    assert(e.searchReply("bc_t", "@price:[4 4]", SearchOptions(limit = (0, 2))).total == 1)
    assert(e.baseCache.hits.get() == bh1 && e.baseCache.misses.get() == bm1)
  }
}
