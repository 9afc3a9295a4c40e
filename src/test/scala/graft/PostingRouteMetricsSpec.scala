package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{Metrics, SearchEngine, SearchOptions}
import graft.model._
import graft.sources.Documents

/**
 * The posting-route counters: each top-level conjunct of a
 * non-match-all filter bumps exactly one of routed, guard-rejected
 * (a route exists but its estimate is missing or above
 * `postingRouteMaxSelectivity × N`) and scan (no posting route).
 */
class PostingRouteMetricsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("posting-route-metrics-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  // shared SparkContext across suites: never stop() here
  override def afterAll(): Unit = ()

  private val counters = Seq("query_posting_routed_cnt",
    "query_posting_guard_rejected_cnt", "query_posting_scan_cnt")

  /** (routed, guard-rejected, scan) increments of one plan build. */
  private def delta(e: SearchEngine, q: String): Seq[Long] = {
    def now = { val m = Metrics.snapshot().toMap; counters.map(m) }
    val before = now
    e.search("rm_t", q, SearchOptions(noContent = true))
    now.zip(before).map { case (a, b) => a - b }
  }

  test("each conjunct counts once: routed, guard-rejected or scan") {
    val sp = spark; import sp.implicits._
    val schema = IndexSchema("rm_t", Seq(
      FieldDef("body", TextField()), FieldDef("price", NumericField)))
    // "common" is in every doc (above the 0.25 × N guard ceiling);
    // "rare" is in one
    val corpus = ((1 to 20).map(i => (s"k$i", s"common filler$i", i.toDouble)) :+
      (("k99", "common rare", 99.0))).toDF("__key", "body", "price")
    val e = new SearchEngine
    e.createIndex(schema, Documents.enrich(corpus, schema))
    e.buildPostings("rm_t",
      java.nio.file.Files.createTempDirectory("graft-route-metrics").toString,
      numPartitions = 2)
    e.search("rm_t", "*").collect() // warm docCount

    assert(delta(e, "@body:rare") == Seq(1L, 0L, 0L))
    assert(delta(e, "@body:common") == Seq(0L, 1L, 0L))
    assert(delta(e, "@price:[1 5]") == Seq(0L, 0L, 1L))
    assert(delta(e, "@body:rare @body:common @price:[1 200]") == Seq(1L, 1L, 1L))
    assert(delta(e, "*") == Seq(0L, 0L, 0L)) // match-all has no conjuncts
    // a posting without stats never routes: the guard rejects it
    val (s, docs) = e.index("rm_t")
    e.registerPosting("rm_t", "body",
      graft.text.PostingIndex.build(docs, s, "body"))
    assert(delta(e, "@body:rare") == Seq(0L, 1L, 0L))

    Metrics.reset()
    assert(counters.map(Metrics.snapshot().toMap) == Seq(0L, 0L, 0L))
  }
}
