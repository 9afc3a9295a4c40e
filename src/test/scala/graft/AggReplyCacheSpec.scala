package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Commands, SearchEngine}
import graft.resp.{Resp, RespCommands}

/**
 * FT.AGGREGATE wire-reply cache: a reply is a pure function of (index
 * registration epoch, results-affecting settings, argv), so identical
 * requests serve cached bytes, any re-registration (FT.CREATE over the
 * name / FT.DROPINDEX) invalidates the index's entries, and a CONFIG
 * SET of a results-affecting setting changes the key. Pins hit
 * identity, invalidation, error non-caching, the LRU bound and the
 * settings in the key.
 */
class AggReplyCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var resp: RespCommands = _
  private var engine: SearchEngine = _
  private var nDocs = 4

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("agg-reply-cache-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    engine = new SearchEngine
    val cmds = new Commands(engine, _ => (docsDf(), col("__key")))
    resp = new RespCommands(engine, cmds)
    assert(new String(resp.execute(Seq("FT.CREATE", "agg_t", "SCHEMA",
      "grp", "TAG", "n", "NUMERIC"))).startsWith("+OK"))
  }
  override def afterAll(): Unit = ()

  private def docsDf() = {
    val sp = spark; import sp.implicits._
    (1 to nDocs).map(i => (s"k$i", if (i % 2 == 0) "even" else "odd", i.toDouble))
      .toDF("__key", "grp", "n")
  }

  private val aggArgv = Seq("FT.AGGREGATE", "agg_t", "*",
    "GROUPBY", "1", "@grp", "REDUCE", "SUM", "1", "@n", "AS", "total")

  test("identical FT.AGGREGATE serves cached bytes; epoch invalidates") {
    val r1 = resp.execute(aggArgv)
    val h0 = engine.aggReplyCache.hits.get()
    val r2 = resp.execute(aggArgv)
    assert(engine.aggReplyCache.hits.get() == h0 + 1)
    assert(java.util.Arrays.equals(r1, r2))
    // sanity on content: 2 groups
    assert(Resp.decode(r1).asInstanceOf[Vector[Any]].head == 2L)

    // re-registration with MORE docs (the maintainer's per-batch
    // createIndex shape): the epoch bump makes the cached reply
    // unreachable — totals must reflect the new corpus
    nDocs = 6
    val schema = engine.schemaOf("agg_t")
    engine.createIndex(schema, graft.sources.Documents.enrich(docsDf(), schema))
    val r3 = resp.execute(aggArgv)
    assert(!java.util.Arrays.equals(r1, r3), "stale aggregate served")
    val groups = Resp.decode(r3).asInstanceOf[Vector[Any]].tail
      .map(_.asInstanceOf[Vector[Any]])
      .map(g => g.grouped(2).map(p => p(0) -> p(1)).toMap)
    // 1..6: odd sum 1+3+5=9, even sum 2+4+6=12
    val totals = groups.map(g => g("grp") -> g("total")).toMap
    assert(totals == Map("odd" -> "9", "even" -> "12"), s"got $totals")
  }

  test("errors are never cached; DROPINDEX invalidates") {
    val bad = Seq("FT.AGGREGATE", "agg_t", "*", "GROUPBY", "1", "@nope")
    val e1 = new String(resp.execute(bad))
    assert(e1.startsWith("-"))
    val h0 = engine.aggReplyCache.hits.get()
    assert(new String(resp.execute(bad)).startsWith("-"))
    assert(engine.aggReplyCache.hits.get() == h0, "error reply was cached")

    assert(new String(resp.execute(Seq("FT.DROPINDEX", "agg_t"))).startsWith("+OK"))
    assert(new String(resp.execute(aggArgv)).startsWith("-"), "dropped index served")
  }

  test("LRU bound holds") {
    nDocs = 4
    assert(new String(resp.execute(Seq("FT.CREATE", "agg_t", "SCHEMA",
      "grp", "TAG", "n", "NUMERIC"))).startsWith("+OK"),
      "re-create after DROPINDEX failed")
    engine.aggReplyCache.maxEntries = 2
    (1 to 4).foreach { k =>
      resp.execute(Seq("FT.AGGREGATE", "agg_t", "*", "LIMIT", "0", k.toString))
    }
    assert(engine.aggReplyCache.size <= 2)
    // most recent entry still hits
    val h0 = engine.aggReplyCache.hits.get()
    resp.execute(Seq("FT.AGGREGATE", "agg_t", "*", "LIMIT", "0", "4"))
    assert(engine.aggReplyCache.hits.get() == h0 + 1)
  }

  private def ok(argv: String*): Unit =
    assert(new String(resp.execute(argv)).startsWith("+OK"), argv.mkString(" "))

  test("re-registration and DROPINDEX leave no cached reply of the index") {
    engine.aggReplyCache.maxEntries = 64
    resp.execute(aggArgv)
    assert(engine.aggReplyCache.size >= 1)
    val schema = engine.schemaOf("agg_t")
    engine.createIndex(schema, graft.sources.Documents.enrich(docsDf(), schema))
    assert(engine.aggReplyCache.size == 0, "re-registration keeps dead replies")
    resp.execute(aggArgv)
    assert(engine.aggReplyCache.size == 1)
    ok("FT.DROPINDEX", "agg_t")
    assert(engine.aggReplyCache.size == 0, "DROPINDEX keeps dead replies")
    ok("FT.CREATE", "agg_t", "SCHEMA", "grp", "TAG", "n", "NUMERIC")
  }

  test("CONFIG SET search.emulate-release: a repeat runs the legacy semantics") {
    // pre-1.2.1 every string is falsy (asbool_string_truthy)
    val argv = Seq("FT.AGGREGATE", "agg_t", "*", "LOAD", "1", "@grp",
      "FILTER", "@grp")
    assert(Resp.decode(resp.execute(argv)).asInstanceOf[Vector[Any]].head == 4L)
    ok("CONFIG", "SET", "search.emulate-release", "1.2.0")
    try {
      val before = graft.engine.Metrics.legacyUses("asbool_string_truthy")
      assert(Resp.decode(resp.execute(argv)).asInstanceOf[Vector[Any]].head == 0L,
        "fixed-semantics reply served under 1.2.0")
      assert(graft.engine.Metrics.legacyUses("asbool_string_truthy") > before)
    } finally ok("CONFIG", "SET", "search.emulate-release",
      graft.model.ValkeyVersion.Module.toString)
  }

  test("CONFIG SET search.fuzzy-max-distance: a repeat past the new cap is a parse error") {
    ok("FT.CREATE", "agg_txt", "SCHEMA", "grp", "TEXT")
    val argv = Seq("FT.AGGREGATE", "agg_txt", "%%%odd%%%", "LOAD", "1", "@grp")
    assert(!new String(resp.execute(argv)).startsWith("-"))
    ok("CONFIG", "SET", "search.fuzzy-max-distance", "2")
    try assert(new String(resp.execute(argv)).startsWith("-"),
      "cached reply served past the fuzzy cap")
    finally ok("CONFIG", "SET", "search.fuzzy-max-distance",
      graft.query.FilterParser.DefaultFuzzyMaxDistance.toString)
  }
}
