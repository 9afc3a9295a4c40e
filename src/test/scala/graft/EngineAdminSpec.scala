package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{SearchEngine, SearchOptions}
import graft.model._
import graft.sources.Documents

/** FT.INFO, index save/load (S5), TIMEOUT (R5), JSON reader (S4). */
class EngineAdminSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var engine: SearchEngine = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("admin-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    engine = Fixtures.engine(spark, "/root/testdata/sf0.001")
  }
  // NOTE: never stop() here - getOrCreate shares ONE SparkContext
  // across all suites in the JVM; stopping it kills whichever suite
  // runs next (the forked test JVM cleans up on exit).
  override def afterAll(): Unit = ()

  test("JSON reader: $.path field is filterable/sortable like any scalar (S4)") {
    val rows = engine.search("events", "@prop_k:[95 +inf]",
      SearchOptions(limit = (0, 5), sortBy = Some(("prop_k", false)),
        returnFields = Seq(("prop_k", None))))
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(1) >= 95))
  }

  test("FT.INFO: per-field metadata and tracked counts (C3)") {
    val info = engine.info("events").collect()
    assert(info.length == 5) // ts_sec, value, user_id, event_type, prop_k
    val byField = info.map(r => r.getAs[String]("field") -> r).toMap
    assert(byField("prop_k").getAs[String]("identifier") == "props:$.k")
    assert(byField("prop_k").getAs[String]("field_type") == "NUMERIC")
    assert(byField("ts_sec").getAs[Long]("num_docs") == 1000L)
    assert(byField("ts_sec").getAs[Long]("num_tracked") == 1000L)
    // no derived structures registered on this engine's events index
    assert(byField("ts_sec").getAs[String]("attached_indexes") == "")
  }

  test("non-vector fetch cap: match-all reply truncates at the cap (search.cc:623-668)") {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("cap_t", Seq(FieldDef("price", NumericField)))
    e.createIndex(schema, Documents.enrich(
      (1 to 20).map(i => (s"k$i", i.toDouble)).toDF("__key", "price"), schema))
    val limitedBefore = graft.engine.Metrics.nonVectorFetchLimited.get()

    // cap below the match count: total reflects the TRUNCATED set and
    // the limited counter bumps (reference truncation semantics)
    e.maxNonVectorResultsFetched = 5
    val capped = e.searchReply("cap_t", "*", SearchOptions(limit = (0, 10)))
    assert(capped.total == 5, s"total past the cap: ${capped.total}")
    assert(capped.rows.length == 5)
    assert(graft.engine.Metrics.nonVectorFetchLimited.get() == limitedBefore + 1)

    // filtered (non-match-all) queries cap the same way
    val cappedF = e.searchReply("cap_t", "@price:[0 +inf]",
      SearchOptions(limit = (0, 10)))
    assert(cappedF.total == 5)

    // at-or-under the cap: exact totals, no counter bump
    e.maxNonVectorResultsFetched = 100000
    val uncapped = e.searchReply("cap_t", "*", SearchOptions(limit = (0, 10)))
    assert(uncapped.total == 20 && uncapped.rows.length == 10)
    assert(graft.engine.Metrics.nonVectorFetchLimited.get() == limitedBefore + 2)
  }

  test("FT.INFO: attached_indexes names each field's registered structures") {
    val e = Queries.postingEng(spark, "/root/testdata/sf0.001")
    val byField = e.info("documents_pi").collect()
      .map(r => r.getAs[String]("field") -> r.getAs[String]("attached_indexes"))
      .toMap
    // text (WITHSUFFIXTRIE + default offsets): stem + suffix + positional
    assert(byField("text") == "posting,suffix_posting,positional_posting",
      s"text attached: ${byField("text")}")
    // tag fields: tag posting only
    assert(byField("source") == "posting" && byField("lang") == "posting")
    assert(byField("n_chars") == "")
  }

  test("FT.INFO build state: ready by default, backfill via SKIPINITIALSCAN, metrics via INFO") {
    // batch-registered index: built the moment createIndex returns
    val ready = engine.info("part").collect().head
    assert(ready.getAs[String]("state") == "ready")
    assert(!ready.getAs[Boolean]("backfill_in_progress"))
    assert(ready.getAs[Double]("backfill_complete_percent") == 100.0)
    assert(ready.getAs[Long]("mutation_queue_size") == 0L)

    // SKIPINITIALSCAN: empty index awaiting its stream → backfilling
    val e = new SearchEngine
    val cmds = new graft.engine.Commands(e,
      _ => (Fixtures.table(spark, "/root/testdata/sf0.001", "documents"),
        col("doc_id")))
    cmds.execute(Seq("FT.CREATE", "pending", "SKIPINITIALSCAN",
      "SCHEMA", "n_chars", "NUMERIC"))
    val bf = e.info("pending").collect().head
    assert(bf.getAs[String]("state") == "backfill_in_progress")
    assert(bf.getAs[Boolean]("backfill_in_progress"))
    assert(bf.getAs[Double]("backfill_complete_percent") == 0.0)
    // progress report → percent moves; completion → ready
    e.reportBackfill("pending", 50, 100)
    assert(e.info("pending").collect().head
      .getAs[Double]("backfill_complete_percent") == 50.0)
    e.markReady("pending")
    assert(e.info("pending").collect().head.getAs[String]("state") == "ready")

    // INFO (SEARCH section): the Metrics snapshot as (metric, value)
    val m = cmds.execute(Seq("INFO"))
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.contains("query_successful_requests_cnt"))
  }

  test("index save/load round-trip preserves query results (S5)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx").toString
    engine.saveIndex("part", tmp)
    val e2 = SearchEngine.loadIndex(spark, tmp, new SearchEngine)
    val q = "@p_size:[10 20]"
    val orig = engine.search("part", q, SearchOptions(limit = (0, 50), noContent = true))
      .collect().map(_.getString(0)).toSeq
    val restored = e2.search("part", q, SearchOptions(limit = (0, 50), noContent = true))
      .collect().map(_.getString(0)).toSeq
    assert(orig == restored && orig.nonEmpty)
  }

  test("save/load carries postings, stats and NSW graphs (S5 derived state)") {
    import graft.model._
    val dir = "/root/testdata/sf0.001"
    // source engine: a docs index with built postings (a RARE term so
    // the cardinality guard routes: testdata's ~40-word vocabulary
    // puts every term above the selectivity ceiling) + an NSW graph on
    // the embeddings index
    val sp = spark; import sp.implicits._
    val e1 = new SearchEngine
    // WITHSUFFIXTRIE: every posting kind (term, suffix, positional) is
    // built, saved and reloaded
    val docSchema = IndexSchema("sl_docs", Seq(
      FieldDef("lang", TagField()),
      FieldDef("text", TextField(withSuffixTrie = true))))
    val corpus = ((1 to 40).map(i => (i.toLong, "en", s"common filler text number $i")) :+
      (99L, "en", "the rareword appears once")).toDF("doc_id", "lang", "text")
    e1.createIndex(docSchema, graft.sources.Documents.enrich(
      corpus, docSchema, keyExpr = Some(col("doc_id"))))
    val pdir = java.nio.file.Files.createTempDirectory("graft-sl-pi").toString
    e1.buildPostings("sl_docs", pdir)
    val annSchema = IndexSchema("sl_emb", Seq(
      FieldDef("label", NumericField),
      FieldDef("embedding", "vec", VectorField(dim = 64, metric = DistanceMetric.L2))))
    val enriched = graft.sources.Documents.enrich(
      Fixtures.table(spark, dir, "embeddings"), annSchema,
      keyExpr = Some(col("vec_id")))
    e1.createIndex(annSchema, enriched)
    e1.registerAnn("sl_emb", "vec",
      graft.pipeline.Nsw.build(enriched, "__key", "vec", metric = "L2",
        numPartitions = 2))

    val t1 = java.nio.file.Files.createTempDirectory("graft-sl-docs").toString
    val t2 = java.nio.file.Files.createTempDirectory("graft-sl-emb").toString
    e1.saveIndex("sl_docs", t1)
    e1.saveIndex("sl_emb", t2)
    val e2 = new SearchEngine
    SearchEngine.loadIndex(spark, t1, e2)
    SearchEngine.loadIndex(spark, t2, e2)

    // FT.INFO surfaces the re-attached structures without any rebuild
    val attached = e2.info("sl_docs")
      .filter(col("field") === "text").collect().head
      .getAs[String]("attached_indexes")
    assert(attached == "posting,suffix_posting,positional_posting",
      s"got '$attached'")
    assert(e2.info("sl_emb").filter(col("field") === "vec").collect().head
      .getAs[String]("attached_indexes").contains("ann_graph"))

    // text query: same results, and the reloaded engine ROUTES via the
    // re-attached posting + stats (the guard declines without stats)
    val q = "@text:rareword"
    val orig = e1.search("sl_docs", q, SearchOptions(limit = (0, 50), noContent = true))
      .collect().map(_.getString(0)).toSeq
    val restored = e2.search("sl_docs", q, SearchOptions(limit = (0, 50), noContent = true))
      .collect().map(_.getString(0)).toSeq
    assert(orig == restored && orig.nonEmpty)
    assert(e2.lastRouteEstimates.nonEmpty,
      "reloaded engine did not route via the re-attached posting")
    // prefix (suffix posting) and phrase (positional posting) queries
    // route on the restored engine too, with the source's results
    Seq("@text:rarew*", "@text:\"rareword appears\"").foreach { pq =>
      val a = e1.search("sl_docs", pq, SearchOptions(limit = (0, 50), noContent = true))
        .collect().map(_.getString(0)).toSeq
      val b = e2.search("sl_docs", pq, SearchOptions(limit = (0, 50), noContent = true))
        .collect().map(_.getString(0)).toSeq
      assert(a == b && b == Seq("99"), s"$pq: $a vs $b")
      assert(e2.lastRouteEstimates.nonEmpty, s"reloaded engine did not route $pq")
    }

    // graph-ANN query: the reloaded graph serves the SAME beam result
    // as the source engine's in-memory graph (match-all KNN → graph path)
    val knnQ = "*=>[KNN 10 @vec $q]"
    val opts = SearchOptions(params = Map("q" ->
      graft.query.VectorParam(Queries.queryVec)), noContent = true)
    val ka = e1.search("sl_emb", knnQ, opts).collect().map(_.getString(0)).toSeq
    val kb = e2.search("sl_emb", knnQ, opts).collect().map(_.getString(0)).toSeq
    assert(ka == kb && ka.length == 10)
  }

  test("TIMEOUT cancels a slow query cooperatively (R5)") {
    val sp = spark; import sp.implicits._
    val slow = udf((x: Long) => { Thread.sleep(200); x })
    val df = spark.range(0, 10000).repartition(4)
      .select(slow(col("id")).as("v")).agg(sum("v"))
    intercept[java.util.concurrent.TimeoutException] {
      engine.executeWithTimeout(df, timeoutMs = 1500)
    }
    // and a fast query completes fine through the same path
    val ok = engine.executeWithTimeout(
      engine.search("part", "@p_size:[10 20]", SearchOptions(limit = (0, 5))), 50000)
    assert(ok.nonEmpty)
  }

  test("metrics: query-class counters, planner split, latency histogram") {
    graft.engine.Metrics.reset()
    engine.searchReply("part", "@p_size:[10 20]")          // non-vector
    engine.searchReply("documents", "@text:merge")         // non-vector + text
    engine.searchReply("embeddings_l2", "@label:[3 5]=>[KNN 5 @vec $q]",
      SearchOptions(params = Map("q" ->
        graft.query.VectorParam(Queries.queryVec))))       // hybrid → prefilter
    intercept[Exception] {
      engine.searchReply("part", "@no_such_field:[1 2]")
    }
    val m = graft.engine.Metrics.snapshot().toMap
    assert(m("query_nonvector_requests_cnt") == 3) // incl. the failed one
    assert(m("query_text_requests_cnt") == 1)
    assert(m("query_vector_requests_cnt") == 1)
    assert(m("query_hybrid_requests_cnt") == 1)
    assert(m("query_prefiltering_requests_cnt") == 1)
    assert(m("query_inline_filtering_requests_cnt") == 0)
    assert(m("query_successful_requests_cnt") == 3)
    assert(m("query_failed_requests_cnt") >= 1)
    assert(m.keys.exists(_.startsWith("query_latency_us_le_")))
  }

  test("per-class latency histograms (reference metrics.h samplers)") {
    graft.engine.Metrics.reset()
    // one reply per class: nonvector, prefilter KNN (flat analogue),
    // inline KNN (hnsw analogue, via the NSW-registered index), and an
    // aggregate over the wire path's timer
    // a query unique to this test — an exact repeat of an earlier
    // test's query would serve from the reply cache and skip the
    // compute path the class timers wrap
    engine.searchReply("part", "@p_size:[11 19]")
    engine.searchReply("embeddings_l2", "@label:[3 5]=>[KNN 5 @vec $q]",
      SearchOptions(params = Map("q" ->
        graft.query.VectorParam(Queries.queryVec))))       // → prefilter/flat
    engine.searchReply("embeddings_l2", "*=>[KNN 5 @vec $q]",
      SearchOptions(params = Map("q" ->
        graft.query.VectorParam(Queries.queryVec))))       // match-all
    graft.engine.Metrics.aggregateLatency.timed {
      engine.aggregate("part", "*", Seq("GROUPBY", "0",
        "REDUCE", "COUNT", "0", "AS", "n")).collect()
    }
    val m = graft.engine.Metrics.snapshot().toMap
    def total(prefix: String): Long =
      m.collect { case (k, v) if k.startsWith(prefix) => v }.sum
    assert(total("query_nonvector_latency_us_le_") == 1)
    // match-all KNN takes hnsw iff an ANN graph is registered for the
    // field; either way flat+hnsw account for both vector replies
    assert(total("flat_vector_index_search_latency_us_le_") +
      total("hnsw_vector_index_search_latency_us_le_") == 2)
    assert(total("flat_vector_index_search_latency_us_le_") >= 1)
    assert(total("aggregate_latency_us_le_") == 1)
  }
}
