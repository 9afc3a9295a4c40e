package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{PostingStats, SearchEngine, SearchOptions}
import graft.model._
import graft.query.FilterParser
import graft.sources.Documents
import graft.text.{PostingIndex, PostingKind}

/**
 * The old-docs + new-postings transient mix (round-12 verdict item):
 * a reader that captured the pre-swap docs DataFrame just before a
 * createIndex catalog swap can build its filter plan AFTER the
 * maintainer re-registers postings from the NEW corpus. Without the
 * registration-epoch gate, the posting semi-join drops keys the old
 * snapshot matches but the new posting no longer lists (changed or
 * deleted docs) — a reply consistent with NEITHER epoch.
 *
 * This spec constructs that interleaving deterministically by playing
 * the reader's two halves by hand: capture (docs, epoch) as
 * searchReply does at entry, run the refresh, then build the plan via
 * filterStage with the captured pair. The gate must degrade the
 * conjunct to the columnar scan, whose answer is correct for the
 * captured snapshot.
 */
class EpochMixSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("epoch-mix-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  private val schema = IndexSchema("em_t", Seq(
    FieldDef("body", TextField(withSuffixTrie = true)),
    FieldDef("cat", TagField()),
    FieldDef("vec", VectorField(dim = 2, metric = DistanceMetric.L2))))

  private def corpus(v: Int) = {
    val sp = spark; import sp.implicits._
    // k1 carries "alpha" / tag "hot" only in v1; in v2 it changes text
    // and tag, and k2 is deleted outright
    val rows =
      if (v == 1) Seq(
        ("k1", "alpha anchor phrase", "hot", Array(0f, 0f)),
        ("k2", "alpha second doc", "hot", Array(1f, 0f)),
        ("k3", "beta filler words", "cold", Array(2f, 0f)),
        ("k4", "gamma filler words", "cold", Array(3f, 0f)))
      else Seq(
        ("k1", "rewritten content here", "cold", Array(10f, 0f)),
        ("k3", "beta filler words", "cold", Array(2f, 0f)),
        ("k4", "gamma filler words", "cold", Array(3f, 0f)))
    rows.toDF("__key", "body", "cat", "vec")
  }

  private def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def registerAll(e: SearchEngine, v: Int): org.apache.spark.sql.DataFrame = {
    val docs = Documents.enrich(corpus(v), schema)
    e.createIndex(schema, docs)
    val p = PostingIndex.build(docs, schema, "body")
    e.registerPosting("em_t", "body", p)
    e.registerPostingStats("em_t", "body", counts(p))
    val sfx = PostingIndex.buildSuffixes(docs, schema, "body")
    e.registerPosting("em_t", "body", sfx, PostingKind.Suffix)
    e.registerPostingStats("em_t", "body", PostingStats.hotOnly(
      counts(sfx.filter(org.apache.spark.sql.functions.col("full")))),
        PostingKind.Suffix)
    val pos = PostingIndex.buildPositions(docs, schema, "body")
    e.registerPosting("em_t", "body", pos, PostingKind.Positional)
    e.registerPostingStats("em_t", "body", PostingStats.hotOnly(counts(pos)),
        PostingKind.Positional)
    e.registerPosting("em_t", "cat", PostingIndex.buildTags(docs, schema, "cat"))
    e.registerPostingStats("em_t", "cat", Map("hot" -> 2L, "cold" -> 2L))
    docs
  }

  private def keysOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("__key").collect().map(_.getString(0)).toSet

  test("a pre-swap reader never routes through post-swap postings") {
    val e = new SearchEngine
    registerAll(e, v = 1)
    // — the reader's entry half: epoch BEFORE catalog, then docs
    val epOld = e.registrationEpoch("em_t")
    val (sch, docsOld) = e.index("em_t")
    // — the refresh lands: new corpus, new postings, epoch bumps
    registerAll(e, v = 2)
    assert(e.registrationEpoch("em_t") != epOld)
    // — the reader resumes and builds its plan from the captured pair.
    // Every routed query class must answer per the OLD snapshot:
    val cases = Seq(
      "@body:alpha" -> Set("k1", "k2"), // term (k1 changed, k2 deleted in v2)
      "@cat:{hot}" -> Set("k1", "k2"), // tag
      "@body:alp*" -> Set("k1", "k2"), // prefix via suffix posting
      "@body:*pha" -> Set("k1", "k2"), // suffix
      "\"alpha anchor\"" -> Set("k1")) // phrase via positional posting
    cases.foreach { case (q, want) =>
      val parsed = FilterParser.parse(q, Map.empty, analyzer = sch.analyzer)
      val got = keysOf(e.filterStage(sch, docsOld, parsed, SearchOptions(), epOld))
      assert(got == want, s"query $q at the captured epoch: got $got want $want")
      assert(e.lastRouteEstimates.isEmpty,
        s"query $q must NOT route through the new-epoch postings")
    }
    // and a fresh reader (current epoch + current docs) routes again,
    // with v2-correct answers
    val epNew = e.registrationEpoch("em_t")
    val (sch2, docsNew) = e.index("em_t")
    // (a selective term — the tag's estimate exceeds the 25% routing
    // cap on the 3-doc v2 corpus, which is the guard, not the gate)
    val parsed = FilterParser.parse("@body:beta", Map.empty, analyzer = sch2.analyzer)
    val got = keysOf(e.filterStage(sch2, docsNew, parsed, SearchOptions(), epNew))
    assert(got == Set("k3"))
    assert(e.lastRouteEstimates.nonEmpty, "fresh epoch must route")
  }

  test("a pre-swap KNN reader falls back to exact search, not the new graph") {
    val e = new SearchEngine
    val docs1 = registerAll(e, v = 1)
    e.registerAnn("em_t", "vec",
      graft.pipeline.Nsw.build(docs1, "__key", "vec", metric = "L2",
        numPartitions = 2))
    val epOld = e.registrationEpoch("em_t")
    val (sch, docsOld) = e.index("em_t")
    val docs2 = registerAll(e, v = 2)
    e.registerAnn("em_t", "vec",
      graft.pipeline.Nsw.build(docs2, "__key", "vec", metric = "L2",
        numPartitions = 2))
    // nearest-2 to (1, 0) in v1 is {k2 (exact hit), k1 (key-asc tie
    // with k3)}; k2 is DELETED in v2, so a v2 graph can never return
    // it — the stale-epoch reader must take the exact path over its
    // captured docs, not the new graph
    val q = "*=>[KNN 2 @vec $v]"
    val opts = SearchOptions(params = Map("v" ->
      graft.query.VectorParam(Array(1f, 0f))))
    val parsed = FilterParser.parse(q, opts.params, analyzer = sch.analyzer)
    val knnInline0 = graft.engine.Metrics.knnInline.get()
    val filtered = e.filterStage(sch, docsOld, parsed, opts, epOld)
    val page = e.finishSearch("em_t", sch, filtered, parsed, opts, epOld)
    assert(keysOf(page) == Set("k1", "k2"),
      "stale-epoch KNN must answer from the captured snapshot")
    assert(graft.engine.Metrics.knnInline.get() == knnInline0,
      "stale-epoch KNN must not take the inline-ANN branch")
    // a fresh reader uses the new graph (match-all KNN = inline branch)
    val epNew = e.registrationEpoch("em_t")
    val (sch2, docsNew) = e.index("em_t")
    val parsed2 = FilterParser.parse(q, opts.params, analyzer = sch2.analyzer)
    val page2 = e.finishSearch("em_t", sch2,
      e.filterStage(sch2, docsNew, parsed2, opts, epNew), parsed2, opts, epNew)
    assert(keysOf(page2) == Set("k3", "k4"))
    assert(graft.engine.Metrics.knnInline.get() == knnInline0 + 1)
  }
}
