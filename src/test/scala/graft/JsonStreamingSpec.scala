package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SearchEngine
import graft.model._
import graft.streaming.{Ingest, IndexMaintainer}

/**
 * ON JSON × incremental maintenance (the round-14 cross-surface): an
 * ON JSON index — JSONPath identifiers over a serialized-document `$`
 * column — maintained through the same Ingest-state + IndexMaintainer
 * path HASH indexes use (reference: JSON keyspace events feed the same
 * mutation queue, attribute_data_type.h GetValkeyEventTypes
 * VALKEYMODULE_NOTIFY_MODULE). Pins that the maintainer's re-enrichment
 * extracts from `$` per batch, the posting store routes fresh JSON
 * documents, deletes tombstone them, whole-key drops apply to streamed
 * invalid documents, and the served `$` reply tracks the LATEST
 * serialization after an upsert.
 */
class JsonStreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var engine: SearchEngine = _
  private var maintainer: IndexMaintainer = _
  private var statePath: String = _
  private val expected = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var seq = 0L

  private def doc(text: String, cat: String, n: Any): String =
    s"""{"text":"$text","cat":"$cat","n":$n}"""

  private val schema = IndexSchema("js_inc", Seq(
    FieldDef("$.text", "text", TextField()),
    FieldDef("$.cat", "cat", TagField()),
    FieldDef("$.n", "n", NumericField)), onJson = true)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("json-streaming-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("json-inc").toString
    statePath = s"$tmp/state"
    (1 to 12).foreach { i =>
      expected(s"j$i") = doc(s"alpha w$i", if (i % 2 == 0) "hot" else "cold", i)
    }
    Ingest.backfill(expected.toSeq.toDF("__key", "$"), statePath, nBuckets = 4)
    engine = new SearchEngine
    engine.postingRouteMaxSelectivity = 1.0 // force routing through the store
    val enriched = graft.sources.Documents.enrich(
      Ingest.readState(spark, statePath), schema)
    engine.createIndex(schema, enriched)
    val storeDir = s"$tmp/postings"
    val store = graft.text.PostingStore.init(spark,
      graft.text.PostingIndex.build(enriched, schema, "text"), storeDir)
    maintainer = new IndexMaintainer(engine, "js_inc", schema,
      stores = Map(("text", graft.text.PostingKind.Term) -> store),
      docsSource = Some(() => Ingest.readState(spark, statePath)),
      compactRowThreshold = 1000, // stay on the overlay path
      statsDir = Some(s"$tmp/stats")).register()
  }
  override def afterAll(): Unit = if (spark != null) ()

  /** The Ingest.start contract: commit state first, then onBatch. */
  private def applyBatch(changes: Seq[(String, String, String)]): Unit = {
    val sp = spark; import sp.implicits._
    seq += 1
    changes.foreach { case (op, k, v) =>
      if (op == "upsert") expected(k) = v else expected -= k
    }
    Ingest.backfill(expected.toSeq.toDF("__key", "$"), statePath, nBuckets = 4)
    maintainer.onBatch(changes.map { case (op, k, v) => (op, k, v, seq) }
      .toDF("op", "__key", "$", "__seq"))
  }

  private def keysOf(query: String): Seq[String] = {
    val r = engine.searchReply("js_inc", query,
      graft.engine.SearchOptions(limit = (0, 100)))
    r.rows.toSeq.map(row => row.getString(row.fieldIndex("__key"))).sorted
  }

  test("batch upsert/delete of JSON documents tracks through search + postings") {
    // baseline: every doc matches alpha
    assert(keysOf("@text:alpha") == (1 to 12).map(i => s"j$i").sorted)

    applyBatch(Seq(
      ("upsert", "j3", doc("beta updated", "hot", 300)), // text + n change
      ("upsert", "j21", doc("alpha fresh", "cold", 21)), // new doc
      ("delete", "j4", null)))

    val alpha = keysOf("@text:alpha")
    assert(!alpha.contains("j3"), "modified doc must leave the old term")
    assert(!alpha.contains("j4"), "deleted doc must tombstone out")
    assert(alpha.contains("j21"), "fresh JSON doc must route in")
    assert(keysOf("@text:beta") == Seq("j3"))
    assert(keysOf("@n:[300 300]") == Seq("j3"), "re-extracted numeric tracks")
    assert(keysOf("@cat:{hot} @text:beta") == Seq("j3"))
  }

  test("the served `$` document is the LATEST serialization after an upsert") {
    val r = engine.searchReply("js_inc", "@n:[300 300]",
      graft.engine.SearchOptions(limit = (0, 10)))
    assert(r.total == 1L)
    val row = r.rows.head
    assert(row.getString(row.fieldIndex("$")) == doc("beta updated", "hot", 300))
  }

  test("a streamed JSON document with invalid data whole-key drops") {
    applyBatch(Seq(("upsert", "j22", doc("zeta unique", "cold", "\"junk\""))))
    // n:"junk" fails the NUMERIC conversion → the whole key is dropped
    // (index_schema.cc SyncProcessMutation), so even its text term
    // cannot match it
    assert(keysOf("@text:zeta").isEmpty)
    // and negation does not resurrect it (dropped ≠ missing)
    assert(!keysOf("-@n:[-1000 1000]").contains("j22"))
  }
}
