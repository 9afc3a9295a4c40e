package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.{PostingStats, SearchEngine, SearchOptions}
import graft.model._
import graft.sources.Documents
import graft.text.{PostingIndex, PostingKind}

/**
 * Every routed query class under concurrent re-registration. The
 * SocketMaintainSpec reader race showed plan construction crashing
 * (None.get) when a maintainer batch dropped + re-added derived state
 * between a routability check and the lookup it guards; the fix takes
 * one read-only snapshot of each registry per plan build and degrades
 * vanished conjuncts to the scan path. This spec hammers that window
 * directly — term/prefix/suffix/phrase/tag routing plus numeric and
 * boolean scans — while a writer thread loops the full
 * createIndex-then-re-register cycle, and asserts ZERO exceptions and
 * invariant results for documents untouched by the churn.
 */
class MaintainStressSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("maintain-stress-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  test("all routed query classes survive createIndex + derived-state churn") {
    val sp = spark; import sp.implicits._
    val e = new SearchEngine
    val schema = IndexSchema("ms_t", Seq(
      FieldDef("body", TextField(withSuffixTrie = true)),
      FieldDef("cat", TagField()),
      FieldDef("price", NumericField),
      FieldDef("vec", VectorField(dim = 2, metric = DistanceMetric.L2))))
    def corpus(extra: Int) = ((1 to 12).map { i =>
      (s"k$i", s"stable anchor phrase token$i", "keep", i.toDouble,
        Array(i.toFloat, 0f))
    } ++ (1 to extra).map { i =>
      (s"x$i", s"churn extra document word$i", "churn", 100.0 + i,
        Array(1000f + i, 0f))
    }).toDF("__key", "body", "cat", "price", "vec")

    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("term").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def register(extra: Int): Unit = {
      val docs = Documents.enrich(corpus(extra), schema)
      e.createIndex(schema, docs)
      val p = PostingIndex.build(docs, schema, "body")
      e.registerPosting("ms_t", "body", p)
      e.registerPostingStats("ms_t", "body", counts(p))
      val sfx = PostingIndex.buildSuffixes(docs, schema, "body")
      e.registerPosting("ms_t", "body", sfx, PostingKind.Suffix)
      e.registerPostingStats("ms_t", "body", PostingStats.hotOnly(
        counts(sfx.filter(org.apache.spark.sql.functions.col("full")))),
        PostingKind.Suffix)
      val pos = PostingIndex.buildPositions(docs, schema, "body")
      e.registerPosting("ms_t", "body", pos, PostingKind.Positional)
      e.registerPostingStats("ms_t", "body", PostingStats.hotOnly(counts(pos)),
        PostingKind.Positional)
      e.registerPosting("ms_t", "cat", PostingIndex.buildTags(docs, schema, "cat"))
      // ANN on every OTHER cycle: readers cross both the graph-present
      // and graph-absent planner regimes, and the drop window between
      // createIndex and re-registration
      if (extra % 2 == 0)
        e.registerAnn("ms_t", "vec",
          graft.pipeline.Nsw.build(docs, "__key", "vec", metric = "L2",
            numPartitions = 2))
    }
    e.postingRouteMaxSelectivity = 1.0 // route every class: mechanics, not planning
    register(0)

    // query classes: every routed fetcher plus scan-path shapes. The
    // 12 "stable anchor" docs are untouched by churn — each class's
    // stable result set must never flicker.
    val shapes: Seq[(String, String, Int)] = Seq(
      ("term", "@body:anchor", 12),
      ("prefix", "@body:token*", 12),
      ("suffix", "@body:*oken1", 1), // token1 only (token10.. end differently)
      ("infix", "@body:*ncho*", 12),
      ("phrase", "@body:\"stable anchor phrase\"", 12),
      ("tag", "@cat:{keep}", 12),
      ("numeric", "@price:[1 12]", 12),
      ("bool", "@body:anchor @price:[1 6]", 6),
      ("not", "-@cat:{churn} @body:stable", 12))

    val errs = new AtomicInteger(0)
    val wrong = new AtomicInteger(0)
    val wrongDetail = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new AtomicBoolean(false)
    val firstErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val searchReaders = shapes.map { case (_, q, expect) =>
      new Thread(() => {
        while (!done.get) {
          try {
            val r = e.searchReply("ms_t", q,
              SearchOptions(limit = (0, 20), noContent = true))
            val stable = r.rows.map(_.getString(0)).count(_.startsWith("k"))
            if (stable != expect) {
              val ep = e.registrationEpoch("ms_t")
              val again = e.searchReply("ms_t", q,
                SearchOptions(limit = (0, 20), noContent = true))
              wrongDetail.add(s"$q ep=$ep -> ${r.rows.map(_.getString(0)).mkString(",")}" +
                s" | requery(ep=${e.registrationEpoch("ms_t")}) -> " +
                again.rows.map(_.getString(0)).mkString(","))
              wrong.incrementAndGet()
            }
          } catch { case t: Throwable =>
            firstErr.compareAndSet(null, t); errs.incrementAndGet()
          }
        }
      })
    }
    // KNN: nearest-5 to the origin are always stable docs k1..k5 (churn
    // vectors live at x≥1000) — exercises the hybrid planner + the ANN
    // registration drop window (graph present on alternate cycles only)
    val knnReader = new Thread(() => {
      val opts = SearchOptions(limit = (0, 5), noContent = true,
        params = Map("BLOB" -> graft.query.VectorParam(Array(0f, 0f))))
      while (!done.get) {
        try {
          val r = e.searchReply("ms_t", "*=>[KNN 5 @vec $BLOB]", opts)
          if (r.rows.map(_.getString(0)).toSet != Set("k1", "k2", "k3", "k4", "k5")) {
            wrongDetail.add(s"knn -> ${r.rows.map(_.getString(0)).mkString(",")}")
            wrong.incrementAndGet()
          }
        } catch { case t: Throwable =>
          firstErr.compareAndSet(null, t); errs.incrementAndGet()
        }
      }
    })
    // FT.AGGREGATE over the churn-untouched tag: the count can't flicker
    val aggReader = new Thread(() => {
      while (!done.get) {
        try {
          val rows = e.aggregate("ms_t", "@cat:{keep}",
            Seq("GROUPBY", "0", "REDUCE", "COUNT", "0", "AS", "cnt")).collect()
          if (rows.head.getDouble(rows.head.fieldIndex("cnt")) != 12.0) {
            wrongDetail.add(s"agg -> ${rows.head}")
            wrong.incrementAndGet()
          }
        } catch { case t: Throwable =>
          firstErr.compareAndSet(null, t); errs.incrementAndGet()
        }
      }
    })
    val readers = searchReaders ++ Seq(knnReader, aggReader)
    readers.foreach(_.start())
    val staleAfterCommit = new AtomicInteger(0)
    try {
      // 8 full churn cycles: each drops ALL derived state (createIndex)
      // and re-registers it piecewise — the widest possible
      // inconsistency window for the routing snapshot to absorb
      (1 to 8).foreach { round =>
        register(round)
        // Freshness contract: once register returns, the cycle's marker
        // doc (word$round exists ONLY in this generation) must be
        // visible THROUGH searchReply — a reply computed from (new
        // docs, old postings) during the registration window and cached
        // under the new epoch would serve a stale miss here
        // (createIndex drops derived state BEFORE the catalog swap
        // precisely so that mixed view cannot exist).
        val r = e.searchReply("ms_t", s"@body:word$round",
          SearchOptions(limit = (0, 5), noContent = true))
        if (r.total != 1) staleAfterCommit.incrementAndGet()
      }
    } finally {
      done.set(true)
      readers.foreach(_.join(30000))
    }
    assert(staleAfterCommit.get == 0,
      s"${staleAfterCommit.get} post-commit queries served a pre-batch answer")
    assert(errs.get == 0,
      s"${errs.get} reader exceptions during churn; first: ${firstErr.get}")
    assert(wrong.get == 0,
      s"${wrong.get} flickers of stable result sets: " +
        wrongDetail.toArray.mkString("; "))
    // post-churn: exact results through every class
    shapes.foreach { case (label, q, expect) =>
      val r = e.searchReply("ms_t", q, SearchOptions(limit = (0, 50), noContent = true))
      assert(r.rows.map(_.getString(0)).count(_.startsWith("k")) == expect,
        s"$label wrong after churn")
    }
  }
}
