package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.engine.{PostingStats, SearchEngine, SearchOptions}
import graft.model._
import graft.query.VectorParam
import graft.sources.Documents
import graft.text.{PostingIndex, PostingKind}

/**
 * Seeded interleaving soak (round-12 verdict item 2): one writer
 * replaying maintainer-style refreshes (createIndex + full derived
 * re-registration, version after version) against concurrent readers
 * issuing every routed query class + KNN + hybrid + aggregate + paging
 * through the PUBLIC searchReply/aggregate path — asserting PER-EPOCH
 * FRESHNESS on every reply.
 *
 * The check that makes mixes detectable: version v's documents are
 * keyed `d{v}_{i}`, so any reply's key set names the version(s) it was
 * computed from. A valid reply equals the closed-form answer of ONE
 * version inside the reader's freshness window [lastCompleted at
 * entry, lastStarted at return] — version-v registration swaps the
 * catalog BEFORE marking v completed, and versions beyond lastStarted
 * have not swapped yet, so any correctly-snapshotted reply must sit in
 * that window. A reply matching NO version in the window is exactly
 * the old-docs + new-postings mix (SearchEngine.createIndex notes).
 * The mix's interleaving window is narrow (measured: a 120-version
 * gate-disabled run did not hit it), so the DETERMINISTIC re-find
 * lives in EpochMixSpec; this harness owns the unknown-unknowns — it
 * caught the r13 AQE empty-page race that no deterministic spec was
 * looking for.
 *
 * Routing is forced adversarial: postingRouteMaxSelectivity = 1.0 so
 * EVERY eligible conjunct takes the posting semi-join path, and an ANN
 * graph is re-registered every version so match-all KNN takes the
 * inline graph branch.
 */
object InterleaveSoak {

  // Historical-bug isolation mode (`noderived` CLI arg, the
  // `noDerived` parameter of [[run]]/[[registerVersion]]): register NO
  // derived relations (no postings, no ANN) and disable both serving
  // caches, so every reply re-optimizes the shared enriched plan via
  // the pure columnar scan. With no posting semi-join there is no
  // epoch-mix pathway and with no cached base no unpersist race —
  // what remains exposed is exactly the class of shared-plan
  // evaluation bugs the r11 HOF-lambda race belonged to. Run at the
  // PRE-fix commit 621de79 (port this file into a worktree), 3/6
  // seeds re-find it in <60 s each with the documented signature
  // (phrase reply missing stable docs, retry heals); at the fix
  // commit 96216d7 the same seeds pass. See STATUS round 13.
  // (Threaded as a parameter, not object state: a process-global
  // @volatile silently changed what concurrent callers registered —
  // round-13 ADVICE.)

  val M = 24 // docs per version

  private val schema = IndexSchema("soak_t", Seq(
    FieldDef("body", TextField(withSuffixTrie = true)),
    FieldDef("cat", TagField()),
    FieldDef("price", NumericField),
    FieldDef("ver", NumericField),
    FieldDef("vec", VectorField(dim = 2, metric = DistanceMetric.L2))))

  private def corpus(spark: SparkSession, v: Int): DataFrame = {
    import spark.implicits._
    (1 to M).map { i =>
      val body = Seq(
        if (i % 2 == 1) "alpha" else "beta",
        if (i % 3 == 0) "prework" else "filler",
        if (i % 5 == 0) "anchor phrase" else "plain words",
        s"w$i").mkString(" ")
      (s"d${v}_$i", body, if (i <= 4) "hot" else "cold",
        i.toDouble, v.toDouble, Array(i.toFloat, 0f))
    }.toDF("__key", "body", "cat", "price", "ver", "vec")
  }

  private def counts(df: DataFrame): Map[String, Long] =
    df.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** One maintainer-style refresh: swap + full derived re-registration. */
  private def registerVersion(spark: SparkSession, e: SearchEngine, v: Int,
                              noDerived: Boolean): Unit = {
    val docs = Documents.enrich(corpus(spark, v), schema)
    e.createIndex(schema, docs)
    if (noDerived) return
    val p = PostingIndex.build(docs, schema, "body")
    e.registerPosting("soak_t", "body", p)
    e.registerPostingStats("soak_t", "body", counts(p))
    val sfx = PostingIndex.buildSuffixes(docs, schema, "body")
    e.registerPosting("soak_t", "body", sfx, PostingKind.Suffix)
    e.registerPostingStats("soak_t", "body",
      PostingStats.hotOnly(counts(PostingKind.Suffix.statRows(sfx))),
      PostingKind.Suffix)
    val pos = PostingIndex.buildPositions(docs, schema, "body")
    e.registerPosting("soak_t", "body", pos, PostingKind.Positional)
    e.registerPostingStats("soak_t", "body", PostingStats.hotOnly(counts(pos)),
      PostingKind.Positional)
    val tags = PostingIndex.buildTags(docs, schema, "cat")
    e.registerPosting("soak_t", "cat", tags)
    e.registerPostingStats("soak_t", "cat", counts(tags))
    e.registerAnn("soak_t", "vec",
      graft.pipeline.Nsw.build(docs, "__key", "vec", metric = "L2",
        numPartitions = 2))
  }

  /** The query classes: (label, query, opts, expected doc numbers —
    * ORDERED where the class orders, else set semantics). */
  private def classes: Seq[(String, String, SearchOptions, Seq[Int], Boolean)] = {
    val knnV = Map[String, graft.query.ParamValue]("v" -> VectorParam(Array(0f, 0f)))
    Seq(
      ("term", "@body:alpha", SearchOptions(limit = (0, M)),
        (1 to M).filter(_ % 2 == 1), false),
      ("tag", "@cat:{hot}", SearchOptions(limit = (0, M)), Seq(1, 2, 3, 4), false),
      ("prefix", "@body:prew*", SearchOptions(limit = (0, M)),
        (1 to M).filter(_ % 3 == 0), false),
      ("suffix", "@body:*work", SearchOptions(limit = (0, M)),
        (1 to M).filter(_ % 3 == 0), false),
      ("infix", "@body:*rewo*", SearchOptions(limit = (0, M)),
        (1 to M).filter(_ % 3 == 0), false),
      ("phrase", "\"anchor phrase\"", SearchOptions(limit = (0, M)),
        (1 to M).filter(_ % 5 == 0), false),
      ("numeric", "@price:[2 5]", SearchOptions(limit = (0, M)), Seq(2, 3, 4, 5), false),
      ("not", "-@body:alpha", SearchOptions(limit = (0, M)),
        (1 to M).filter(_ % 2 == 0), false),
      ("bool", "@body:alpha @cat:{hot}", SearchOptions(limit = (0, M)),
        Seq(1, 3), false),
      ("or", "(@body:prew* | @cat:{hot})", SearchOptions(limit = (0, M)),
        ((1 to M).filter(_ % 3 == 0) ++ Seq(1, 2, 3, 4)).distinct.sorted, false),
      ("knn", "*=>[KNN 3 @vec $v]",
        SearchOptions(limit = (0, M), params = knnV), Seq(1, 2, 3), false),
      ("hybrid", "@cat:{hot} =>[KNN 2 @vec $v]",
        SearchOptions(limit = (0, M), params = knnV), Seq(1, 2), false),
      ("paging", "@body:alpha",
        SearchOptions(limit = (2, 3), sortBy = Some(("price", true))),
        Seq(5, 7, 9), true),
      // the NOCONTENT narrow-projection serving branch (key-only
      // LocalRelation base) and the RETURN projection path — distinct
      // r13 serving-code branches the classes above never enter
      ("nocontent", "@body:alpha",
        SearchOptions(limit = (0, M), noContent = true),
        (1 to M).filter(_ % 2 == 1), false),
      ("return", "@cat:{hot}",
        SearchOptions(limit = (0, M),
          returnFields = Seq(("price", Some("p")))),
        Seq(1, 2, 3, 4), false))
  }

  private val KeyRe = "d(\\d+)_(\\d+)".r

  /** Run the soak. Returns Right((queriesRun, versionsWritten)) or
    * Left(violation description) on the first freshness violation. */
  def run(spark: SparkSession, seed: Long, versions: Int,
          readers: Int, noDerived: Boolean = false): Either[String, (Long, Int)] = {
    val e = new SearchEngine
    e.postingRouteMaxSelectivity = 1.0 // force every routable conjunct
    if (noDerived) { e.replyCache.maxEntries = 0; e.baseCache.maxEntries = 0 }
    registerVersion(spark, e, 1, noDerived)
    val lastStarted = new AtomicInteger(1)
    val lastCompleted = new AtomicInteger(1)
    val queries = new AtomicLong
    @volatile var violation: Option[String] = None
    @volatile var writerDone = false

    val writer = new Thread(() => {
      try {
        var v = 2
        while (v <= versions && violation.isEmpty) {
          lastStarted.set(v)
          registerVersion(spark, e, v, noDerived)
          lastCompleted.set(v)
          v += 1
        }
      } catch { case t: Throwable =>
        violation = Some(s"writer failed: ${t.getMessage}")
      } finally writerDone = true
    }, "soak-writer")

    def validate(label: String, keys: Seq[String], total: Long,
                 expect: Seq[Int], ordered: Boolean,
                 lo: Int, hi: Int): Option[String] = {
      val parsed = keys.map {
        case KeyRe(v, i) => (v.toInt, i.toInt)
        case k => return Some(s"$label: unparseable key $k")
      }
      val vs = parsed.map(_._1).distinct
      if (vs.length != 1)
        return Some(s"$label: keys from MIXED versions $vs (keys=$keys)")
      val v = vs.head
      if (v < lo || v > hi)
        return Some(s"$label: version $v outside freshness window [$lo,$hi]")
      val nums = parsed.map(_._2)
      val ok = if (ordered) nums == expect else nums.sorted == expect.sorted
      if (!ok)
        return Some(s"$label: wrong answer for v$v — got $nums want $expect " +
          s"(window [$lo,$hi])")
      // paging totals count the full filtered set, not the page
      val wantTotal = label match {
        case "paging" => (1 to M).count(_ % 2 == 1).toLong
        case "knn" | "hybrid" => expect.length.toLong
        case _ => expect.length.toLong
      }
      if (total != wantTotal)
        return Some(s"$label: total $total != $wantTotal (v$v)")
      None
    }

    val readerThreads = (0 until readers).map { r =>
      new Thread(() => {
        val rnd = new scala.util.Random(seed + r)
        val cls = classes
        try {
          while (!writerDone && violation.isEmpty) {
            val (label, q, opts, expect, ordered) = cls(rnd.nextInt(cls.length))
            val lo = lastCompleted.get()
            val dropped0 = graft.engine.Metrics.queryResultRecordDropped.get()
            val reply = e.searchReply("soak_t", q, opts)
            val hi = lastStarted.get()
            val keys = reply.rows.toSeq.map(r => r.getString(r.fieldIndex("__key")))
            val bad =
              if (reply.rows.isEmpty && expect.nonEmpty)
                Some(s"$label: empty page, total=${reply.total}, " +
                  s"expected ${expect.length} rows")
              else validate(label, keys, reply.total, expect, ordered, lo, hi)
            bad.foreach { b =>
              // post-mortem: is the bad reply transient (an interleaving
              // race — an immediate retry heals) or persistent state
              // corruption? and did content limits drop the rows?
              val droppedD = graft.engine.Metrics.queryResultRecordDropped.get() - dropped0
              val retry = try {
                val r2 = e.searchReply("soak_t", q, opts)
                s"retry total=${r2.total} keys=" +
                  r2.rows.toSeq.map(r => r.getString(r.fieldIndex("__key"))).mkString(",")
              } catch { case t: Throwable => s"retry threw ${t.getMessage}" }
              violation = Some(s"$b | window=[$lo,$hi] q='$q' droppedDelta=$droppedD | $retry")
            }
            queries.incrementAndGet()
            // aggregate freshness: SUM(ver)/COUNT names the version
            if (rnd.nextInt(4) == 0 && violation.isEmpty) {
              val lo2 = lastCompleted.get()
              val row = e.aggregate("soak_t", "*",
                Seq("GROUPBY", "0", "REDUCE", "SUM", "1", "@ver", "AS", "sv",
                  "REDUCE", "COUNT", "0", "AS", "c")).collect()(0)
              val hi2 = lastStarted.get()
              def num(n: String): Double =
                row.get(row.fieldIndex(n)) match {
                  case d: java.lang.Double => d
                  case l: java.lang.Long => l.toDouble
                  case x => x.toString.toDouble
                }
              val sv = num("sv"); val c = num("c")
              val v = math.round(sv / M).toInt
              if (c != M || sv != v.toDouble * M || v < lo2 || v > hi2)
                violation = Some(s"agg: sv=$sv c=$c -> v=$v outside [$lo2,$hi2]")
              queries.incrementAndGet()
            }
          }
        } catch { case t: Throwable =>
          violation = Some(s"reader $r failed on ${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).take(3500))
        }
      }, s"soak-reader-$r")
    }

    writer.start(); readerThreads.foreach(_.start())
    writer.join(); readerThreads.foreach(_.join())
    violation.toLeft((queries.get(), lastCompleted.get()))
  }

  def main(args: Array[String]): Unit = {
    val seed = args.headOption.map(_.toLong).getOrElse(13L)
    val versions = args.lift(1).map(_.toInt).getOrElse(60)
    val readers = args.lift(2).map(_.toInt).getOrElse(6)
    val noDerived = args.lift(3).contains("noderived")
    val spark = graft.util.GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    run(spark, seed, versions, readers, noDerived) match {
      case Right((q, v)) =>
        println(f"SOAK_PASS queries=$q versions=$v " +
          f"secs=${(System.nanoTime() - t0) / 1e9}%.1f")
      case Left(msg) =>
        println(s"SOAK_VIOLATION $msg")
        sys.exit(1)
    }
    spark.stop()
  }
}
