package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Slice}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FilterExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/**
 * Structural plan invariants for headline gates — the shapes the 100 TB
 * story rests on, pinned so a refactor that silently un-pushes a
 * filter, turns a top-k into a global sort, or drops map-side
 * aggregation fails HERE instead of surfacing as a bench regression
 * two rounds later. Asserts against the FORMATTED physical plan of the
 * same DataFrames the driver gates run (sf0.001; plan shape is
 * SF-independent).
 */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("plan-shape")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  private def plan(name: String): String =
    Queries.all(name)(spark, dir).queryExecution.explainString(FormattedMode)

  /** The EXECUTED plan: queries over the resident (cached) relation are
    * AQE-planned since the cache fill carries the registration-time
    * widening exchange (Parallelism.ensure) — codegen annotations exist
    * only on finalized stages, so codegen-fusion pins must execute THIS
    * DataFrame's own QueryExecution (collect — a count() spawns a
    * different one) and assert on the finalized explain output. */
  private def finalPlan(name: String): String = {
    val df = Queries.all(name)(spark, dir)
    df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  test("q_numeric_range: range predicate reaches the parquet scan; top-k, not global sort") {
    val p = plan("q_numeric_range")
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"), p.take(800))
    assert(p.contains("LessThanOrEqual(l_quantity,20.0)"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange ("), "a LIMIT'd filter scan must not shuffle")
  }

  test("q_knn_l2: exact KNN plans as TakeOrderedAndProject (distributed top-k heaps)") {
    val p = plan("q_knn_l2")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange ("), "KNN must not global-sort")
  }

  test("p_quality_gopher: branch-free rule projection is map-only (zero Exchange)") {
    val p = plan("p_quality_gopher")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange"), "Gopher rules must stay a projection")
  }

  test("a_groupby_reducers: map-side partial aggregation below the shuffle") {
    val p = plan("a_groupby_reducers")
    assert(p.contains("partial_"), "reducers must partial-aggregate map-side")
    assert(p.contains("Exchange"))
  }

  test("q_text_posting: term lookup is a pushed point-read; retrieval is a semi-join") {
    val p = plan("q_text_posting")
    assert(p.contains("EqualTo(term,"), "the term must reach the posting scan")
    assert(p.contains("LeftSemi"), "posting retrieval must be a semi-join")
  }

  test("q_save_load_posting: the reloaded files serve pushed scans + semi-joins") {
    val p = plan("q_save_load_posting")
    assert(p.contains("LeftSemi"))
    assert(p.contains("PushedFilters"))
  }

  /** The round-10 TagsOf win: TAG predicates must evaluate via the
    * codegen'd tags_of expression INSIDE the same whole-stage-codegen
    * span as the scan. The regression the round-10 plan audit caught
    * (interpreted HOF lambdas forcing the Filter out of codegen; STATUS.md
    * "Round 10 — post-close: TagsOf expression restores whole-stage
    * codegen on every TAG path") shows up here as either a `lambdafunction` in the condition or a Filter whose
    * codegen id differs from the scan's ColumnarToRow. */
  private def assertTagFilterFused(name: String): Unit = {
    val p = plan(name)
    assert(p.contains("tags_of("), s"$name: tag filter must use the TagsOf expression\n" + p.take(1200))
    assert(!p.contains("lambdafunction"),
      s"$name: interpreted HOF lambda back on the tag path\n" + p.take(1200))
    val filterIds = raw"\(\d+\) Filter \[codegen id : (\d+)\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    val scanIds = raw"\(\d+\) ColumnarToRow \[codegen id : (\d+)\]".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(filterIds.nonEmpty, s"$name: tag Filter fell out of whole-stage codegen\n" + p.take(1200))
    assert(scanIds.exists(filterIds.contains),
      s"$name: Filter codegen ids $filterIds share no span with scan ids $scanIds\n" + p.take(1200))
  }

  test("q_tag_or: TAG filter fused into the scan's whole-stage-codegen span") {
    assertTagFilterFused("q_tag_or")
  }

  test("q_not: NOT-of-TAG filter fused into the scan's whole-stage-codegen span") {
    assertTagFilterFused("q_not")
  }

  /** The SmellAudit finding this round: TokenMatch / ProximityMatch /
    * tag-prefix matching ran as CodegenFallback (or HOF lambdas),
    * evicting every pattern / fuzzy / SLOP / tag-prefix Filter from
    * whole-stage codegen — the same mechanism the TagsOf pin above
    * guards for tag membership. Each family representative's Filter
    * must carry a codegen id and no interpreted lambda. */
  /** Operator ids of every Filter on the QUERY path: the tree-section
    * Filters outside (a) any InMemoryRelation subtree (the resident
    * cache FILL — paid once per registration, not per query) and
    * (b) any `== Initial Plan ==` section (un-executed duplicates that
    * never carry codegen annotations). */
  private def queryPathFilterIds(p: String): Seq[String] = {
    val treeEnd = p.indexOf("\n\n(")
    val tree = if (treeEnd >= 0) p.take(treeEnd) else p
    def indentOf(l: String): Int = l.indexWhere(c => !" +-:*".contains(c))
    val opRe = raw"([A-Za-z][A-Za-z0-9_ ]*?)\s*\((\d+)\)\s*$$".r
    // (indent, strictResume): an InMemoryRelation's children are
    // STRICTLY deeper (resume at ind <= d); an `== Initial Plan ==`
    // section's contents sit at the SAME indent as the marker
    // (resume only at ind < d)
    var skip: Option[(Int, Boolean)] = None
    val ids = scala.collection.mutable.ListBuffer[String]()
    for (l <- tree.linesIterator if l.exists(!" ".contains(_))) {
      val ind = indentOf(l)
      skip match {
        case Some((d, strict)) if (if (strict) ind < d else ind <= d) => skip = None
        case _ =>
      }
      if (skip.isEmpty) {
        if (l.contains("InMemoryRelation (")) skip = Some((ind, false))
        else if (l.contains("== Initial Plan ==")) skip = Some((ind, true))
        else opRe.findFirstMatchIn(l).foreach { m =>
          if (m.group(1).trim == "Filter") ids += m.group(2)
        }
      }
    }
    ids.distinct.toSeq
  }

  private def assertFilterCodegen(name: String, marker: String): Unit = {
    val p = finalPlan(name)
    assert(p.contains(marker), s"$name: expected $marker in plan\n" + p.take(1200))
    // EVERY query-path Filter must carry a whole-stage-codegen id in
    // the finalized plan (the original pin, restored per r16 ADVICE:
    // a single fused Filter — e.g. one in the cache-fill section —
    // must not mask a query-path Filter falling out of codegen), and
    // no Filter condition anywhere may hold an interpreted lambda.
    val ids = queryPathFilterIds(p)
    assert(ids.nonEmpty, s"$name: no query-path Filter found\n" + p.take(1600))
    ids.foreach { id =>
      assert(raw"\($id\) Filter \[codegen id : \d+\]".r.findFirstIn(p).isDefined,
        s"$name: query-path Filter ($id) fell out of whole-stage codegen\n" + p.take(1600))
    }
    val conds = p.linesIterator.filter(_.trim.startsWith("Condition")).toSeq
    assert(!conds.exists(_.contains("lambdafunction")),
      s"$name: interpreted HOF lambda in a Filter condition: $conds")
  }

  test("q_text_prefix: token_match Filter stays codegen'd") {
    assertFilterCodegen("q_text_prefix", "token_match(")
  }

  test("q_text_fuzzy: fuzzy token_match Filter stays codegen'd") {
    assertFilterCodegen("q_text_fuzzy", "token_match(")
  }

  test("q_text_slop_inorder: proximity_match Filter stays codegen'd") {
    assertFilterCodegen("q_text_slop_inorder", "proximity_match(")
  }

  test("q_tag_prefix: any_prefix_match Filter stays codegen'd") {
    assertFilterCodegen("q_tag_prefix", "any_prefix_match(")
  }

  /** A small parquet corpus: a FILE source, not a LocalRelation, whose
    * projections and filters ConvertToLocalRelation would fold away at
    * planning time. One file, so Parallelism.ensure widens it. */
  private lazy val corpus: DataFrame = {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("planshape").toString
    (0 until 300).map { i =>
      (i.toLong, s"the cat sat with the hat and ten $i more words " * (1 + i % 5))
    }.toDF("id", "t").write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
  }

  /** The physical operators (AQE's initial plan: exchanges placed, no
    * stage executed) whose expressions hold an expression of the named
    * class — matched by name, so the pins read the same on any build. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case o => o
  }
  private def opsWith(df: DataFrame, exprClass: String): Seq[SparkPlan] =
    physical(df).collect { case n if n.expressions.exists(
      _.exists(_.getClass.getSimpleName == exprClass)) => n }

  test("curate kernels evaluate once per row: gopherFilter") {
    val kept = pipeline.TextMetrics.gopherFilter(corpus, "t", minWords = 5)
    val ops = opsWith(kept, "GopherCounts")
    assert(ops.size == 1, s"gopher_counts in ${ops.map(_.nodeName)}")
    assert(!ops.exists(_.isInstanceOf[FilterExec]),
      "gopher_counts inlined into a Filter condition")
    val bare = corpus.filter(
      pipeline.TextMetrics.gopherRules(col("t"), minWords = 5).getField("pass"))
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    assert(kept.collect().map(_.toString).sorted.toSeq ==
      bare.collect().map(_.toString).sorted.toSeq)
  }

  test("curate kernels evaluate once per row: ngramJaccardPairs") {
    val ops = opsWith(pipeline.Dedup.ngramJaccardPairs(corpus, "id", "t"), "HashedShingles")
    assert(ops.size == 1, s"hashed_shingles in ${ops.map(_.nodeName)}")
    assert(ops.head.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
      case _ => false
    }, s"hashed_shingles is not above the widening exchange:\n${ops.head}")
  }

  test("curate kernels evaluate once per row: one band-key call per MinHash band row") {
    // the band relation of Dedup.minhashNearDups: (k, sig) → one row per
    // (band, bh) bucket
    val bands = corpus
      .select(col("id").as("k"), pipeline.Dedup.minhashSignature(
        pipeline.Dedup.hashedShingles(col("t"), 2), 128).as("sig"))
      .select(struct(col("k")).as("m"),
        explode(pipeline.Dedup.bandKeys(col("sig"), 32, 4)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bh").as("bh"), col("m"))
    val p = physical(bands)
    val exprs = p.collect { case n => n.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(exprs.count(_.prettyName == "band_keys") == 1, p.toString)
    assert(!exprs.exists(e => Set("ConcatWs", "XxHash64").contains(e.getClass.getSimpleName)),
      s"a concat_ws/xxhash64 band tree is back:\n$p")
  }

  test("a banded unit slices its member list once") {
    // Dedup.bucketPairs' unit projection slices `ms` into `xs` (and `ys`);
    // the posexplode of `xs` infers a non-empty filter that, pushed below
    // the projection, would slice the list twice more per unit row
    val members = corpus.select(struct(col("id").as("k")).as("m"),
      explode(split(col("t"), " ")).as("s"))
    val p = physical(pipeline.Dedup.bucketPairs(members, Seq("s"), None, None, 1))
    val listSlices = p.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case s @ Slice(a: AttributeReference, _, _) if a.name == "ms" => s
    })
    assert(listSlices.size == 2, s"${listSlices.size} slices of ms (xs + ys):\n$p")
    assert(!p.exists {
      case f: FilterExec => f.condition.exists(_.isInstanceOf[Slice])
      case _ => false
    }, s"a unit slice sank into a Filter:\n$p")
  }
}
