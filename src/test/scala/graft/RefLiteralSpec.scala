package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.PredicateCompiler
import graft.engine.{Metrics, SearchEngine, SearchOptions}
import graft.functions.RefLiteral
import graft.model._
import graft.query.NumericRange
import graft.sources.Documents

/**
 * Request numbers reach Catalyst as [[RefLiteral]]s: literals whose
 * generated code reads the value by reference, so a request with new
 * numbers reuses the classes compiled for its shape.
 *
 *  - a range compiled with `RefLiteral` bounds returns the rows of the
 *    same predicate over plain `lit` bounds, on Parquet and on a cached
 *    relation (inclusive and exclusive bounds, −0.0/0.0, negative and
 *    huge values, open ±inf bounds), and over an INT column the plan
 *    Spark's cast unwrap builds from plain bounds;
 *  - a second request with new bounds compiles no class — FT.SEARCH over
 *    a resident and a Parquet index, FT.AGGREGATE with new FILTER and
 *    APPLY numbers — and the `codegen_compile_*` counters show it;
 *  - plans keep their shape: Parquet `PushedFilters` carry the range,
 *    and the cached scan's batch-stats filter still skips batches;
 *  - FT.AGGREGATE numbers in FILTER and APPLY, including ones that fold
 *    through a cast, give the rows of a plain model.
 */
class RefLiteralSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("ref-literal-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("ref-literal-spec")
  }
  override def afterAll(): Unit = {
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private val values: Seq[java.lang.Double] = Seq(-Double.MaxValue, -1e308, -5.5, -1.0,
    -0.0, 0.0, 0.5, 1.0, 2.0, 2.5, 3.0, 7.0, 1e15, 1e308, Double.MaxValue, null)
    .map(v => v.asInstanceOf[java.lang.Double])

  /** An INT column beside the double one (Spark rewrites its ranges). */
  private val ints: Seq[Integer] = Seq(Int.MinValue, Int.MinValue + 1, -7, -1, 0, 0, 1, 2,
    3, 5, 7, 10, Int.MaxValue - 1, Int.MaxValue, null, 4).map(v => v.asInstanceOf[Integer])

  private def table(): DataFrame = {
    val sp = spark; import sp.implicits._
    values.indices.map(i => (s"k$i", values(i), ints(i), if (i % 2 == 0) "even" else "odd"))
      .toDF("__key", "x", "n", "grp")
  }

  private lazy val parquet: DataFrame = {
    val p = dir.resolve("docs").toString
    table().repartition(3).write.parquet(p)
    spark.read.parquet(p)
  }
  private lazy val cached: DataFrame = table().repartition(2).cache()

  private val ninf = Double.NegativeInfinity
  private val pinf = Double.PositiveInfinity

  private val ranges = Seq(
    NumericRange("x", 2.0, true, 7.0, true),
    NumericRange("x", 2.0, false, 7.0, false),
    NumericRange("x", 2.0, true, 7.0, false),
    NumericRange("x", 2.0, false, 7.0, true),
    NumericRange("x", -0.0, true, 0.0, true),
    NumericRange("x", -0.0, false, 0.0, true),
    NumericRange("x", 0.0, true, -0.0, true),
    NumericRange("x", 0.0, false, 1.0, true),
    NumericRange("x", -1e308, true, -1.0, true),
    NumericRange("x", -Double.MaxValue, true, -5.5, false),
    NumericRange("x", 1e15, true, Double.MaxValue, true),
    NumericRange("x", 1e300, false, Double.MaxValue, true),
    NumericRange("x", ninf, true, 0.0, true),
    NumericRange("x", 1.0, false, pinf, true),
    NumericRange("x", ninf, true, pinf, true))

  /** The range over plain `lit` bounds: the predicate before RefLiteral. */
  private def plain(r: NumericRange): Column = {
    val c = col(r.field)
    val lo = if (r.min == ninf) c.isNotNull else if (r.minInclusive) c >= lit(r.min) else c > lit(r.min)
    val hi = if (r.max == pinf) c.isNotNull else if (r.maxInclusive) c <= lit(r.max) else c < lit(r.max)
    lo && hi
  }
  /** The same range over IEEE comparisons (−0.0 == 0.0; no NaN here). */
  private def model(r: NumericRange): Set[String] =
    (if (r.field == "n") ints.map(i => Option(i).map(_.toDouble)) else values.map(Option(_)))
      .zipWithIndex.collect {
        case (Some(v: Double), i) if
          (if (r.minInclusive) v >= r.min else v > r.min) &&
          (if (r.maxInclusive) v <= r.max else v < r.max) => s"k$i"
      }.toSet
  private def keys(df: DataFrame): Set[String] =
    df.select("__key").collect().map(_.getString(0)).toSet

  private val compiler = new PredicateCompiler(
    IndexSchema("rl_t", Seq(FieldDef("x", NumericField), FieldDef("n", NumericField))))

  private def compiles[T](body: => T): (T, Long, Long) = {
    Metrics.reset()
    val r = body
    val m = Metrics.snapshot().toMap
    (r, m("codegen_compile_cnt"), m("codegen_compile_ms"))
  }

  private def scans(p: SparkPlan): Seq[InMemoryTableScanExec] =
    collect(p) { case s: InMemoryTableScanExec => s }

  test("range bounds are RefLiterals: still Literals, equal to plain ones") {
    // they survive analysis and optimization as the filter's Literals
    val bounds = parquet.filter(compiler.compile(NumericRange("x", 2.0, true, 7.0, false)))
      .queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case l: Literal => l })
    assert(bounds.map(_.getClass) == Seq(classOf[RefLiteral], classOf[RefLiteral]))
    assert(bounds.map(_.value) == Seq(2.0, 7.0))
    assert(RefLiteral(2.0) == Literal(2.0) && RefLiteral(2.0).foldable)
    assert(RefLiteral(3L).dataType == org.apache.spark.sql.types.LongType)
    // a Long and an Int value evaluate through generated code too
    val sp = spark; import sp.implicits._
    val longs = Seq(1L, 5L, 9L).toDF("v")
      .filter(col("v") > Bridge.column(RefLiteral(4L)))
    assert(longs.as[Long].collect().toSeq == Seq(5L, 9L))
    val ints = Seq(1, 5, 9).toDF("v")
      .select(col("v") + Bridge.column(RefLiteral(10)))
    assert(ints.as[Int].collect().toSeq == Seq(11, 15, 19))
  }

  test("rows equal the plain-lit plan on Parquet and on a cached relation") {
    for (df <- Seq(parquet, cached); r <- ranges) {
      val got = keys(df.filter(compiler.compile(r)))
      assert(got == keys(df.filter(plain(r))), r)
      assert(got == model(r), r)
    }
  }

  test("INT column: Spark's cast unwrap rewrites the bounds as it does plain ones") {
    // an INT column meets double bounds through a cast, which Spark's
    // UnwrapCastInBinaryComparison moves onto the bound as a plain int
    // literal: the plan must be the one plain bounds get
    val intRanges = Seq(
      NumericRange("n", 0, true, 5, true),
      NumericRange("n", 0, false, 5, false),
      NumericRange("n", -0.0, true, 0.0, true),
      NumericRange("n", -0.0, false, 3, true),
      NumericRange("n", -7.5, true, 2.5, false),
      NumericRange("n", 1.5, false, 2.5, true),
      NumericRange("n", Int.MinValue, true, -1, true),
      NumericRange("n", Int.MinValue + 1.0, false, 0, true),
      NumericRange("n", Int.MaxValue - 1.0, true, Int.MaxValue, true),
      NumericRange("n", 10, false, Int.MaxValue, false),
      NumericRange("n", -1e15, true, 1e15, true),
      NumericRange("n", 3e9, true, 4e9, true),
      NumericRange("n", ninf, true, 2, false),
      NumericRange("n", 5, true, pinf, true))
    for (df <- Seq(parquet, cached); r <- intRanges) {
      val (a, b) = (df.filter(compiler.compile(r)), df.filter(plain(r)))
      assert(keys(a) == keys(b) && keys(a) == model(r), r)
      assert(a.queryExecution.optimizedPlan.toString == b.queryExecution.optimizedPlan.toString, r)
    }
  }

  test("a second range of the same shape compiles no class") {
    def range(lo: Double, hi: Double) =
      compiler.compile(NumericRange("x", lo, true, hi, false))
    keys(cached.filter(range(0.5, 3.0)))
    keys(parquet.filter(range(0.5, 3.0)))
    val (got, cnt, ms) = compiles {
      (keys(cached.filter(range(-1.0, 2.5))), keys(parquet.filter(range(-1.0, 2.5))))
    }
    assert(cnt == 0 && ms == 0, s"$cnt compiles, $ms ms")
    assert(got._1 == got._2 && got._1 == model(NumericRange("x", -1.0, true, 2.5, false)))
  }

  test("FT.SEARCH with new bounds compiles no class (resident and Parquet index)") {
    val e = new SearchEngine
    val s = IndexSchema("rl_res", Seq(FieldDef("x", NumericField), FieldDef("grp", TagField())))
    e.createIndex(s, Documents.enrich(table(), s), resident = true)
    val s2 = s.copy(name = "rl_pq")
    e.createIndex(s2, Documents.enrich(parquet, s2))
    for (idx <- Seq("rl_res", "rl_pq"); noContent <- Seq(true, false)) {
      val opts = SearchOptions(noContent = noContent, sortBy = Some(("x", true)))
      e.searchReply(idx, "@x:[0 3]", opts)
      e.searchReply(idx, "@x:[(0 (3]", opts)
      val ((a, b), cnt, _) = compiles {
        (e.searchReply(idx, "@x:[-1 2]", opts), e.searchReply(idx, "@x:[(-1 (7]", opts))
      }
      assert(cnt == 0, s"$idx noContent=$noContent: $cnt compiles")
      assert(a.total == model(NumericRange("x", -1, true, 2, true)).size)
      assert(b.total == model(NumericRange("x", -1, false, 7, false)).size)
    }
  }

  test("codegen counters: a new shape compiles, reset takes a baseline") {
    val sp = spark; import sp.implicits._
    val (_, cnt, ms) = compiles {
      // a projection no other test builds
      Seq(1.0, 2.0).toDF("v").select(sqrt(col("v") * 17.25 + 3.125).as("w")).collect()
    }
    assert(cnt >= 1 && ms >= 0, s"$cnt compiles, $ms ms")
    Metrics.reset()
    val m = Metrics.snapshot().toMap
    assert(m("codegen_compile_cnt") == 0 && m("codegen_compile_ms") == 0)
  }

  test("Parquet PushedFilters still carry the range") {
    def pushed(c: Column): String = parquet.filter(c).queryExecution.executedPlan
      .toString.linesIterator.find(_.contains("PushedFilters"))
      .map(_.replaceAll(".*(PushedFilters: \\[[^\\]]*\\]).*", "$1")).getOrElse("")
    for (r <- ranges) assert(pushed(compiler.compile(r)) == pushed(plain(r)), r)
    val p = pushed(compiler.compile(NumericRange("x", 2.0, true, 7.0, false)))
    assert(p.contains("GreaterThanOrEqual(x,2.0)") && p.contains("LessThan(x,7.0)"), p)
  }

  test("stats pruning still skips batches over a sorted cached relation") {
    val sp = spark; import sp.implicits._
    val key = "spark.sql.inMemoryColumnarStorage.batchSize"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    val sorted = try (0 until 200).map(_.toDouble).toDF("x").coalesce(1).sortWithinPartitions("x").cache()
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    sorted.count()
    val r = NumericRange("x", 50.0, true, 59.0, true)
    def scanned(c: Column): (Long, Long, String) = {
      val df = sorted.filter(c)
      val n = df.count()
      val s = scans(df.queryExecution.executedPlan).head
      (n, s.metrics("numOutputRows").value, s.predicates.mkString(","))
    }
    val (n, out, preds) = scanned(compiler.compile(r))
    assert(n == 10)
    assert(out <= 20, s"$out rows left the cached scan: batches were not skipped")
    assert((n, out, preds) == scanned(plain(r)))
    sorted.unpersist()
  }

  test("FT.AGGREGATE numbers in FILTER and APPLY: model rows, no compile on new numbers") {
    val e = new SearchEngine
    val s = IndexSchema("rl_agg", Seq(FieldDef("x", NumericField), FieldDef("grp", TagField())))
    e.createIndex(s, Documents.enrich(table(), s), resident = true)
    def agg(f: Double, k: Double, off: Int) = e.aggregate("rl_agg", "*", Seq(
      "LOAD", "1", "@__key",
      "FILTER", s"@x > $f",
      "APPLY", s"@x * $k", "AS", "y",
      // substr's offsets fold through an integer cast
      "APPLY", s"substr(@grp, $off, 2)", "AS", "p",
      "APPLY", s"@x - $k < 0", "AS", "neg"))
      .collect().map(r => (r.getAs[String]("__key"), r.getAs[Double]("y"),
        r.getAs[String]("p"), r.getAs[Double]("neg"))).toSet
    def model(f: Double, k: Double, off: Int) = values.zipWithIndex.collect {
      case (v, i) if v != null && v > f =>
        val g = if (i % 2 == 0) "even" else "odd"
        (s"k$i", v * k, g.slice(off, off + 2), if (v - k < 0) 1.0 else 0.0)
    }.toSet
    assert(agg(0.75, 2.0, 0) == model(0.75, 2.0, 0))
    val (rows, cnt, _) = compiles(agg(-2.0, -0.5, 0))
    assert(rows == model(-2.0, -0.5, 0))
    assert(cnt == 0, s"$cnt compiles")
    assert(agg(-1e308, 3.0, 1) == model(-1e308, 3.0, 1))
  }
}
