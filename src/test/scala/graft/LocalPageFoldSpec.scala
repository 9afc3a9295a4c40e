package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.LocalPageFold

/**
 * Differential pins for [[LocalPageFold]]: a page (global sort, offset,
 * limit, projection) over a driver-resident `LocalRelation` folds into
 * one `LocalTableScanExec`, and returns exactly the rows — in order,
 * compared by their string forms so -0.0 and 0.0 stay distinct — that
 * the same plan returns over a non-local copy of the rows
 * (`repartition(2)`, which the rule leaves to Spark's distributed sort).
 * Keys cover doubles with NaN, -0.0 and null, longs and strings, every
 * direction × null placement, and offset/limit pairs up to past the end
 * and limit 0. Non-deterministic keys and `sortWithinPartitions` stay
 * unfolded.
 */
class LocalPageFoldSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("local-page-fold-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    LocalPageFold.install(spark)
  }
  override def afterAll(): Unit = ()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("d", DoubleType), StructField("l", LongType),
    StructField("s", StringType)))

  private val doubles: Seq[Option[Double]] = Seq(Some(1.5), Some(Double.NaN), Some(-0.0),
    Some(0.0), None, Some(-2.0), Some(Double.NaN), Some(0.0), Some(-0.0), None,
    Some(3.25), Some(Double.PositiveInfinity), Some(Double.NegativeInfinity), Some(1.5))

  private def local: DataFrame = {
    val rows = (0 until 40).map { i =>
      Row(i.toLong, doubles(i % doubles.length).orNull,
        if (i % 6 == 0) null else java.lang.Long.valueOf((i * 7L) % 11 - 5),
        if (i % 5 == 0) null else s"s${(i * 3) % 8}")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def page(df: DataFrame, key: Column, offset: Int, limit: Int): DataFrame = {
    val sorted = df.orderBy(key, col("id").asc)
    (if (offset > 0) sorted.offset(offset) else sorted).limit(limit)
      .select(col("id"), col("d"), col("l"), concat(lit("#"), col("s")).as("tag"))
  }

  private val pages = Seq((0, 5), (3, 4), (0, 0), (100, 5), (38, 10), (0, 1000), (7, 0))

  private def keys(c: String): Seq[(String, Column)] = Seq(
    s"$c asc nulls first" -> col(c).asc_nulls_first,
    s"$c asc nulls last" -> col(c).asc_nulls_last,
    s"$c desc nulls first" -> col(c).desc_nulls_first,
    s"$c desc nulls last" -> col(c).desc_nulls_last)

  private def assertFoldsLikeDistributed(name: String, key: Column): Unit =
    pages.foreach { case (o, n) =>
      val folded = page(local, key, o, n)
      val plan = folded.queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec],
        s"$name offset $o limit $n did not fold:\n$plan")
      val expected = page(local.repartition(2), key, o, n).collect().map(_.toString).toSeq
      assert(folded.collect().map(_.toString).toSeq == expected,
        s"$name offset $o limit $n")
    }

  Seq("d", "l", "s").foreach { c =>
    test(s"$c keys: every direction and null placement matches the distributed sort") {
      keys(c).foreach { case (name, key) => assertFoldsLikeDistributed(name, key) }
    }
  }

  test("an expression key folds and matches the distributed sort") {
    assertFoldsLikeDistributed("l * 2 - d", (col("l") * 2 - col("d")).desc_nulls_last)
  }

  test("a page over a LocalRelation runs no Spark job") {
    val df = page(local, col("d").asc_nulls_last, 2, 6)
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(df.collect().length == 6)
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      assert(jobs.get() == 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a non-deterministic sort key is not folded") {
    // the analyzer pulls a rand() key of Dataset.orderBy out into a
    // projection, so the guard is pinned on the rule itself
    val rel = local.queryExecution.optimizedPlan
    assert(rel.isInstanceOf[LocalRelation])
    val sort = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, rel)
    assert(LocalPageFold(sort).fastEquals(sort))
    val keyed = Sort(Seq(SortOrder(rel.output.head, Ascending)), global = true, rel)
    assert(LocalPageFold(keyed).isInstanceOf[LocalRelation])
  }

  test("sortWithinPartitions is not folded") {
    val df = local.sortWithinPartitions(col("d"))
    val sorts = df.queryExecution.optimizedPlan.collect { case s: Sort => s }
    assert(sorts.nonEmpty && sorts.forall(!_.global))
    assert(df.queryExecution.optimizedPlan.collectFirst { case r: LocalRelation => r }.isDefined)
  }

  test("install is idempotent") {
    LocalPageFold.install(spark)
    LocalPageFold.install(spark)
    assert(spark.experimental.extraOptimizations.count(_ == LocalPageFold) == 1)
  }
}
