package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, NamedLambdaVariable}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model._
import graft.sources.Documents
import graft.text.PostingIndex

/**
 * Structural pin for the NamedLambdaVariable race fix: every plan the
 * engine REGISTERS (and therefore shares across concurrent query
 * threads) must be free of higher-order-function lambdas — a
 * LambdaFunction's NamedLambdaVariable value slot is shared by all
 * plans referencing the expression instance, and concurrent
 * interpreted evaluation (e.g. the optimizer's driver-side
 * local-relation fold) corrupts rows (STATUS.md "Round 11 — a real
 * wrong-results race found, root-caused, and fixed"). Covers the enrichment of every field class —
 * TEXT (suffix-trie), TAG, NUMERIC, string-sourced cosine VECTOR —
 * and every posting builder.
 */
class LambdaFreePlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("lambda-free-plan-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = ()

  private def lambdas(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.flatMap(plan =>
      plan.expressions.flatMap(_.collect {
        case l: LambdaFunction => s"LambdaFunction(${l.sql})"
        case v: NamedLambdaVariable => s"NamedLambdaVariable(${v.name})"
      }))

  test("detector sanity: a transform lambda IS flagged") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1)
      .select(transform(array(lit(1)), x => x + 1).as("t"))
    assert(lambdas(df).nonEmpty, "the detector must see HOF lambdas")
  }

  test("enriched relation and every posting builder are lambda-free") {
    val sp = spark; import sp.implicits._
    val schema = IndexSchema("lf_t", Seq(
      FieldDef("body", TextField(withSuffixTrie = true)),
      FieldDef("cat", TagField()),
      FieldDef("price", NumericField),
      FieldDef("vec", VectorField(dim = 2, metric = DistanceMetric.Cosine,
        normalizeAtIngest = true))))
    val raw = Seq(
      ("k1", "alpha beta gamma", "a,b", 1.0, "[1.0, 2.0]"),
      ("k2", "delta epsilon", "c", 2.0, "[3.0, 4.0]"))
      .toDF("__key", "body", "cat", "price", "vec")
    val docs = Documents.enrich(raw, schema)
    assert(lambdas(docs).isEmpty,
      s"enrich plan carries HOF lambdas: ${lambdas(docs).mkString("; ")}")

    val builders = Seq(
      "term" -> PostingIndex.build(docs, schema, "body"),
      "tags" -> PostingIndex.buildTags(docs, schema, "cat"),
      "suffix" -> PostingIndex.buildSuffixes(docs, schema, "body"),
      "positions" -> PostingIndex.buildPositions(docs, schema, "body"))
    builders.foreach { case (name, p) =>
      assert(lambdas(p).isEmpty,
        s"$name posting plan carries HOF lambdas: ${lambdas(p).mkString("; ")}")
    }
    // the derived values themselves are sane (the pin is structural,
    // not a semantics substitute — parity suites own semantics)
    assert(docs.select("__body__joined").as[String].collect().toSet ==
      Set(" alpha beta gamma ", " delta epsilon "))
    assert(docs.select("vec").as[Seq[Float]].collect()
      .forall(v => math.abs(v.map(x => x * x).sum - 1.0) < 1e-5))
  }
}
