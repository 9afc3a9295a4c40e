package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.eval_once

/** The contexts [[graft.functions.EvalOnce]] is allowed in, pinned: the
  * barrier reports `deterministic = false`, so Spark accepts it where
  * it accepts a nondeterministic expression (Project, Filter) and
  * rejects it as a join or grouping key. Rows are identical to the
  * unbarriered expression wherever it is accepted. */
class EvalOnceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private lazy val docs: DataFrame = {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("evalonce-ctx").toString
    (0 until 120).map(i => (i.toLong, i % 7, s"word$i " * (1 + i % 4)))
      .toDF("id", "grp", "t").write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
  }

  private def stats(t: org.apache.spark.sql.Column) =
    struct(length(t).as("n"), upper(t).as("u"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a barriered Project under a Filter: the plain expression's rows") {
    def kept(s: org.apache.spark.sql.Column) = docs.withColumn("s", s)
      .filter(col("s.n") > 12 && col("s.u").startsWith("WORD1"))
      .select(col("id"), col("s.n"))
    assert(rows(kept(eval_once(stats(col("t"))))) == rows(kept(stats(col("t")))))
    // grouping on the projected column (not on the barrier) is fine
    def grouped(s: org.apache.spark.sql.Column) =
      docs.withColumn("s", s).groupBy(col("s.n")).count()
    assert(rows(grouped(eval_once(stats(col("t"))))) == rows(grouped(stats(col("t")))))
  }

  test("a persisted barriered Project, later joined on another key") {
    val sp = spark; import sp.implicits._
    val other = (0 until 7).map(g => (g, s"g$g")).toDF("grp", "label")
    def joined(s: org.apache.spark.sql.Column) = {
      val p = docs.withColumn("s", s).persist()
      try rows(p.join(other, "grp").select(col("id"), col("label"), col("s.n")))
      finally p.unpersist(blocking = true)
    }
    val got = joined(eval_once(stats(col("t"))))
    assert(got.size == 120)
    assert(got == joined(stats(col("t"))))
  }

  test("as a join key it fails analysis: INVALID_NON_DETERMINISTIC_EXPRESSIONS") {
    val sp = spark; import sp.implicits._
    val other = (0 until 7).map(g => (g, s"g$g")).toDF("g2", "label")
    val e = intercept[AnalysisException] {
      docs.join(other, eval_once(col("grp")) === col("g2")).collect()
    }
    assert(e.getCondition == "INVALID_NON_DETERMINISTIC_EXPRESSIONS", e.getMessage)
  }

  test("as a grouping key it is rejected: 'should not appear in grouping expression'") {
    val e = intercept[Exception] {
      docs.groupBy(eval_once(col("grp")).as("g")).count().collect()
    }
    assert(e.getMessage.contains("should not appear in grouping expression"), e.getMessage)
  }
}
