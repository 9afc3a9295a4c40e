package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

/** `Dedup.bandKeys` (the native [[graft.functions.BandKeys]] kernel)
  * against the Column formula it replaced, kept here as the model:
  * same (band, bh) values and the same result type on random
  * signatures, a null signature, null elements and short signatures. */
class BandKeysSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The replaced formula: one xxhash64(j, concat_ws(",", slice)) branch
    * per band. */
  private def model(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(j => struct(lit(j).as("band"),
      xxhash64(lit(j), concat_ws(",", slice(sig, j * rowsPerBand + 1, rowsPerBand)))
        .as("bh"))): _*)

  private def assertSame(sigs: org.apache.spark.sql.DataFrame, bands: Int,
                         rowsPerBand: Int): Unit = {
    val both = sigs.select(col("i"),
      model(col("sig"), bands, rowsPerBand).as("want"),
      Dedup.bandKeys(col("sig"), bands, rowsPerBand).as("got"))
    assert(both.schema("got").dataType == both.schema("want").dataType)
    assert(!both.schema("got").nullable)
    val rows = both.collect()
    assert(rows.length == sigs.count())
    rows.foreach { r =>
      assert(r.get(2) == r.get(1), s"bands=$bands r=$rowsPerBand row ${r.get(0)}")
    }
  }

  test("random signatures: identical band keys at (32,4), (16,8), (8,16)") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(4242L)
    // MinHash-range values, full-range longs (negative, extremes) and a
    // null signature
    val sigs = (0 until 200).map { i =>
      val sig: Seq[Long] =
        if (i == 0) null
        else if (i % 3 == 0) Seq.fill(128)(rnd.nextLong())
        else if (i == 1) Seq.tabulate(128)(k => Seq(Long.MinValue, Long.MaxValue, 0L, -1L)(k % 4))
        else Seq.fill(128)((rnd.nextLong() & Long.MaxValue) % 2147483647L)
      (i, sig)
    }.toDF("i", "sig")
    for ((bands, rowsPerBand) <- Seq((32, 4), (16, 8), (8, 16)))
      assertSame(sigs, bands, rowsPerBand)
  }

  test("null elements are skipped and short signatures hash their empty bands") {
    val sigs = spark.sql(
      """SELECT * FROM VALUES
        |  (0, array(1L, CAST(NULL AS BIGINT), 3L, 4L, 5L, 6L, 7L, 8L)),
        |  (1, array(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 9L)),
        |  (2, CAST(array() AS ARRAY<BIGINT>)),
        |  (3, CAST(NULL AS ARRAY<BIGINT>))
        |  AS t(i, sig)""".stripMargin)
    assertSame(sigs, 4, 2)
  }

  test("the kernel's interpreted and generated paths agree") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7L)
    val sigs = (0 until 50).map(i => (i, Seq.fill(32)(rnd.nextLong()))).toDF("i", "sig")
    val expr = Dedup.bandKeys(col("sig"), 8, 4)
    val generated = sigs.select(expr).collect().map(_.get(0)).toSeq
    val interpreted = sigs.collect().map { r =>
      val sig = org.apache.spark.sql.catalyst.expressions.Literal.create(
        r.getSeq[Long](1), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))
      val v = graft.functions.BandKeys(sig, 8, 4).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until v.numElements()).map { j =>
        val s = v.getStruct(j, 2)
        org.apache.spark.sql.Row(s.getInt(0), s.getLong(1))
      }
    }.toSeq
    assert(generated == interpreted)
  }
}
