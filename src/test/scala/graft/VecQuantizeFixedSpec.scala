package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.{vec_argmin_l2_fixed, vec_dot_const_long,
  vec_l2sq_long, vec_quantize_fixed}

/** quantize_fixed reads its input as packed floats, so any other
  * element type must fail analysis instead of being misread; the
  * fixed-point kernels over its output return null, not a truncated
  * sum, when two vectors' lengths differ. */
class VecQuantizeFixedSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("array<float> input quantizes to floor(x * scale)") {
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.range(1).select(
      array(lit(1.5f), lit(-0.25f), lit(0.0f)).as("emb"))
    val got = df.select(vec_quantize_fixed(col("emb"), 10L)).head().getSeq[Long](0)
    assert(got == Seq(15L, -3L, 0L))
  }

  test("array<double> input fails analysis") {
    val df = spark.range(1).select(array(lit(1.5), lit(-0.25)).as("emb"))
    val e = intercept[AnalysisException] {
      df.select(vec_quantize_fixed(col("emb"), 10L)).collect()
    }
    assert(e.getMessage.contains("array<float>"), e.getMessage)
  }

  test("fixed-point kernels return null on a length mismatch, codegen and interpreted") {
    val a3 = array(lit(1L), lit(2L), lit(3L))
    // row 0 matches everywhere; row 1's `a` is short; row 2's `b` is short
    def frame(s: SparkSession) = s.range(3).select(col("id"),
      when(col("id") === 1, array(lit(1L), lit(2L))).otherwise(a3).as("a"),
      when(col("id") === 2, array(lit(4L))).otherwise(array(lit(1L), lit(2L), lit(5L))).as("b"))
      .select(col("id"), vec_l2sq_long(col("a"), col("b")).as("l2"),
        vec_argmin_l2_fixed(col("a"), Seq(Seq(0L, 0L, 0L), Seq(1L, 2L, 4L))).as("am"),
        vec_dot_const_long(col("a"), Seq(1L, 10L, 100L)).as("dot"))
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    for (s <- Seq(spark, interpreted)) {
      val got = frame(s).orderBy("id").collect().map { r =>
        (Option(r.get(1)), Option(r.getStruct(2)).map(t => (t.getLong(0), t.getLong(1))),
          Option(r.get(3)))
      }.toSeq
      assert(got == Seq(
        (Some(4L), Some((1L, 1L)), Some(321L)),
        (None, None, None),
        (None, Some((1L, 1L)), Some(321L))))
    }
    intercept[IllegalArgumentException] {
      vec_argmin_l2_fixed(col("a"), Seq(Seq(0L, 0L), Seq(1L)))
    }
  }
}
