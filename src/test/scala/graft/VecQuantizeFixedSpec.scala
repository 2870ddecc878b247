package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.vec_quantize_fixed

/** quantize_fixed reads its input as packed floats, so any other
  * element type must fail analysis instead of being misread. */
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
}
