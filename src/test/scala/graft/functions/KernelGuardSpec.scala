package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kernels fail fast on arguments they cannot evaluate correctly: at
  * construction for out-of-range parameters, at analysis for wrong input
  * types — never by returning garbage values. */
class KernelGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("band_bits rejects bands * width > 64 at construction") {
    // 9 bands of 8 bits would shift by 64, which Java wraps to 0
    val e = intercept[IllegalArgumentException](GraftFunctions.bandBits(col("sig"), 9, 8))
    assert(e.getMessage.contains("<= 64"))
    GraftFunctions.bandBits(col("sig"), 8, 8) // exactly 64 bits is legal
  }

  test("vector kernels reject array<int> inputs at analysis") {
    import spark.implicits._
    val ints = Seq((Seq(1, 2, 3), Seq(4, 5, 6))).toDF("a", "b")
    val a = col("a")
    val b = col("b")
    val kernels = Seq(
      "cosine_sim" -> GraftFunctions.cosineSim(a, b),
      "l2_sq_dist" -> GraftFunctions.l2SqDist(a, b),
      "vec_sub" -> GraftFunctions.vecSub(a, b),
      "vec_div" -> GraftFunctions.vecDiv(a, lit(2.0)),
      "vec_scale" -> GraftFunctions.vecScale(a, 2.0f),
      "l2_norm" -> GraftFunctions.l2Norm(a),
      "nearest_centroid" -> GraftFunctions.nearestCentroid(a, Seq(Seq(1.0, 2.0, 3.0))))
    kernels.foreach { case (name, k) =>
      val e = intercept[AnalysisException](ints.select(k))
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
    }
    // dense_from_map takes map<int,double>; a bigint-keyed map is rejected
    val longKeys = Seq(Map(1L -> 2.0)).toDF("m")
    intercept[AnalysisException](longKeys.select(GraftFunctions.denseFromMap(col("m"), 4)))

    // the accepted element types still analyze and evaluate
    val ok = Seq((Seq(3.0f, 4.0f), Seq(3.0, 4.0), Map(1 -> 2.0))).toDF("f", "d", "m")
    val r = ok.select(
      GraftFunctions.cosineSim(col("f"), col("d")),
      GraftFunctions.l2Norm(col("f")),
      GraftFunctions.denseFromMap(col("m"), 3)).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 5.0)
    assert(r.getSeq[Double](2) == Seq(0.0, 2.0, 0.0))
  }
}
