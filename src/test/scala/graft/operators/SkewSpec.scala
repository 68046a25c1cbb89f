package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Salting must be a pure physical rewrite: results identical to the
  * direct formulation, on data with a hand-made hot key.
  */
class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedSumAgg ≡ direct groupBy-sum, including a hot key") {
    // 90% of rows share one key — the shape salting exists for
    val hot = (1 to 900).map(i => ("hot", i.toLong)) ++ (1 to 100).map(i => (s"k$i", i.toLong))
    val df = hot.toDF("k", "v").repartition(8)
    val direct = df.groupBy($"k").agg(sum($"v").as("v"))
    val salted = Skew.saltedSumAgg(df, Seq("k"), Seq("v"), salts = 8)
    assertSameRows(direct, salted)
  }
}
