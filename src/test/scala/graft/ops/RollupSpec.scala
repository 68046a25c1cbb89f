package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.util.Random

/** A3 equivalence: the faithful rollup-by-union, the single-shuffle
  * labeled-cube formulation and the driver-side labeled cube must agree
  * as multisets on arbitrary data — including null measures (D2), null
  * roll-key values (D6) and, for the driver cube, duplicate grain rows —
  * under every `pandasExact` setting they take.
  * (Property-style via seeded random inputs; scalatestplus bridge isn't
  * in the offline dependency set.)
  */
class RollupSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("g1", StringType), StructField("g2", StringType),
    StructField("k", StringType),
    StructField("m1", LongType), StructField("m2", LongType)))

  private def randomRows(rnd: Random, n: Int): Seq[Row] =
    Seq.fill(n) {
      val g1 = rnd.nextInt(3) match { case 0 => "F"; case 1 => "M"; case _ => null }
      val g2 = Seq("8", "9", "10")(rnd.nextInt(3))
      val k = Seq("a", "b")(rnd.nextInt(2))
      val m1: java.lang.Long = if (rnd.nextInt(4) == 0) null else Long.box(rnd.nextInt(100).toLong)
      val m2: java.lang.Long = Long.box(rnd.nextInt(100).toLong)
      Row(g1, g2, k, m1, m2)
    }

  test("byUnion ≡ cubeLabeled on random inputs (incl. null keys/measures)") {
    for (seed <- 1 to 12) {
      val rnd = new Random(seed)
      val raw = spark.createDataFrame(
        spark.sparkContext.parallelize(randomRows(rnd, 25), 2), schema)
      val grain = Seq("g1", "g2", "k")
      val ms = Seq("m1", "m2")
      // equivalence precondition: base at unique grain (N3 guarantees
      // this in the pipeline; here we pre-aggregate the random rows)
      import org.apache.spark.sql.functions.{col, sum}
      val df = raw.groupBy(grain.map(col): _*)
        .agg(sum(col("m1")).as("m1"), sum(col("m2")).as("m2"))
      val a = Rollup.byUnion(df, grain, ms, ("g1", "Both"), ("g2", "All"))
      val b = Rollup.cubeLabeled(df, grain, ms, ("g1", "Both"), ("g2", "All"))
      withClue(s"seed=$seed: ") { assertSameRows(a, b) }
    }
  }

  private val compats = Seq(false, true)

  /** Random rows over a small key space, so the grain repeats; every key
    * and the first measure can be null.
    */
  private def messyRows(rnd: Random, n: Int): Seq[Row] =
    Seq.fill(n) {
      def pick(vs: String*): String = {
        val i = rnd.nextInt(vs.size + 1)
        if (i == vs.size) null else vs(i)
      }
      val m1: java.lang.Long = if (rnd.nextInt(3) == 0) null else Long.box(rnd.nextInt(100).toLong)
      val m2: java.lang.Long = if (rnd.nextInt(6) == 0) null else Long.box(rnd.nextInt(100).toLong)
      Row(pick("F", "M"), pick("8", "9"), pick("a", "b"), m1, m2)
    }

  test("cubeLabeled with a row key ≡ byUnion on duplicate grain rows, all compat flags") {
    // the driver cube passes base rows through, so duplicate grain rows stay apart
    val grain = Seq("g1", "g2", "k")
    val ms = Seq("m1", "m2")
    for (seed <- 1 to 8; compat <- compats) {
      val rnd = new Random(seed)
      val rows = { val r = messyRows(rnd, 4 + rnd.nextInt(30)); r :+ r.head } // ≥ 1 exact duplicate
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      val a = Rollup.byUnion(df, grain, ms, ("g1", "Both"), ("g2", "All"), compat)
      val b = spark.createDataFrame(spark.sparkContext.parallelize(
        Rollup.labeledCubeRows(rows, schema.fieldNames.toSeq, ms, ("g1", "Both"), ("g2", "All"),
          pandasExact = compat)), schema)
      withClue(s"seed=$seed pandasExact=$compat: ") { assertSameRows(a, b) }
    }
  }

  test("N5 composite semantics: labeled cells equal hand-computed sums") {
    import spark.implicits._
    val base = Seq(
      ("F", "8", "x", 10L, 1L), ("M", "8", "x", 20L, 2L),
      ("F", "9", "x", 40L, 4L)).toDF("g1", "g2", "k", "m1", "m2")
    val out = Rollup.byUnion(base, Seq("g1", "g2", "k"), Seq("m1", "m2"), ("g1", "Both"), ("g2", "All"))
    val m = out.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(m(("Both", "8")) == 30L)   // gender rollup per year
    assert(m(("F", "All")) == 50L)    // year rollup per gender
    assert(m(("Both", "All")) == 70L) // grand total, not double-counted
    assert(out.count() == 3 + 2 + 3)  // base + Both/yg + All/(F,M,Both)
  }

  test("PandasCompat (round 11): D2 all-null groups sum to 0, D6 null keys dropped from rollups") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      Row("F", "8", "a", null, Long.box(10L)),   // m1 all-null in (F,8)
      Row("F", "8", "a", null, Long.box(5L)),
      Row(null, "9", "a", Long.box(7L), Long.box(1L)), // null g1 (rolled col in roll1 — relabeled, never a key there)
      Row("M", null, "a", Long.box(3L), Long.box(2L))) // null g2 (kept key in roll1)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val grain = Seq("g1", "g2", "k")
    val meas = Seq("m1", "m2")
    val sql = Rollup.byUnion(df, grain, meas, ("g1", "Both"), ("g2", "All"))
    val compat = Rollup.byUnion(df, grain, meas, ("g1", "Both"), ("g2", "All"),
      pandasExact = true)
    // D2: the (Both, 8, a) gender-rollup group has only null m1 values ->
    // SQL null, pandas 0
    def cell(out: org.apache.spark.sql.DataFrame, g1: String, g2: String) =
      out.where(col("g1") === g1 && col("g2") === g2).select("m1").collect()
    assert(cell(sql, "Both", "8").exists(_.isNullAt(0)))
    assert(cell(compat, "Both", "8").forall(r => !r.isNullAt(0) && r.getLong(0) == 0L))
    // D6: the row with null g2 forms a null-key group under SQL GROUP BY
    // but is DROPPED from pandas re-aggregation (base copy survives both)
    val sqlNullG2 = sql.where(col("g1") === "Both" && col("g2").isNull).count()
    val compatNullG2 = compat.where(col("g1") === "Both" && col("g2").isNull).count()
    assert(sqlNullG2 == 1 && compatNullG2 == 0)
    // base rows pass through untouched in both
    assert(sql.where(col("g2").isNull && col("g1") === "M").count()
      == compat.where(col("g2").isNull && col("g1") === "M").count())
  }
}
