package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-offset replication: synthesize an sf≈N×base fixture from a base
  * fixture by stacking `copies` shifted copies of every table, so scale
  * claims can be MEASURED instead of design-reasoned.
  *
  * Replication preserves what makes the workload the workload:
  *  - the JOIN GRAPH: every foreign key is shifted by the same per-copy
  *    offset as its primary key, so copy i's lineitems join copy i's
  *    orders/parts/suppliers exactly as the originals do — fan-outs,
  *    match rates, and skew are untouched;
  *  - the DIMENSIONS: nation/region are fixed-cardinality reference
  *    tables (the 100 TB reality: facts grow, countries don't), so they
  *    are copied once and `*_nationkey` references stay unshifted;
  *  - WITHIN-COPY text/vector structure: near-dup pairs, shingle
  *    profiles, and cosine geometry inside each copy are bit-identical
  *    to the base. Cross-copy collisions are suppressed — otherwise
  *    every base near-dup group of size g becomes one of size
  *    g×copies and the OUTPUT (not the algorithm) goes quadratic,
  *    which would measure payload blow-up rather than scaling:
  *      * `text` is passed through a per-copy PERMUTATION of the
  *        letter alphabet (`translate`, codegen'd): token boundaries,
  *        lengths, and within-copy equality survive; shingles across
  *        copies share nothing;
  *      * `embedding` is passed through a per-copy ORTHOGONAL
  *        transform (cyclic dimension rotation + deterministic sign
  *        flips): all within-copy inner products are preserved
  *        EXACTLY, cross-copy similarities are scrambled.
  *  - copy 0 is the identity: the base fixture is a subset of the
  *    scaled one.
  *
  * Offsets are decimal round numbers far above each key's base range,
  * so provenance is readable off a key at a glance (vec_id 300017 =
  * copy 3, base 17).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
  */
object ScaleUp {

  /** Per-copy SUBSTITUTION of letters only (case-preserving): a
    * seeded Fisher-Yates permutation of the alphabet per copy, applied
    * to both cases via `translate` (codegen'd). Any letter bijection
    * preserves length, token structure, and within-copy equality while
    * cross-copy shingles share nothing (digits/punctuation pass
    * through, as they did under the earlier Caesar variant). A full
    * permutation — unlike Caesar's 26 rotations — keeps copies
    * pairwise distinct far past 26, which the sf3-10 scale steps need.
    * Copy 0 is the identity (the base fixture is a subset).
    */
  private def letterPerm(c: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    if (i == 0) c
    else {
      // scala.util.Random wraps java.util.Random's LCG — the shuffle is
      // deterministic for a given copy index on every JVM
      val perm = new scala.util.Random(0xC0FFEE + i).shuffle(lower.toList).mkString
      translate(c, lower + lower.toUpperCase, perm + perm.toUpperCase)
    }
  }

  /** Per-copy orthogonal transform of a 64-dim float vector: rotate
    * dimensions by 7·i (7 ⊥ 64, so the orbit covers all offsets) and
    * flip signs by a copy-keyed bit pattern. Permutation ∘ diagonal(±1)
    * is orthogonal ⇒ within-copy dot products are MATHEMATICALLY equal
    * to the base copy's — but not bit-identical: the rotation reorders
    * the terms of downstream sequential-fold dots, so copy-i cosines
    * can differ from copy-0 by ulps (a sim straddling a tau threshold
    * could flip between copies). Engine-vs-oracle parity is unaffected:
    * both engines read the SAME transformed vectors and fold in the
    * same order. ScaleUpSpec accordingly tests at 1e-9 tolerance.
    */
  private def rotateVec(c: org.apache.spark.sql.Column, i: Int, dims: Int): org.apache.spark.sql.Column =
    if (i == 0) c
    else {
      val rot = (7 * i) % dims
      val bit = i % 6
      expr(s"transform(sequence(0, ${dims - 1}), d -> " +
        s"CAST(element_at(${colName(c)}, ((d + $rot) % $dims) + 1) * " +
        s"(CASE WHEN ((d >> $bit) & 1) = 1 THEN -1.0 ELSE 1.0 END) AS FLOAT))")
    }

  private def colName(c: org.apache.spark.sql.Column): String = c.toString

  // Offsets: ≥10× above each key's base max, round decimal for
  // eyeball provenance.
  private val OrderOff = 1000000L
  private val CustOff = 100000L
  private val PartOff = 100000L
  private val SuppOff = 10000L
  private val EventOff = 1000000L
  private val UserOff = 10000L
  private val DocOff = 100000L
  private val VecOff = 100000L

  /** One table, `copies` stacked shifted copies. `shift` maps a copy
    * index to the per-copy projection.
    */
  private def replicate(copies: Int)(shift: Int => DataFrame): DataFrame =
    (0 until copies).map(shift).reduce(_ unionByName _)

  def scaleTable(
      spark: SparkSession, srcDir: String, table: String, copies: Int): DataFrame = {
    val base = spark.read.parquet(s"$srcDir/$table.parquet")
    // fail loud if the base's keys don't fit under their offsets —
    // e.g. re-scaling an already-scaled dir: shifted copies would
    // silently collide and corrupt the join graph the doc promises
    val checked = scala.collection.mutable.Set.empty[String]
    def off(c: String, o: Long, i: Int): org.apache.spark.sql.Column = {
      if (copies > 1 && checked.add(c)) {
        // cast in the agg: an int-typed key would ClassCastException on
        // getLong; an EMPTY base table yields a null max — both must
        // surface as the intended fail-loud message, not an opaque NPE
        val mxRow = base.agg(max(col(c).cast("long"))).head()
        require(!mxRow.isNullAt(0),
          s"$table.$c: base table is empty — nothing to replicate")
        val mx = mxRow.getLong(0)
        require(mx < o,
          s"$table.$c max $mx >= offset $o — copies would collide " +
            "(is the source already a scaled fixture?)")
      }
      (col(c) + lit(o * i)).as(c)
    }
    table match {
      case "region" | "nation" => base
      case "customer" => replicate(copies)(i => base.select(
        off("c_custkey", CustOff, i), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")))
      case "supplier" => replicate(copies)(i => base.select(
        off("s_suppkey", SuppOff, i), col("s_name"), col("s_nationkey"),
        col("s_acctbal")))
      case "part" => replicate(copies)(i => base.select(
        off("p_partkey", PartOff, i), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")))
      case "orders" => replicate(copies)(i => base.select(
        off("o_orderkey", OrderOff, i), off("o_custkey", CustOff, i),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
      case "lineitem" => replicate(copies)(i => base.select(
        off("l_orderkey", OrderOff, i), off("l_partkey", PartOff, i),
        off("l_suppkey", SuppOff, i), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
      case "events" => replicate(copies)(i => base.select(
        off("event_id", EventOff, i), col("ts"), off("user_id", UserOff, i),
        col("event_type"), col("value"), col("props")))
      case "documents" => replicate(copies)(i => base.select(
        off("doc_id", DocOff, i), letterPerm(col("text"), i).as("text"),
        col("lang"), col("source"), col("n_chars")))
      case "embeddings" => replicate(copies)(i => base.select(
        off("vec_id", VecOff, i),
        rotateVec(col("embedding"), i, dims = 64).as("embedding"), col("label")))
      case other => sys.error(s"unknown fixture table: $other")
    }
  }

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val (srcDir, dstDir, copies) = (args(0), args(1), args(2).toInt)
    // 150: the embedding transform family is pairwise-distinct up to
    // lcm(64, 6) = 192 copies (dimension-rotation period × sign-pattern
    // period); letter permutations are distinct essentially forever
    require(copies >= 1 && copies <= 150, "copies must be in [1,150]")
    val cpus = graft.core.Sessions.envCores
    val spark = graft.core.Sessions
      .configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (t <- Tables) {
      // coalesce keeps tiny dims in one file; facts get enough files
      // that a 32-thread scan parallelizes (one row-group each is fine)
      val scaled = scaleTable(spark, srcDir, t, copies)
      val parts = if (t == "region" || t == "nation") 1 else math.min(copies * 4, 64)
      scaled.repartition(parts).write.mode("overwrite")
        .parquet(s"$dstDir/$t.parquet")
      println(s"[scaleup] $t -> $dstDir/$t.parquet")
    }
    spark.stop()
  }
}
