package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Tables

/** kNN-graph persistence: a loaded graph must search BIT-IDENTICALLY
  * to the freshly built one (doubles round-trip parquet exactly), saves
  * must be atomic overwrites (second save replaces the first), and
  * loads must refuse directories that aren't saved indexes.
  */
class IndexStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def probeRows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Double, Long)].collect().toSet

  test("kNN graph round-trip: persisted edges search bit-identically") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_knn").toString + "/ix"
    val built = Similarity.knnGraph(emb, "vec_id", "embedding", k = 4)
      .localCheckpoint(true)
    val queries = emb.where($"vec_id" < 3)
    def search(g: org.apache.spark.sql.DataFrame) = probeRows(
      Similarity.graphSearch(g, emb, queries, "vec_id", "embedding", k = 5,
          beam = 8, rounds = 2, entryPoints = 2)
        .select($"query_id", $"neighbor_id", $"sim", $"rank"))
    val want = search(built)
    IndexStore.saveKnnGraph(spark, built, dir)
    Lineage.release(built)
    val loaded = IndexStore.loadKnnGraph(spark, dir)
    val got = search(loaded)
    loaded.unpersist(blocking = true)
    assert(got == want)
    assert(want.nonEmpty && want.forall(_._4 <= 5))
  }

  test("a second save atomically replaces the first; foreign dirs refuse") {
    val emb = Tables.embeddings(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft_ixswap").toString
    val dir = base + "/ix"
    val k8 = Similarity.knnGraph(emb, "vec_id", "embedding", k = 8).localCheckpoint(true)
    val first = k8.count()
    IndexStore.saveKnnGraph(spark, k8, dir)
    Lineage.release(k8)
    val k4 = Similarity.knnGraph(emb, "vec_id", "embedding", k = 4).localCheckpoint(true)
    val want = k4.count()
    assert(want < first)
    IndexStore.saveKnnGraph(spark, k4, dir) // overwrite via staged swap
    Lineage.release(k4)
    val loaded = IndexStore.loadKnnGraph(spark, dir)
    assert(loaded.count() == want, "second save must fully replace the first")
    loaded.unpersist(blocking = true)
    // no stray staging/backup debris after a clean swap
    assert(!new java.io.File(dir + "__staging").exists())
    assert(!new java.io.File(dir + "__old").exists())
    // a random parquet dir is not an index
    val foreign = base + "/foreign"
    Seq((1L, 2L)).toDF("a", "b").write.parquet(foreign)
    intercept[IllegalArgumentException] { IndexStore.loadKnnGraph(spark, foreign) }
  }
}
