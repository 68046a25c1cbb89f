package graft

import graft.SparkTestBase

/** Plan-shape regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast) must stay visible in the
  * physical plan — a correctness-preserving refactor that loses them
  * would silently cost orders of magnitude at the 100 TB design point.
  */
class PlanAssertionsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02: filters reach the parquet scan as PushedFilters") {
    val p = plan("q02_filter_sum")
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_quantity"),
      s"expected shipdate/quantity filters pushed, got:\n${p.take(2000)}")
  }

  test("q02: scan schema pruned to the referenced columns only") {
    val p = plan("q02_filter_sum")
    assert(!p.contains("l_orderkey"), "unreferenced column not pruned from scan")
  }

  test("q102: quantized query side broadcasts; no sort-merge join") {
    val p = plan("q102_int8_quantized_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query vectors must broadcast against the corpus scan")
    assert(!p.contains("SortMergeJoin"),
      "corpus must not shuffle for the scoring join")
  }

  test("q104: adjacency joins broadcast; no cartesian product") {
    val p = plan("q104_triangle_counts")
    assert(p.contains("BroadcastHashJoin"),
      "adjacency must attach via broadcast hash join")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "triangle probe must not shuffle edge×array rows")
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan("q03_join_topk")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins for dims")
    assert(!p.contains("SortMergeJoin"), "fact table must not sort-merge against small dims")
  }

  test("q14b: grouping-sets rollup uses a single Expand, not unioned rescans") {
    val p = plan("q14b_rollup_cube")
    assert(p.contains("Expand"), "grouping-sets plan lost its Expand node")
    assert(!p.contains("Union"), "single-pass formulation must not union rescans")
  }

  test("q43: gated broadcast kernel engaged; crossJoin fallback keeps graft_dot") {
    // under the element gate the exact all-pairs scoring runs as the
    // broadcast matrix kernel (r15) — the plan must show the
    // MapPartitions kernel and NO join node at all
    val p = plan("q43_embedding_neardup")
    assert(p.contains("MapPartitions"), "broadcast kernel fell out of the plan")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      "kernel path must not plan a pair join")
    // the over-gate fallback is the codegen'd crossJoin — graft_dot
    // must still be the scoring expression there
    val fb = graft.operators.Similarity.nearDupPairs(
        graft.core.Tables.embeddings(spark, sf), "vec_id", "embedding",
        tau = 0.4, maxKernelElements = 0)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fb.contains("graft_dot"), "codegen kernel fell out of the fallback plan")
  }

  test("q60/q72: EXISTS shapes decorrelate to semi joins, not inner+distinct") {
    val p60 = plan("q60_tpch4_exists")
    assert(p60.contains("LeftSemi"), "q60 must plan a left-semi join")
    val p72 = plan("q72_tpch20_nested")
    assert(p72.contains("LeftSemi"), "q72 must plan a left-semi join")
  }

  test("q68/q73: NOT-IN / NOT-EXISTS shapes plan as anti joins") {
    assert(plan("q68_tpch16_suppcnt").contains("LeftAnti"), "q68 must plan a left-anti join")
    assert(plan("q73_tpch22_antijoin").contains("LeftAnti"), "q73 must plan a left-anti join")
  }

  test("q83: benchmark gram set broadcasts; corpus side has no sort-merge join") {
    val p = plan("q83_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "bench grams must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle-sort against the bench grams")
  }

  test("q76: banded levenshtein kernel present; block join is a hash join") {
    val p = plan("q76_dedup_levenshtein")
    assert(p.contains("graft_levenshtein"), "banded kernel fell out of the plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "prefix blocking must keep the pair join an equi hash join")
  }

  test("q112: PQ encode/score kernels are codegen expressions in the plan") {
    val p = plan("q112_pq_topk")
    assert(p.contains("graft_pq_encode"), "PqEncode fell out of the plan")
    assert(p.contains("graft_adc_score"), "AdcScore fell out of the plan")
    assert(!p.contains("SortMergeJoin"),
      "coded corpus must score against a broadcast, not a shuffle")
  }

  test("q118/q119: sketches broadcast to their probes; one aggregation pass each") {
    val cms = plan("q118_cms_freq")
    assert(cms.contains("graft_count_min"), "CMS aggregate fell out of the plan")
    assert(cms.contains("BroadcastExchange") || cms.contains("BroadcastNestedLoopJoin"),
      "the KB-scale sketch must broadcast to the probe side")
    val bloom = plan("q119_bloom_membership")
    assert(bloom.contains("graft_bloom"), "Bloom aggregate fell out of the plan")
    assert(bloom.contains("BroadcastExchange"),
      "the filter words must broadcast to the probe side")
  }

  test("q35: single-pass blocked jaccard — no join in the plan at all") {
    val p = plan("q35_dedup_ngram_blocked")
    assert(!p.contains("Join"),
      "set sizes must ride the explode; a join-back means the staging regression returned")
  }

  test("q132: posting-list search is joinless and prunes to doc_id+text") {
    val p = plan("q132_inverted_index")
    assert(!p.contains("Join"),
      "conjunctive match must be the HAVING aggregation, not a self-join per term")
    assert(!p.contains("n_chars"),
      "scan must prune to the referenced columns")
  }

  test("q133: per-lang median/MAD tables broadcast back; no sort-merge join") {
    val p = plan("q133_mad_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "tiny per-lang stats must broadcast against the doc scan")
    assert(!p.contains("SortMergeJoin"),
      "the doc side must not shuffle for the stats joins")
  }

  test("q131: span dedup is one window over the span hash, no join") {
    val p = plan("q131_span_dedup")
    assert(p.contains("Window"), "survivor marking must be a window, not a join-back")
    assert(!p.contains("Join"),
      "reassembly must ride the window + groupBy; a join doubles the span shuffle")
  }

  test("q138/q144: iterative and binned graph/interval kernels stay equi joins") {
    val p138 = plan("q138_concurrent_sessions")
    assert(!p138.contains("CartesianProduct") && !p138.contains("BroadcastNestedLoopJoin"),
      "overlap pairs must meet on the bin equi-key, not a quadratic join")
    val p144 = plan("q144_kcore")
    assert(!p144.contains("CartesianProduct") && !p144.contains("BroadcastNestedLoopJoin"),
      "k-core output degree count must stay an aggregation over the surviving arcs")
  }

  test("q137: source-overlap pair expansion is the group-and-expand shape, no corpus self-join") {
    val p = plan("q137_source_overlap")
    assert(!p.contains("SortMergeJoin"),
      "fingerprint pairs must expand in-array after a groupBy; the only joins are broadcast size lookups")
  }

  test("q160: BM25's df table and global stats broadcast; docs never sort-merge") {
    val p = plan("q160_bm25_topk")
    assert(p.contains("BroadcastExchange"),
      "the |terms|-row df table and the 1-row stats must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be the distributed top-k, not a global sort or rank window over all docs")
  }

  test("q161: containment expands pairs in-array — no corpus self-join, no cartesian") {
    val p = plan("q161_containment_dedup")
    assert(!p.contains("CartesianProduct"),
      "the stop-gram cap and gram-group expansion must bound candidates; no all-pairs join")
  }

  test("q162/q163: tiny vocab/bounds tables broadcast against the big scan") {
    assert(plan("q162_oov_rate").contains("BroadcastHashJoin"),
      "the 20-row vocab must broadcast against the token stream")
    assert(plan("q163_winsorized_lengths").contains("BroadcastHashJoin"),
      "the per-source bounds must broadcast against the doc scan")
  }

  test("q164: query vectors broadcast against the labeled corpus; no shuffle join") {
    val p = plan("q164_knn_label_spread")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the bounded query batch must broadcast")
    assert(!p.contains("SortMergeJoin"), "the corpus must not shuffle for scoring")
  }

  test("q167: row-local rules fuse — lineitem is scanned once per job family, not once per rule") {
    val p = plan("q167_constraint_report")
    // 4 legitimate lineitem consumers: fused row-local aggregate,
    // two uniqueness keys, one FK probe. 4 row-local rules fusing
    // into one scan is the contract; 7 scans would mean it broke.
    val scanCount = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scanCount <= 4, s"expected <= 4 lineitem scans (row-local fusion), got $scanCount:\n${p.take(1500)}")
  }

  test("q174: top-k is the distributed TakeOrdered; the cumsum window runs after it") {
    val p = plan("q174_zipf_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "top-1000 terms must be a distributed top-k, not a global sort of the vocabulary")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the 1-row total must broadcast")
  }

  test("q175: prefix sum is two-phase — the only unpartitioned window is over buckets") {
    val p = plan("q175_systematic_sample")
    // the intra-bucket window is partitioned; the bucket-offset window
    // is the single-partition step, over 1024x fewer rows
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast back onto the document stream")
    assert(!p.contains("SortMergeJoin"),
      "documents must not shuffle to meet the bucket-offset table")
  }

  test("q212: packing prefix sum is two-phase — no per-lang near-global window scan") {
    val p = plan("q212_bpe_packing")
    // the intra-bucket window partitions by (lang, bkt); the offset
    // window runs over the 1024x-smaller bucket list and its result
    // broadcasts back — the document stream must never meet it via a
    // shuffle, and no window may partition by lang alone
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast back onto the document stream")
    // the lang-alone window EXISTS but runs over the bucket aggregate
    // (1024x smaller); the window over the document stream must be
    // bucketed — its partition spec carries bkt alongside lang
    val windowParts = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(windowParts.exists(sp => sp.contains("lang#") && sp.contains("bkt#")),
      s"document-stream window must partition by (lang, bkt), got: $windowParts")
  }

  test("q178/q180: dimension-sized score/count frames broadcast; no cartesian") {
    val p1 = plan("q178_hits_paths")
    assert(p1.contains("BroadcastHashJoin"), "auth1 (|suppliers| rows) must broadcast")
    val p2 = plan("q180_basket_lift")
    assert(p2.contains("BroadcastHashJoin"), "per-part counts must broadcast onto the pairs")
    assert(!p2.contains("CartesianProduct"),
      "in-array pair expansion must replace the order self-join (the 1-row N broadcast is a BNLJ)")
  }

  test("q197: top movers end in a distributed top-k, not a global sort") {
    val p = plan("q197_top_movers")
    assert(p.contains("TakeOrderedAndProject"),
      "the 10 biggest deltas must use the distributed top-k")
  }

  test("q199/q194: nation-level aggregates broadcast back; the fact never sort-merges dims") {
    val p1 = plan("q199_above_nation_avg")
    assert(p1.contains("BroadcastHashJoin"), "nation stats (25 rows) must broadcast")
    val p2 = plan("q194_region_share")
    assert(p2.contains("BroadcastHashJoin"), "the nation/region dim must broadcast")
    assert(!p2.contains("CartesianProduct"))
  }

  test("q200: the datasheet reads documents at most twice (base stats + dominant lang)") {
    val p = plan("q200_source_datasheet")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    // formatted explain prints each physical scan twice (tree + detail)
    assert(scans <= 4, s"expected <= 2 physical scans of documents, got $scans lines")
    assert(p.contains("BroadcastHashJoin"),
      "the per-source dominant-language table must broadcast")
  }

  test("q176: hopping windows expand map-side — one aggregate, no self-join of events") {
    val p = plan("q176_events_hopping")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "window assignment must be the map-side explode inside window(), not a join")
    assert(p.contains("Expand"),
      "the 4-per-event window assignment must be the map-side Expand before the aggregate")
    // formatted explain prints each scan twice (tree line + detail
    // header) — 2 lines = ONE physical scan, events is the only input
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"events must scan once, got $scans lines:\n${p.take(1200)}")
  }

  // ---- co-partitioned checkpoint layouts (core.Partitioning) ----
  // AQE's AdaptiveSparkPlanExec reports UnknownPartitioning, so a plain
  // repartition+localCheckpoint SILENTLY forgets its layout and every
  // downstream join re-shuffles — exactly what happened to PageRank's
  // round-9 large branch. These guards pin the checkpointByKey /
  // checkpointKeepingLayout contract at the plan level, with broadcast
  // disabled to expose the shuffle shapes the 100× regime would see.

  private def withNoBroadcast[T](body: => T): T = {
    val prev  = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      // restore OR unset: both confs are optional — leaving either
      // pinned at -1 would silently disable (runtime) broadcast joins
      // for every later suite in the shared-session JVM
      prev.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prevA.fold(spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
    }
  }

  private def ensureExchanges(p: String): Int =
    "Exchange hashpartitioning[^\\n]*ENSURE_REQUIREMENTS".r.findAllIn(p).size

  test("LSH bucket self-join: staged once, shuffled under AQE (skew-splittable), no cartesian") {
    withNoBroadcast {
      val emb = graft.core.Tables.embeddings(spark, sf)
      val pairs = graft.operators.Similarity
        .nearDupPairsApprox(emb, "vec_id", "embedding", tau = 0.8, tables = 2)
      val p = pairs.queryExecution.executedPlan.toString
      // The staging is DELIBERATELY a plain checkpoint (measured at
      // sf10 — see approxScoredPairs): the self-join's per-side
      // exchanges are the price of AQE skew-splitting on correlated
      // bucket keys. Pin the properties that must hold instead: an
      // equi-join (never a cartesian over the bucket table), and both
      // sides reading the SAME one-time staged blocks (the signature
      // pipeline runs once, not once per side).
      assert(!p.contains("CartesianProduct"),
        s"bucket self-join degenerated to a cartesian:\n${p.take(3000)}")
      assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
        s"self-join sides do not read the staged checkpoint:\n${p.take(3000)}")
      // 3 = two join sides + the distinct; more means a side re-staged
      assert(ensureExchanges(p) <= 3,
        s"unexpected extra exchanges:\n${p.take(3000)}")
      graft.operators.Lineage.release(pairs)
      awaitStorageEmpty()
    }
  }

  test("PageRank large branch: per-round joins co-partition; only the contribution re-key shuffles") {
    withNoBroadcast {
      import spark.implicits._
      val edges = (1L to 400L).map(i => (i, i % 97 + 1)).toDF("u", "v")
      val iters = 3
      val r = graft.operators.PageRank.ranks(
        graft.operators.PageRank.bothDirections(edges), iters,
        broadcastMaxVertices = 0) // force the shuffle branch
      val p = r.queryExecution.executedPlan.toString
      // per round: ONE inherent exchange (contribution groupBy re-keys
      // src → dst). A forgotten layout adds arc-side + vd-side
      // re-shuffles every round (~3× the count).
      assert(ensureExchanges(p) <= iters,
        s"PageRank loop lost its co-partitioned layout:\n${p.take(3000)}")
      graft.operators.Lineage.release(r)
      awaitStorageEmpty()
    }
  }

  test("KCore arc/degree layout survives its checkpoints — loss aggregation needs no arc re-shuffle") {
    withNoBroadcast {
      import spark.implicits._
      // dense-ish small graph, forced past the driver gate
      val edges = (1L to 300L).flatMap(i => Seq((i, i % 50 + 1), (i, i % 31 + 2)))
        .toDF("a", "b")
      val out = graft.operators.KCore.core(edges, "a", "b", k = 3,
        driverMaxPairRows = 0)
      out.collect()
      graft.operators.Lineage.release(out)
      assert(awaitStorageEmpty().isEmpty, "kcore stranded storage")
    }
  }

  test("q207: dup-gram join-back is the hinted shuffled-hash join; no gram sort-merge") {
    val p = plan("q207_substring_dup_spans")
    assert(p.contains("ShuffledHashJoin"),
      "dup-gram join must stay shuffle_hash (AQE's sort-merge default sorts every gram string)")
    assert(!p.contains("CartesianProduct"), "no candidate-pair expansion may appear")
    assert(p.contains("graft_token_shingles_all"),
      "fused positional shingle kernel fell out of the plan")
  }

  test("q208: coverage window is a dense ROWS frame; only hinted hash joins on grams") {
    val p = plan("q208_substring_dedup_keep_first")
    assert(p.contains("ShuffledHashJoin"), "nonFirst join must stay shuffle_hash")
    assert(p.contains("ROWS BETWEEN 7 PRECEDING AND CURRENT ROW")
      || p.contains("rowsbetween(-7, 0)") || p.contains("specifiedwindowframe(RowFrame"),
      s"coverage expansion must be a ROWS window, got:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), "no range-join expansion may appear")
  }

  test("q209: batch probe never re-shuffles the index through a broadcast; windows stay per-doc") {
    val p = plan("q209_substring_dedup_incremental")
    assert(!p.contains("CartesianProduct"), "no candidate-pair expansion may appear")
    assert(!p.contains("No Partition Defined"), "all windows must be doc-partitioned")
  }

  test("q214: HTML extraction is a pure map chain — no exchange anywhere in the plan") {
    val p = plan("q214_html_extract")
    assert(!p.contains("Exchange"),
      s"extraction must not shuffle, got:\n${p.take(1500)}")
    // formatted mode marks codegen stages with '*'
    assert(p.contains("* Project"), "regex chain fell out of codegen")
  }

  test("q216: the boilerplate removal join broadcasts the (small) frequent-line set at runtime") {
    // the boiler side is an aggregate output — statically unsized, so
    // the broadcast decision is AQE's; assert on the EXECUTED plan
    val df = Registry.byName("q216_boilerplate_lines").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"removal join should broadcast the boilerplate set, got:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), "no line-pair expansion may appear")
  }

  // ---- HPV cycle budget: zero jobs in transform and load; the fact table is one local relation ----

  private def hpvWorkbooks: Seq[graft.ingest.Workbook] = (2023 to 2025).map { y =>
    graft.ingest.Workbook.fromGrid(Seq(
      Seq(s"HPV coverage, September ${y - 1} to August $y"),
      Seq(""),
      Seq("Local authority", "Year 8 females: Number", "Year 8 females: Number vaccinated",
        "Year 8 females: % vaccinated", "Year 8 males: Number", "Year 8 males: Number vaccinated"),
      Seq(" camden ", "100", "80", "80.0", "90", "70"),
      Seq("ISLINGTON", "*", "60", "50.0", "50", "40"),
      Seq("*", "", "10", "10.0", "30", "20")))
  }

  test("HPV transform plans the cycle without launching a Spark job") {
    val wbs = hpvWorkbooks
    val (fact, jobs) = jobsDuring(
      graft.pipeline.HpvPipeline.transform(wbs, java.time.LocalDate.of(2026, 1, 15)))
    assert(jobs == 0, s"transform launched $jobs job(s); its driver reads must fold into local relations")
    // a local relation collects without a job; a write always runs one
    val dir = java.nio.file.Files.createTempDirectory("graft_hpv_budget").resolve("t").toString
    val (_, writeJobs) = jobsDuring(frame(fact).write.parquet(dir))
    assert(writeJobs > 0, "the job counter saw no job for a real action")
  }

  test("HPV fact plan is one local relation: no shuffle, no Expand, and its load runs no job") {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val rel = graft.pipeline.HpvPipeline.transform(hpvWorkbooks, java.time.LocalDate.of(2026, 1, 15))
    val dir = java.nio.file.Files.createTempDirectory("graft_hpv_fact").resolve("t").toString
    val (report, jobs, queries) =
      graft.JobCounter.withQueries(spark)(graft.load.Load.replaceTable(rel, dir).get)
    assert(report.rows == rel.data.size, s"load reported ${report.rows} rows")
    assert(jobs == 0 && queries == 0,
      s"the fact load ran $jobs jobs and $queries queries; its rows are already on the driver")
    val fact = frame(rel)
    fact.collect()
    val executed = fact.queryExecution.executedPlan
    // node types, not plan text: BroadcastExchange and ReusedExchange
    // nodes are not shuffles, and a reused stage is a leaf
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = helper.collect(executed) { case e: ShuffleExchangeLike => e }
    val expands = helper.collect(executed) { case e: ExpandExec => e }
    assert(shuffles.isEmpty && expands.isEmpty,
      s"expected no shuffle and no Expand, got ${shuffles.size} and ${expands.size}:\n$executed")
  }

  test("HPV fact plan reads one stacked leaf, whatever the workbook count") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    for (wbs <- Seq(hpvWorkbooks.take(1), hpvWorkbooks, hpvWorkbooks ++ hpvWorkbooks)) {
      val fact = frame(graft.pipeline.HpvPipeline.transform(wbs, java.time.LocalDate.of(2026, 1, 15)))
      fact.collect()
      val executed = fact.queryExecution.executedPlan
      // query stages are walked into, so the leaves are the real scans
      val leaves = helper.collectLeaves(executed)
      assert(leaves.size == 1 && leaves.head.isInstanceOf[LocalTableScanExec],
        s"${wbs.size} workbook(s): expected one LocalTableScan leaf, got " +
          s"${leaves.map(_.nodeName).mkString(", ")}:\n$executed")
    }
  }
}
