package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Gate

/** Driver-contract invariants: entry() smoke, one gate per name, every
  * gate's plan runs. */
class SparkEntrySpec extends SparkSpec {

  test("entry() returns rows on the smoke scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; names/aliases stay aligned") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    // every query runs and yields a non-degenerate schema on smoke data
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("a gate list with a repeated name is refused") {
    val g = Gate("g", (s: SparkSession, _: String) => s.range(1).toDF(), "SELECT 1")
    assert(Gate.unique(Seq(g, g.copy(name = "h"))).map(_.name) == Seq("g", "h"))
    val e = intercept[IllegalArgumentException](
      Gate.unique(Seq(g, g.copy(name = "h"), g.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("declared more than once: g"))
  }

  // queries whose plan INTENTIONALLY contains a bounded broadcast nested
  // loop: ann1 (the exact ANN baseline: broadcast query set × one corpus
  // scan), ann2/ann3/ann5 (the same exact baseline feeds their recall
  // gate, plus the 1-row invariant-flag broadcast), t9 (1-row smoothing
  // denominator crossed in), t12 (1-row percentile threshold crossed
  // in), d3 (1-row invariant-flag broadcast), dq_skew / ann7 (skewStats'
  // 1-row top-k sum crossed into the 1-row stats aggregate)
  private val intendedNestedLoop =
    Set("ann1_brute_force", "ann2_lsh", "ann3_ivf", "ann4_ivf_store",
      "ann5_ivf_append", "ann6_hybrid_rerank", "t9_lm_score",
      "t12_quality_cut", "d3_simhash", "dq_skew_stats", "ann7_cell_stats",
      "m13_quality_filter", // 1-row separation-flag broadcast
      "ann8_pq_adc", "ann9_pq_store", // broadcast query-LUT × encoded corpus + 1-row flag
      "ann10_ivf_pq", // same exact-baseline + 1-row flag broadcasts
      "r8_dsir_select", // 1-row log-ratio-array broadcast crossed into the corpus
      "llm_select_pipeline", // same DSIR 1-row broadcast, over the gopher-kept pool
      "t24_bigram_lm", // t9's 1-row add-one-denominator broadcast cross join
      "t25_ccnet_buckets", // embeds t24's scoring chain
      "llm_ccnet_pipeline", // same chain, target-trained
      "a12_approx_quantiles", // 1-row sketch+count broadcast cross join
      "ann12_hard_negatives", // the INTENDED exact brute-force miner:
      // broadcast ~10-anchor set × one corpus scan with a cross-label
      // predicate — the ann1 exact-baseline shape. The 100 TB path is
      // hardNegativesFromCandidates (gated as ann14).
      "llm_rag_pipeline", // the IVF probe step's bounded broadcast LUT:
      // 10 queries × the nCells(=8)-row centroid table (ann3's shape) —
      // the corpus-sized chunk side rides equi-joins only
      "ann16_filtered_ann", // ann3's bounded probe broadcast: queries ×
      // the nCells(=8)-row centroid table; the filter itself is a
      // cell-side semi-join, never a nested loop
      "ann20_ivf_rebuilt", // ann4's shape on the rebuilt index: the
      // exact post-churn baseline + the 1-row invariant-flag broadcast;
      // the churn/rebuild stages themselves are equi-join only
      "ann17_knn_join", // same nCells-row centroid LUT crossed into the
      // corpus-sized probe side (bounded inner side); the probe→cell
      // candidate join is a plain shuffle hash join on the cell id
      "t46_bm25_topk", // t9's 1-row corpus-stats (N, avgdl) broadcast
      // crossed into the postings
      "t49_bm25_pruned", // same 1-row stats broadcast, prune live
      "llm_hybrid_retrieval", // the same 1-row stats broadcast + the
      // ann1 exact vector generator; the fusion itself is hash joins
      "m17_retrieval_metrics", // the ranked run comes from ann1's
      // intended exact BNLJ generator; the metrics themselves join
      // queries×k rows — the tiny side — against the qrels
      "ann18_medoid_assign", // the 8-row seed table crossed into one
      // corpus scan; the fan-out collapses in the map-side partial agg
      "llm_diversity_sample", // same bounded seed cross join feeding
      // the quota draw
      "ann14_hard_negatives_ann") // the candidate GENERATOR here is the
      // oracle-replayable exact top-20 over-fetch (ann1's intended
      // BNLJ); hardNegativesFromCandidates itself — the part that runs
      // at 100 TB — plans only broadcast hash joins + a depth-bounded
      // window (SimilaritySpec pins it on an ANN-fed fixture).

  test("no query plans an unintended nested-loop or cartesian join") {
    // Collect ALL offenders before asserting: a first-failure abort
    // would mask every query sorting after the first offender.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !intendedNestedLoop(name) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("BroadcastNestedLoopJoin") ||
            plan.contains("CartesianProduct")) Some(name) else None
      case _ => None
    }
    assert(offenders.isEmpty,
      s"queries planning a nested loop / cartesian — scale killers: " +
        offenders.mkString(", "))
  }
}
