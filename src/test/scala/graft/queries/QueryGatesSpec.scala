package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gate-query behavior that the driver's oracle compare can't exercise:
  * the approx/exact dqProfile agreement, and that the ANN invariant
  * gate's flags actually TRIP on violating inputs (a gate that can't
  * fail gates nothing).
  */
class QueryGatesSpec extends SparkSpec {
  import spark.implicits._

  test("dqProfile approx distinct counts sit within 5% of exact") {
    val exact = Relational.dqProfile(spark, sf, exact = true)
      .select("col_name", "n_distinct").as[(String, Long)].collect().toMap
    val approx = Relational.dqProfile(spark, sf)
      .select("col_name", "n_distinct").as[(String, Long)].collect().toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (c, n) =>
      assert(math.abs(approx(c) - n) <= math.max(1L, (n * 0.05).toLong),
        s"$c: approx ${approx(c)} vs exact $n drifts past 5%")
    }
  }

  test("dqProfile exact: a warm run plans alike and compiles no class") {
    def run() = {
      val df = Relational.dqProfile(spark, sf, exact = true)
      (df.collect().toSeq, df.queryExecution.executedPlan.treeString
        .replaceAll("(#|plan_id=)\\d+", "$1N"))
    }
    val (rows, plan) = run()
    var again = (Seq.empty[org.apache.spark.sql.Row], "")
    val n = compilesIn { again = run() }
    info(s"jobs per warm run: ${jobsIn(run())}")
    assert(again._1 == rows)
    assert(again._2 == plan, "the plan's shape must not vary run to run")
    assert(n == 0, s"a warm exact profile compiled $n classes")
  }

  test("heavyHitters: sketch covers every exact hot item; flag can trip") {
    // skewed fixture: two hot values (30% and 20%), long uniform tail
    val vals = (1 to 300).map(_ => "hot_a") ++ (1 to 200).map(_ => "hot_b") ++
      (1 to 500).map(i => s"tail_$i")
    val df = vals.toDF("v")
    val out = Relational.heavyHitters(df, "v", 0.1)
      .as[(String, Long, Int)].collect().sortBy(_._1)
    assert(out.map(t => (t._1, t._2)).toSeq == Seq(("hot_a", 300L), ("hot_b", 200L)),
      "exact hot set at support 0.1")
    assert(out.forall(_._3 == 1),
      "freqItems must surface every item above support (superset contract)")
    // partition-order independence: the counter-map merge must not
    // depend on how rows are split (the 100 TB posture is thousands of
    // partitions merging on the driver)
    val repart = Relational.heavyHitters(df.repartition(13), "v", 0.1)
      .as[(String, Long, Int)].collect().sortBy(_._1)
    assert(repart.toSeq == out.toSeq)
  }

  private def gateRows(approx: Seq[(Long, Int, Long, Double)],
                       exact: Seq[(Long, Long)], floor: Int) = {
    val a = approx.toDF("q_id", "rank", "n_id", "cos_sim")
    val e = exact.toDF("q_id", "n_id")
    Documents.annInvariantGate(a, e, floor)
      .select("q_id", "rank", "sim_ok", "neighbor_ok", "recall_floor_ok")
      .as[(Long, Int, Int, Int, Int)].collect().toSeq.sorted
  }

  test("annInvariantGate passes a well-formed result") {
    val rows = gateRows(
      Seq((0L, 1, 10L, 0.9), (0L, 2, 11L, 0.8), (1L, 1, 12L, 0.7)),
      Seq((0L, 10L), (1L, 12L)), floor = 2)
    assert(rows.forall { case (_, _, s, n, r) => s == 1 && n == 1 && r == 1 })
  }

  test("annInvariantGate trips sim_ok on a rank-order violation") {
    // rank 2 scoring HIGHER than rank 1 breaks the window contract
    val rows = gateRows(
      Seq((0L, 1, 10L, 0.5), (0L, 2, 11L, 0.9)),
      Seq((0L, 10L), (0L, 11L)), floor = 1)
    assert(rows.find(r => r._2 == 2).get._3 == 0, "violating row must flag 0")
    assert(rows.find(r => r._2 == 1).get._3 == 1, "clean row stays 1")
  }

  test("annInvariantGate trips sim_ok on an out-of-range cosine") {
    val rows = gateRows(
      Seq((0L, 1, 10L, 1.4)), Seq((0L, 10L)), floor = 1)
    assert(rows.head._3 == 0)
  }

  test("annInvariantGate trips neighbor_ok on a self-match") {
    val rows = gateRows(
      Seq((0L, 1, 0L, 0.9)), Seq((0L, 5L)), floor = 0)
    assert(rows.head._4 == 0)
  }

  test("annInvariantGate trips recall_floor_ok below the floor") {
    // zero overlap with the exact top-k on every row
    val rows = gateRows(
      Seq((0L, 1, 10L, 0.9), (0L, 2, 11L, 0.8)),
      Seq((0L, 98L), (0L, 99L)), floor = 1)
    assert(rows.forall(_._5 == 0))
  }
}
