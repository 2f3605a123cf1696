package graft.plans

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class SelfCosineRuleSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim(x, x) folds to self_cosine, bit-identical results") {
    // the shared session loads GraftExtensions, so the rule is on there;
    // the baseline comes from a session that excludes it
    val plain = spark.newSession()
    plain.conf.set("spark.sql.optimizer.excludedRules", SelfCosineRule.ruleName)
    def selfCos(s: SparkSession): DataFrame =
      Tables.embeddings(s, sf).limit(50)
        .select(GraftFunctions.cosineSim($"embedding", $"embedding").as("c"))
    val base = selfCos(plain)
    assert(base.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
      "the baseline plan must keep the full kernel")
    val unrewritten = base.as[Double].collect()
    val q = selfCos(spark)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"),
      s"self-cosine should be folded away:\n$optimized")
    // the rewrite is BIT-identical, ULP for ULP — d/(√d·√d) is NOT
    // forced to literal 1.0, so ==/>= filters can't flip on whether
    // the rule fired
    val rewritten = q.as[Double].collect()
    assert(rewritten.toSeq == unrewritten.toSeq)
    assert(rewritten.forall(v => math.abs(v - 1.0) < 1e-12))
    // non-self cosine is untouched
    val e = Tables.embeddings(spark, sf).limit(50)
    val q2 = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id").limit(10)
      .select(GraftFunctions.cosineSim($"a.embedding", $"b.embedding").as("c"))
    assert(q2.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
    // the rewrite must preserve the kernel's NaN on zero vectors and
    // NULL on null elements — an optimizer rule may not change results
    val zeros = Seq(Array(0.0f, 0.0f), Array(1.0f, 0.0f)).toDF("v")
    val out = zeros.select(GraftFunctions.cosineSim($"v", $"v").as("c"))
      .as[Double].collect()
    assert(out(0).isNaN && out(1) == 1.0)
    val withNull = Seq(Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f)))
      .toDF("v").select($"v".cast("array<float>").as("v"))
    val nullOut = withNull
      .select(GraftFunctions.cosineSim($"v", $"v").as("c"))
      .select(isnull($"c")).as[Boolean].collect()
    assert(nullOut.toSeq == Seq(true, false),
      "null element must yield NULL through the rewrite")
  }

  test("null elements yield NULL from the unrewritten kernel too") {
    val a = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(1.0f)))).toDF("x", "y")
      .select($"x".cast("array<float>").as("x"), $"y".cast("array<float>").as("y"))
    val out = a.select(isnull(GraftFunctions.cosineSim($"x", $"y"))).as[Boolean].first()
    assert(out, "null element in either side must poison the score to NULL")
  }
}
