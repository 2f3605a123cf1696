package graft.functions

import graft.SparkSpec
import graft.core.Tables
import graft.operators.Similarity
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native expression is bit-equal to the composed version") {
    val e = Tables.embeddings(spark, sf).limit(200)
    val pairs = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .limit(5000)
      .select(
        Similarity.cosine($"a.embedding", $"b.embedding").as("composed"),
        GraftFunctions.cosineSim($"a.embedding", $"b.embedding").as("native"))
    assert(pairs.filter($"composed" =!= $"native").count() == 0)
  }

  test("registered for SQL use via the function registry") {
    Tables.embeddings(spark, sf).limit(5).createOrReplaceTempView("emb_test")
    val out = spark.sql(
      """SELECT cosine_sim(a.embedding, a.embedding) AS self_sim
        |FROM emb_test a""".stripMargin).as[Double].collect()
    assert(out.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("ragged arrays yield NULL, matching the composed version") {
    val v = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
    val out = v.select(
      GraftFunctions.cosineSim($"a", $"b").as("native"),
      Similarity.cosine($"a", $"b").as("composed")).first()
    assert(out.isNullAt(0), "native must not truncate to the shorter array")
    assert(out.isNullAt(1))
  }

  test("zero vectors yield NaN and null elements NULL, self and cross") {
    val zeros = Seq(Array(0.0f, 0.0f), Array(1.0f, 0.0f)).toDF("v")
    val out = zeros.select(GraftFunctions.cosineSim($"v", $"v").as("c"))
      .as[Double].collect()
    assert(out(0).isNaN && out(1) == 1.0)
    val a = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(1.0f)))).toDF("x", "y")
      .select($"x".cast("array<float>").as("x"), $"y".cast("array<float>").as("y"))
    val nulls = a.select(isnull(GraftFunctions.cosineSim($"x", $"y")),
      isnull(GraftFunctions.cosineSim($"x", $"x")),
      isnull(GraftFunctions.cosineSim($"y", $"y"))).as[(Boolean, Boolean, Boolean)].first()
    assert(nulls == ((true, true, false)),
      "a null element in either side must poison the score to NULL")
  }

  test("interpreted and codegen paths agree") {
    // force interpreted evaluation via a non-codegen context: eval directly
    val v = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b")
    val fromPlan = v.select(GraftFunctions.cosineSim($"a", $"b")).as[Double].first()
    val expected = {
      val dot = 1.0 * 3 + 2.0 * 2 + 3.0 * 1
      dot / (math.sqrt(14.0) * math.sqrt(14.0))
    }
    assert(math.abs(fromPlan - expected) < 1e-15)
  }
}
