package graft.functions

import graft.SparkSpec
import graft.core.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

class WordGramCoverageSpec extends SparkSpec {
  import spark.implicits._

  /** The string-exact model the hash-keyed kernel must agree with
    * (a 64-bit collision would break this — see the kernel scaladoc's
    * probability argument). */
  private def model(text: String, n: Int): (Long, Long) = {
    val ws = text.trim.split("\\s+").toSeq
    if (ws.length < n) return (0L, 0L)
    val grams = ws.sliding(n).map(_.mkString(" ")).toSeq
    val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
    val prods = counts.map { case (g, c) => (c, c * g.length) }
    (prods.map(_._2).max,
      prods.filter(_._1 >= 2).map(_._2).sum)
  }

  test("kernel agrees with the string-exact counting model on real docs") {
    val docs = Tables.documents(spark, sf).limit(300)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val fromPlan = Tables.documents(spark, sf).limit(300)
      .select($"doc_id", split(trim($"text"), "\\s+").as("ws"))
      .select($"doc_id",
        GraftFunctions.wordGramCoverage(spark, $"ws", 2, 10).as("cov"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cov"))
      .toMap
    docs.foreach { case (id, text) =>
      (2 to 10).foreach { n =>
        val (maxp, dups) = model(text, n)
        val got = fromPlan(id)(n - 2)
        assert(got.getLong(0) == maxp && got.getLong(1) == dups,
          s"doc $id n=$n: kernel (${got.getLong(0)}, ${got.getLong(1)}) vs model ($maxp, $dups)")
      }
    }
  }

  test("interpreted kernel call agrees with the plan path; short docs are (0,0)") {
    val toks = new GenericArrayData(
      "a b a b a".split(" ").map(UTF8String.fromString(_): Any))
    val direct = WordGramCoverageKernel.compute(toks, 2, 6)
    // "a b"×2 + "b a"×2 ⇒ maxp = 2·3 = 6, dups = both pairs = 12
    assert(direct.getStruct(0, 2).getLong(0) == 6L)
    assert(direct.getStruct(0, 2).getLong(1) == 12L)
    // n = 6 > 5 tokens ⇒ (0, 0)
    assert(direct.getStruct(4, 2).getLong(0) == 0L)
    val plan = Seq("a b a b a").toDF("t")
      .select(GraftFunctions.wordGramCoverage(spark,
        split($"t", " "), 2, 6).as("cov"))
      .head().getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cov")
    (0 until 5).foreach { i =>
      assert(plan(i).getLong(0) == direct.getStruct(i, 2).getLong(0))
      assert(plan(i).getLong(1) == direct.getStruct(i, 2).getLong(1))
    }
  }

  test("unicode char lengths count code points, like length()") {
    // "日本 日本" : gram "日本 日本" at n=2 — charLen 5 (2+2+1 space)
    val plan = Seq("日本 日本").toDF("t")
      .select(GraftFunctions.wordGramCoverage(spark,
        split($"t", " "), 2, 2).as("cov"))
      .head().getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cov")
    assert(plan(0).getLong(0) == 5L, s"got ${plan(0)}")
  }

  test("registered for SQL use via the function registry") {
    val out = spark.sql(
      "SELECT word_gram_coverage(array('x', 'x', 'x'), 2, 2) AS c")
      .head().getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("c")
    // "x x"×2: maxp = 2·3 = 6, dups = 6
    assert(out(0).getLong(0) == 6L && out(0).getLong(1) == 6L)
  }
}
