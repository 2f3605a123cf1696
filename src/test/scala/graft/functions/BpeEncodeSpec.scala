package graft.functions

import graft.SparkSpec
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

class BpeEncodeSpec extends SparkSpec {
  import spark.implicits._

  private val merges = Seq("e s", "es t</w>", "l o", "lo w</w>")

  test("greedy lowest-rank-first application, word by word") {
    val out = Seq("lowest low").toDF("t")
      .select(GraftFunctions.bpeEncode(spark, $"t", merges).as("p"))
      .as[Seq[String]].head()
    // "lowest": e+s → es (rank 0), es+t</w> → est</w> (rank 1),
    // l+o → lo (rank 2); no merge joins lo|w|est</w> further
    // "low": l+o → lo, then lo+w</w> → low</w> (rank 3)
    assert(out == Seq("lo", "w", "est</w>", "low</w>"), s"got $out")
  }

  test("rank order beats position order: the LOWEST-rank merge applies first") {
    // "aab": with merges [(a b), (a a)] position order would merge
    // a+a first only if ranked first — here "a b" has rank 0, so the
    // FIRST application is a+b</w>, leaving a|ab</w>
    val out = Seq("aab").toDF("t")
      .select(GraftFunctions.bpeEncode(spark, $"t",
        Seq("a b</w>", "a a")).as("p"))
      .as[Seq[String]].head()
    assert(out == Seq("a", "ab</w>"), s"got $out")
  }

  test("detokenization identity holds for arbitrary whitespace") {
    val texts = Seq("  spaced   out\ttabs and\nnewlines ", "single",
      "a b c d e f g")
    texts.foreach { t =>
      val out = Seq(t).toDF("t")
        .select(GraftFunctions.bpeEncode(spark, $"t", merges).as("p"))
        .as[Seq[String]].head()
      val detok = out.mkString("").replace("</w>", " ").trim
      val norm = t.trim.replaceAll("\\s+", " ")
      assert(detok == norm, s"'$detok' != '$norm'")
    }
  }

  test("empty merges segments to characters; null text yields null") {
    val out = Seq("ab c").toDF("t")
      .select(GraftFunctions.bpeEncode(spark, $"t", Nil).as("p"))
      .as[Seq[String]].head()
    assert(out == Seq("a", "b</w>", "c</w>"))
    val nul = Seq(Option.empty[String]).toDF("t")
      .select(GraftFunctions.bpeEncode(spark, $"t", merges).as("p"))
      .head()
    assert(nul.isNullAt(0))
  }

  test("registered for SQL use via the function registry") {
    // the word-end piece is s</w>, which "e s" does NOT match — word
    // boundaries are part of the symbol, exactly Sennrich's formulation
    val out = spark.sql(
      "SELECT bpe_encode('ese es', array('e s')) AS p")
      .as[Seq[String]].head()
    assert(out == Seq("es", "e</w>", "e", "s</w>"), s"got $out")
  }
}
