package graft.functions

import graft.SparkSpec
import graft.core.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

class CharEntropySpec extends SparkSpec {
  import spark.implicits._

  private def h(s: String): Double =
    CharEntropy.compute(UTF8String.fromString(s))

  test("known values: degenerate, two-char, weighted, empty") {
    assert(h("aaaa") == 0.0)
    assert(math.abs(h("ab") - math.log(2.0)) < 1e-12)
    // aab: ln 3 − (2 ln 2)/3
    assert(math.abs(h("aab") - (math.log(3.0) - 2 * math.log(2.0) / 3)) < 1e-12)
    assert(h("") == 0.0)
    // order invariance: entropy is a multiset statistic
    assert(h("abcabc") == h("ccbbaa"))
  }

  test("code points, not UTF-16 units: BMP accents and surrogate pairs") {
    assert(h("éé") == 0.0, "repeated é is zero-entropy")
    assert(math.abs(h("aé") - math.log(2.0)) < 1e-12)
    // U+1D11E (musical G clef) is a surrogate pair: two of them are ONE
    // distinct code point repeated, not four UTF-16 units
    val clef = new String(Character.toChars(0x1D11E))
    assert(h(clef + clef) == 0.0)
    assert(math.abs(h("a" + clef) - math.log(2.0)) < 1e-12)
  }

  test("interpreted and codegen paths agree on real data; null maps to null") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val viaPlan = docs
      .select($"doc_id", GraftFunctions.charEntropy(spark, $"text").as("e"))
      .as[(Long, Double)].collect().toMap
    // interpreted: direct eval of the expression over the same rows
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val interp = CharEntropy(Literal(UTF8String.fromString(text), StringType))
        .eval(null).asInstanceOf[Double]
      assert(interp == viaPlan(id), s"doc $id: $interp vs ${viaPlan(id)}")
    }
    val n = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(GraftFunctions.charEntropy(spark, $"text")).first()
    assert(n.isNullAt(0))
  }

  test("SQL registry + the quality positioning: padding scores below prose") {
    Seq(("prose", "the quick brown fox jumps over the lazy dog"),
        ("padding", "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"))
      .toDF("kind", "text").createOrReplaceTempView("ce_test")
    val out = spark.sql(
      "SELECT kind, char_entropy(text) AS e FROM ce_test")
      .as[(String, Double)].collect().toMap
    assert(out("padding") == 0.0)
    assert(out("prose") > 2.0)
  }

  test("BoundReference eval path (no literal folding) matches the kernel") {
    // guard against a doGenCode-only implementation: evaluate through a
    // bound row reference the way InterpretedUnsafeProjection would
    val expr = CharEntropy(BoundReference(0, StringType, nullable = true))
    val row = org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString("aab"))
    assert(expr.eval(row) == h("aab"))
  }
}
