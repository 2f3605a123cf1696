package graft.functions

import graft.SparkSpec
import graft.core.Tables
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class CharGramHashesSpec extends SparkSpec {
  import spark.implicits._

  // the composed built-ins twin the native kernel must match bit for bit
  private def composed(t: org.apache.spark.sql.Column, n: Int) = {
    val windows = transform(sequence(lit(0), length(t) - n),
      i => t.substr(i + lit(1), lit(n)))
    val hashed = transform(windows,
      g => struct(xxhash64(g).as("h1"), xxhash64(g, lit(1)).as("h2")))
    when(length(t) >= n, hashed)
      .otherwise(array().cast("array<struct<h1:bigint,h2:bigint>>"))
  }

  test("native kernel is bit-equal to the composed xxhash64 pipeline on real docs") {
    val docs = Tables.documents(spark, sf).limit(300)
    val n = 20
    val out = docs.select(
      composed($"text", n).as("c"),
      GraftFunctions.charGramHashes(spark, $"text", n).as("nv"))
    assert(out.filter(not($"c" <=> $"nv")).count() == 0,
      "every doc's full gram-key array must match exactly")
  }

  test("bit-equality holds beyond ASCII (code-point addressing)") {
    val docs = Seq(
      (1L, "héllo wörld — ünïcode çhars and ﬀ ligatures, ελληνικά too"),
      (2L, "短い日本語のテキストですが二十文字を超えます確認用"),
      (3L, "mixed ascii と 日本語 and émojis-free text here"),
      (4L, "short"), // below n — empty array on both sides
      (5L, "")).toDF("id", "text")
    val n = 8
    val out = docs.select(
      composed($"text", n).as("c"),
      GraftFunctions.charGramHashes(spark, $"text", n).as("nv"))
    assert(out.filter(not($"c" <=> $"nv")).count() == 0)
  }

  test("interpreted eval agrees with the plan path and the lane contract") {
    val s = "abcdefghijklmnopqrstuvwxyz"
    val n = 20
    // interpreted: call the kernel directly
    val direct = CharGramKernel.compute(UTF8String.fromString(s), n)
    assert(direct.numElements() == s.length - n + 1)
    // plan path (codegen)
    val fromPlan = Seq(s).toDF("t")
      .select(GraftFunctions.charGramHashes(spark, $"t", n).as("g"))
      .select(explode($"g").as("e")).select($"e.h1", $"e.h2")
      .as[(Long, Long)].collect()
    assert(fromPlan.length == direct.numElements())
    fromPlan.zipWithIndex.foreach { case ((h1, h2), i) =>
      val row = direct.getStruct(i, 2)
      assert(row.getLong(0) == h1 && row.getLong(1) == h2)
    }
    // lane contract: h1 = xxhash64(window), h2 = xxhash64(window, 1)
    val windows = (0 to s.length - n).map(i => s.substring(i, i + n))
    val expected = Seq(windows: _*).toDF("w")
      .select(xxhash64($"w"), xxhash64($"w", lit(1))).as[(Long, Long)].collect()
    assert(fromPlan.toSeq == expected.toSeq)
  }

  test("registered for SQL use via the function registry") {
    val out = spark.sql(
      "SELECT size(char_gram_hashes('abcdefghij', 3)) AS k").as[Int].head()
    assert(out == 8)
  }
}
