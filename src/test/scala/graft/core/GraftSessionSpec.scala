package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every session [[GraftSession.build]] makes, and every session cloned
  * from it (`newSession`, each streaming query's own clone), shares one
  * executor classloader and so one codegen cache: a query compiles its
  * generated classes once per JVM, not once per session. */
class GraftSessionSpec extends SparkSpec {

  test("a query that has run once compiles no class in a new session") {
    // a grouped aggregate: whole-stage code on both sides of a shuffle,
    // compiled on the driver and again in the tasks. The odd modulus
    // keeps its code apart from every other spec's
    def query(s: org.apache.spark.sql.SparkSession) =
      s.range(0, 5000, 1, 4)
        .groupBy((col("id") % 7919 % 13).as("k"))
        .agg(sum("id").as("s"), count(lit(1)).as("n"))
        .orderBy("k")
    var first: Seq[org.apache.spark.sql.Row] = Nil
    assert(compilesIn { first = query(spark).collect().toSeq } > 0,
      "the first run compiles the query's classes")
    assert(first.map(_.getLong(2)).sum == 5000L)
    val other = spark.newSession()
    var again: Seq[org.apache.spark.sql.Row] = Nil
    val n = compilesIn { again = query(other).collect().toSeq }
    assert(n == 0, s"a new session recompiled $n classes")
    assert(again == first)
  }
}
