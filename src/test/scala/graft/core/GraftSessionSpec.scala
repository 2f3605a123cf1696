package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every session [[GraftSession.build]] makes, and every session cloned
  * from it (`newSession`, each streaming query's own clone), shares one
  * executor classloader and so one codegen cache, sized to hold the
  * engine's working set: a query compiles its generated classes once
  * per JVM, not once per session or once per pass. */
class GraftSessionSpec extends SparkSpec {

  test("a second pass over the analytics mix compiles no class") {
    // perfbench's analytics_mix kinds over the sf0.01 tables: one pass
    // compiles well over 100 distinct classes, more than Spark's
    // default cache holds, so with that cache each kind evicts classes
    // a later kind needs and every pass compiles again
    val tables = new java.io.File(sf).getParent + "/sf0.01"
    val store = java.nio.file.Files.createTempDirectory("mix-metrics").toString + "/m.parquet"
    spark.range(0, 400).selectExpr(
      "id", "timestamp_seconds(1672531200 + id * 3600) AS evaluation_date",
      "date_format(timestamp_seconds(1672531200 + (id div 6) * 604800), 'yyyy_MM_dd') AS week_date",
      "concat('model_', id % 6) AS model_name", "0.6 + (id % 35) / 100.0 AS accuracy",
      "0.5 + (id % 41) / 100.0 AS macro_f1", "0.5 + (id % 37) / 100.0 AS weighted_f1",
      "cast(1000 + id % 4000 AS int) AS total_samples")
      .write.parquet(store)
    def metrics = spark.read.parquet(store)
    val kinds: Seq[() => org.apache.spark.sql.DataFrame] =
      Seq("q1_agg", "q5_local_supplier", "j3_semi_join", "j4_anti_join",
          "j5_asof_join", "j6_range_join", "w1_row_number", "a_cube",
          "a_rollup", "a9_percentile")
        .map(k => () => graft.SparkEntry.queries(k)(spark, tables)) ++
      Seq(() => graft.metrics.Analytics.modelSummary(metrics),
          () => graft.metrics.Analytics.recentWeeks(metrics, 8),
          () => graft.metrics.Analytics.bestModelPerWeek(metrics))
    def pass(): Seq[Int] = kinds.map(_().collect().length)
    var first: Seq[Int] = Nil
    info(s"first pass compiled ${compilesIn { first = pass() }} classes")
    var again: Seq[Int] = Nil
    val n = compilesIn { again = pass() }
    assert(n == 0, s"the second pass recompiled $n classes")
    assert(again == first)
  }

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
