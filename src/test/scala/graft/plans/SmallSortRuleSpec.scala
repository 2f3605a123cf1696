package graft.plans

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[SmallSortRule]]: a global sort over a small materialized AQE result
  * shuffles to one partition and skips the range-sampling job; a large
  * sort input, a user's `repartitionByRange` and a session without
  * partition coalescing keep their range exchange. */
class SmallSortRuleSpec extends SparkSpec {
  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"

  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    executedNodes(df).collect {
      case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
    }

  /** Rows, job count and range exchanges of one fresh run of `q`. */
  private def run(q: => DataFrame): (Seq[Row], Int, Int) = {
    val df = q
    var rows = Seq.empty[Row]
    val jobs = jobsIn { rows = df.collect().toSeq }
    (rows, jobs, rangeExchanges(df).length)
  }

  private def smallSort: DataFrame =
    Tables.orders(spark, sf).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
      .orderBy(col("n").desc, col("o_orderstatus"))

  test("a small groupBy…orderBy sorts in one partition and runs one job fewer") {
    val (rows, jobs, ranges) = run(smallSort)
    // a 1-byte threshold: the rule never fires, AQE still coalesces
    val (baseRows, baseJobs, baseRanges) = withConf(minSize, "1")(run(smallSort))
    assert(ranges == 0, "the final plan keeps no range exchange")
    assert(baseRanges == 1)
    assert(jobs == baseJobs - 1, s"$jobs jobs, $baseJobs without the rule")
    assert(rows == baseRows && rows.nonEmpty)
  }

  test("an ORDER BY whose input is above minPartitionSize keeps range partitioning") {
    // 400k groups of (id, count): megabytes, above the 1 MB default
    val big = spark.range(0, 400000, 1, 4).groupBy(col("id")).count()
      .orderBy(col("id").desc)
    val (rows, _, ranges) = run(big)
    assert(ranges == 1)
    assert(rows.length == 400000 && rows.head.getLong(0) == 399999L)
  }

  test("repartitionByRange(n, …) keeps exactly n partitions") {
    val df = Tables.customer(spark, sf).groupBy("c_nationkey").count()
      .repartitionByRange(5, col("c_nationkey"))
    val parts = df.select(spark_partition_id().as("p")).distinct().count()
    assert(parts == 5)
    assert(df.rdd.getNumPartitions == 5)
  }

  test("with coalescing disabled the rule does not fire, and rows are identical") {
    val (rows, _, ranges) = run(smallSort)
    val (offRows, _, offRanges) = withConf(coalesce, "false")(run(smallSort))
    assert(ranges == 0)
    assert(offRanges == 1, "without coalescing the range exchange stays")
    assert(rows == offRows)
  }
}
