package graft

import graft.core.GraftSession

/** Plan-audit main: prints the formatted physical plan for selected
  * queries (all if no names given). Used to check the scale contract:
  * PushedFilters reach the parquet scan, ReadSchema is pruned, small
  * dims broadcast, aggregates are partial (map-side), WholeStageCodegen
  * spans are wide.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.build("graft-explain", 8, 8)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
