package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.GraftSession

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Every FileSourceScanExec in an EXECUTED plan, descending through
    * the AQE wrappers (AdaptiveSparkPlanExec / QueryStageExec are
    * leaf-like nodes whose inner plan a plain collect never visits) —
    * the plan-shape assertions' scan extractor. */
  protected def fileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test", 4, 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
