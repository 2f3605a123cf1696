package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.GraftSession

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Every node of an EXECUTED plan, descending through the AQE
    * wrappers (AdaptiveSparkPlanExec / QueryStageExec are leaf-like
    * nodes whose inner plan a plain collect never visits). */
  protected def executedNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => Seq.empty
      }
      p +: (inner ++ p.children.flatMap(walk))
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Every FileSourceScanExec in an EXECUTED plan — the plan-shape
    * assertions' scan extractor. */
  protected def fileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    executedNodes(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }

  /** Runs `body` with the session conf `key` set to `value`, then puts
    * the conf back as it was. */
  protected def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark jobs started while `run` runs. A marker job run afterwards
    * flushes the asynchronous listener bus: events arrive in order, so
    * once the marker's start is seen every earlier job is counted. */
  protected def jobsIn(run: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val marker = s"jobsIn marker ${System.nanoTime()}"
    spark.sparkContext.addSparkListener(listener)
    try {
      run
      spark.sparkContext.setJobDescription(marker)
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker), "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.count(_ != marker)
  }

  /** Classes Spark's code generator compiled while `run` runs: the
    * codegen cache's misses, at planning and in tasks alike (local mode
    * runs every task in this JVM, and the counter is JVM-wide). */
  protected def compilesIn(run: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test", 4, 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
