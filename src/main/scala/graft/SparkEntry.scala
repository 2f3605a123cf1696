package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Documents, Events, Fuzz, Gate, MLFeatures, Medallion,
  PipelineE2E, Relational}

/** Driver contract — see SURVEY.md §7.
  *
  * Every gate is one operator from SURVEY.md §2 (names carry the §2 id)
  * and is declared once, beside its plan, in its family's `gates`. This
  * object joins the families and derives the views the driver reads.
  */
object SparkEntry {

  val gates: Seq[Gate] = Gate.unique(
    Relational.gates ++ MLFeatures.gates ++ Events.gates ++
      Documents.gates ++ PipelineE2E.gates ++ Fuzz.gates ++ Medallion.gates)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.plan).toMap

  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracleSql).toMap
}
