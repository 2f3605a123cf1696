package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: a Spark plan over a testdata directory, plus the
  * DuckDB SQL over the same parquet tables that checks it (identical
  * column aliases and a total ORDER BY, so the driver's sorted-column
  * hash compare is deterministic). Each family object declares its
  * gates beside its plans. */
final case class Gate(name: String,
                      plan: (SparkSession, String) => DataFrame,
                      oracleSql: String)

object Gate {

  /** The gates as given, refusing any name declared more than once. */
  def unique(gates: Seq[Gate]): Seq[Gate] = {
    val repeated = gates.groupBy(_.name).collect {
      case (name, gs) if gs.size > 1 => name
    }
    require(repeated.isEmpty,
      s"gate declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    gates
  }
}
