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

  /** This JVM's root for gate side files: `<java.io.tmpdir>/graft_<pid>`.
    * Shared dump roots hang off it as they are; a gate's own dir comes
    * from [[scratch]]. */
  def scratchRoot: String =
    sys.props("java.io.tmpdir") + s"/graft_${ProcessHandle.current.pid}"

  /** A gate's own scratch dir `<scratchRoot>/<name>`, cleared first so
    * every run starts from nothing (no store, checkpoint or residue of
    * an earlier run in the same JVM). */
  def scratch(s: SparkSession, name: String): String = {
    val dir = s"$scratchRoot/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

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
