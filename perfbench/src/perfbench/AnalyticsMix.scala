package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Read-only query mix: SparkEntry keys over the repo's fixed TPC-H-shaped
  * tables plus graft.metrics.Analytics over the generated metrics store.
  * One op is one query, fully collected. Every key's first (warm-up)
  * result is dumped as parquet for the DuckDB oracle (run.py); every
  * timed result must equal that first result. */
final class AnalyticsMix(ctx: Ctx) extends Workload {
  import ctx._

  private val kinds: Seq[(String, String)] = Main.jsonSeq(expected.get("ops"))
    .map(n => n.get("name").asText -> n.get("family").asText)
  private val family = kinds.toMap
  private val entry = graft.SparkEntry.queries
  private val tables = expected.get("tables").asText
  private val reference = scala.collection.mutable.Map.empty[String, Array[Row]]
  private var cycle = 0
  private var opIndex = 0

  private def metricsStore: DataFrame = spark.read.parquet(s"$inputs/metrics_store.parquet")

  private def plan(kind: String): DataFrame = kind match {
    case "metrics_summary" => graft.metrics.Analytics.modelSummary(metricsStore)
    case "metrics_recent_weeks" => graft.metrics.Analytics.recentWeeks(metricsStore, 8)
    case "metrics_best_model" => graft.metrics.Analytics.bestModelPerWeek(metricsStore)
    case k => entry(k)(spark, tables)
  }

  private def layerOf(kind: String): String =
    if (family(kind) == "metrics") "metrics" else "queries"

  private def run(kind: String): (DataFrame, Array[Row]) =
    tracer.span(kind, layerOf(kind)) {
      val df = plan(kind)
      (df, df.collect())
    }

  /** Cycle `c`'s seeded order: every kind exactly once. */
  private def order(c: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + c).shuffle(kinds.map(_._1))

  /** One warm-up cycle; its results are the references and are dumped
    * for the oracle. */
  def setup(): Unit =
    order(-1).foreach { k =>
      val (df, rows) = run(k)
      spark.createDataFrame(rows.toList.asJava, df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$k")
      reference(k) =
        if (corrupt && k == kinds.head._1) rows.dropRight(1) else rows
    }

  /** Whole cycles, as many as fill `seconds` at the nominal cycle time,
    * so every run measures the same number of ops. */
  def measure(seconds: Double): Seq[OpSample] = {
    val out = Seq.newBuilder[OpSample]
    (1 to math.max(1L, math.round(seconds / AnalyticsMix.NominalCycleS)).toInt).foreach { _ =>
      order(cycle).foreach { k =>
        tracer.spans.op = opIndex; opIndex += 1
        val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
        val (_, rows) = run(k)
        val secs = (System.nanoTime() - n0) / 1e9
        out += OpSample(k, secs, Rows.same(reference(k), rows), s0,
          System.currentTimeMillis())
      }
      cycle += 1
    }
    out.result()
  }

  def layers(traced: Seq[OpSample]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val byFamily = traced.groupBy(o => family(o.kind))
    Seq("scan_agg", "join", "window", "olap").map { f =>
      s"queries.${f}_s" -> mean(byFamily.getOrElse(f, Nil).map(_.seconds))
    }.toMap ++ Map(
      "metrics.analytics_s" ->
        mean(byFamily.getOrElse("metrics", Nil).map(_.seconds)),
      "sources.scan_rows_per_result_row" ->
        tracer.counters.scanRows.toDouble /
          math.max(1L, tracedRows(traced)))
  }

  private def tracedRows(traced: Seq[OpSample]): Long =
    traced.map(o => reference(o.kind).length.toLong).sum

  def space(): (Long, Long) = (0L, Main.dirBytes(new File(inputs)))

  override def extra(): Map[String, Any] = Map(
    "tables" -> tables,
    "oracle_sql" -> kinds.map(_._1).filter(entry.contains)
      .map(k => k -> graft.SparkEntry.oracleSql(k)).toMap,
    "results_dir" -> s"$work/results")
}

object AnalyticsMix {
  /** One warm cycle of the 13 kinds on 4 cores, in seconds. */
  val NominalCycleS = 7.0
}

/** Result comparison that tolerates double summation order (the same
  * rule as the repo's DuckDB oracle check: relative 1e-9). */
object Rows {
  def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Float, y: Float) => sameValue(x.toDouble, y.toDouble)
    case (x: Row, y: Row) => same(Array(x), Array(y))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => sameValue(p, q) }
    case _ => a == b
  }

  def same(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.indices.forall { i =>
      a(i).length == b(i).length &&
        (0 until a(i).length).forall(j => sameValue(a(i).get(j), b(i).get(j)))
    }
}
