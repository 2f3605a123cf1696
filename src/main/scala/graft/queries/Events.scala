package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Event-stream operator shapes (SURVEY §2.11) in their batch form —
  * the streaming variants live in graft.streaming and are covered by
  * ScalaTest; these batch twins are DuckDB-oracle-checked.
  */
object Events {

  /** T1 — tumbling 7-day event-time window aggregation. Spark's window()
    * aligns to the epoch; the oracle replicates with integer bucketing. */
  def t1TumblingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "7 days").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** T13 — hopping (sliding) event-time window: 14-day windows every
    * 7 days, so each event contributes to exactly two overlapping
    * windows — the rolling-aggregate shape that smooths week-boundary
    * noise. Spark's window() replicates each row into its windows
    * map-side (a Generate, no join); the oracle replicates with the
    * same epoch-aligned integer bucketing as t1 crossed with the two
    * window offsets. */
  def t13HoppingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "14 days", "7 days").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Sessionization: a >30-minute gap starts a new session; output
    * per-user session count and mean session duration (seconds).
    * Classic lag + cumulative-sum session id — shuffles once on user_id. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val sessions = Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy("user_id", "sess_id")
      .agg(
        (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("dur"),
        count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        round(avg("dur"), 6).as("avg_dur_sec"),
        sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** F-json — JSON field extraction from the props column. try_cast, not
    * cast: under Spark 4's default ANSI mode a non-integer payload value
    * would throw mid-query; the engine's rule (NOTES.md #10) is null
    * semantics on untrusted data, matching the DuckDB oracle's CAST. */
  /** J5 — as-of join: each purchase picks up the latest view at or
    * before it for the same user (trades⟵quotes shape). Views are
    * pre-aggregated to one row per (user, ts) so the match is
    * deterministic; oracle = DuckDB's native ASOF LEFT JOIN. */
  def j5AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(max("value").as("vvalue"))
    graft.operators.AsOfJoin
      .asOf(purchases, views, Seq("user_id"), "ts", Seq("vvalue", "ts"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts"),
        round(col("value"), 4).as("p_value"),
        round(col("asof_vvalue"), 4).as("asof_value"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"))
      .orderBy("event_id")
  }

  /** J6 — range (point-in-interval) join: events counted into 20
    * quadratically-spaced intervals over the corpus time span, through
    * the bucketized equi-join; oracle = DuckDB theta join. */
  def j6RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("event_id"), unix_micros(col("ts")).as("pt"))
    val head = ev.agg(min("pt"), max("pt")).head()
    val (mn, mx) = (head.getLong(0), head.getLong(1))
    val n = 20
    val span = mx - mn + 1
    val bounds = (0 to n).map(i => mn + i.toLong * i * span / (n.toLong * n))
    val intervals = (0 until n)
      .map(i => (i.toLong, bounds(i), bounds(i + 1)))
      .toDF("interval_id", "istart", "iend")
    val joined = graft.operators.RangeJoin.pointInInterval(
      ev, "pt", intervals, "istart", "iend",
      bucketWidth = math.max(span / 64, 1L))
    intervals
      .join(joined.groupBy("interval_id").agg(count(lit(1)).as("n_events")),
        Seq("interval_id"), "left")
      .na.fill(0L, Seq("n_events"))
      .select("interval_id", "n_events")
      .orderBy("interval_id")
  }

  def fJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").try_cast("int"))
      .groupBy("event_type")
      .agg(round(avg("k"), 6).as("avg_k"), max("k").as("max_k"))
      .orderBy("event_type")

  // ---- Gates: each plan with the DuckDB SQL that checks it ----------

  val gates: Seq[Gate] = Seq(
    Gate("j5_asof_join", j5AsofJoin,
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, max(value) AS vvalue FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
        |  round(p.value, 4) AS p_value,
        |  round(v.vvalue, 4) AS asof_value,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin),
    Gate("j6_range_join", j6RangeJoin,
      """WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
        |iv AS (SELECT CAST(i AS BIGINT) AS interval_id,
        |    mn + i * i * (mx - mn + 1) // 400 AS istart,
        |    mn + (i + 1) * (i + 1) * (mx - mn + 1) // 400 AS iend
        |  FROM range(20) t(i), b)
        |SELECT interval_id, count(e.event_id) AS n_events
        |FROM iv LEFT JOIN events e
        |  ON epoch_us(e.ts) >= iv.istart AND epoch_us(e.ts) < iv.iend
        |GROUP BY interval_id ORDER BY interval_id""".stripMargin),
    Gate("t1_tumbling_window", t1TumblingWindow,
      """SELECT strftime(make_timestamp(
        |    CAST(floor(epoch(ts) / 604800) * 604800 AS BIGINT) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
    Gate("s_sessionize", sessionize,
      """WITH e AS (SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |l AS (SELECT user_id, ts, es,
        |  lag(es) OVER (PARTITION BY user_id ORDER BY ts) AS prev_es FROM e),
        |n AS (SELECT user_id, ts, es,
        |  CASE WHEN prev_es IS NULL OR es - prev_es > 1800 THEN 1 ELSE 0 END AS new_sess FROM l),
        |s AS (SELECT user_id, es,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id FROM n),
        |g AS (SELECT user_id, sess_id, max(es) - min(es) AS dur, count(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, round(avg(dur), 6) AS avg_dur_sec,
        |  CAST(sum(n_events) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
    Gate("f_json_extract", fJsonExtract,
      """SELECT event_type,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // T13: hopping window = the t1 epoch bucketing crossed with the
    // two window offsets (len/slide = 2 windows per event).
    Gate("t13_hopping_window", t13HoppingWindow,
      """SELECT strftime(make_timestamp(
        |    (CAST(floor(epoch(ts) / 604800) * 604800 AS BIGINT)
        |      - o.o * 604800) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) AS o(o)
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)
  )
}
