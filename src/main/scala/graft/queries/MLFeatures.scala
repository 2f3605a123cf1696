package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.ops.{ColumnOps, Imputation}
import graft.metrics.Psi

/** ML-feature operator inventory (SURVEY §2.3 F10/F12, §2.4 A1/A7/A9,
  * §2.10 M1–M8) exercised over the TESTDATA corpus with DuckDB oracles.
  * The reference's domain columns (emp_length, grade, …) are emulated by
  * deterministic synthesis from testdata columns so the *operator*
  * semantics are what's tested.
  */
object MLFeatures {

  /** M5/F12 — parse_emp_length as a native expression. Strings are
    * synthesized from p_size, then parsed back. */
  def m5ParseEmpLength(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.part(s, d)
      .withColumn("emp_length",
        when(col("p_size") >= 40, "10+ years")
          .when(col("p_size") === 1, "< 1 year")
          .when(col("p_size") % 7 === 0, "missing")
          .when(col("p_size") % 11 === 0, "garbage value")
          .otherwise(concat(col("p_size").cast("string"), lit(" years"))))
    raw.select(
        col("p_partkey"),
        col("emp_length"),
        ColumnOps.parseEmpLength(col("emp_length")).as("emp_length_int"))
      .orderBy("p_partkey")
  }

  /** A1 (single-pass, multi-column) — all modes in ONE aggregation
    * instead of the reference's job-per-column loop. */
  def a1ModesMulti(s: SparkSession, d: String): DataFrame =
    Imputation.modesOf(
        Tables.lineitem(s, d),
        Seq("l_returnflag", "l_linestatus", "l_quantity"))
      .orderBy("col_name")

  /** A2/F10 — mean-imputation + missing flags end-to-end: nulls are
    * induced with nullif, flagged, then filled with the global mean. */
  def opsMeanImpute(s: SparkSession, d: String): DataFrame = {
    val withNulls = Tables.lineitem(s, d)
      .withColumn("disc", nullif(col("l_discount"), lit(0.05)))
      .withColumn("disc_missing", ColumnOps.missingFlag("disc"))
    val filled = Imputation.meanImpute(withNulls, "disc")
    filled.agg(
      round(sum("disc"), 4).as("sum_disc"),
      sum("disc_missing").as("n_filled"),
      count(lit(1)).as("n"))
  }

  /** M1 — StringIndexer semantics: frequency-ordered index (most frequent
    * → 0), ties by value. The model is the (value, idx) mapping itself. */
  def m1StringIndexer(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(desc("cnt"), asc("c_mktsegment"))
    Tables.customer(s, d)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .withColumn("idx", row_number().over(w) - 1)
      .select("c_mktsegment", "idx", "cnt")
      .orderBy("idx")
  }

  /** M2 — deterministic one-hot over a fixed dictionary (no per-batch
    * fit; unknowns → all-zeros). */
  def m2OneHot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 200)
      .select(
        Seq(col("o_orderkey"), col("o_orderstatus")) ++
          ColumnOps.oneHot("o_orderstatus", Seq("F", "O", "P")): _*)
      .orderBy("o_orderkey")

  /** M6 — label encoding from sorted-unique values (grade_mapping
    * semantics): tiny distinct set → windowed rank on the dim side →
    * broadcast join back. No global window over the fact table. */
  def m6LabelEncode(s: SparkSession, d: String): DataFrame = {
    val mapping = Tables.customer(s, d)
      .select("c_mktsegment").distinct()
      .withColumn("label_idx",
        row_number().over(Window.orderBy("c_mktsegment")) - 1)
    Tables.customer(s, d)
      .join(broadcast(mapping), Seq("c_mktsegment"))
      .groupBy("c_mktsegment", "label_idx").agg(count(lit(1)).as("n"))
      .orderBy("label_idx")
  }

  /** M7 — binary target from label-set membership. */
  def m7BinaryTarget(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(ColumnOps.binaryTarget(col("c_mktsegment"),
        Seq("AUTOMOBILE", "BUILDING")).as("target"))
      .agg(count(lit(1)).as("n"))
      .orderBy("target")

  /** M8/A9 — PSI between two time-sliced populations of o_totalprice. */
  def m8Psi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val cut = to_timestamp(lit("1998-01-01 00:00:00"))
    Psi.psi(
      o.filter(col("o_orderdate") < cut).select(col("o_totalprice").as("v")),
      o.filter(col("o_orderdate") >= cut).select(col("o_totalprice").as("v")),
      "v")
  }

  /** A7 — value_counts (predictions-distribution shape) on events. */
  def a7ValueCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("event_type"))

  /** R1 — seeded Bernoulli sample, hard-gated by a binomial CI.
    * RNG streams differ across engines by design, so the oracle cannot
    * recompute the sampled SET — but it CAN pin what a healthy sampler
    * must produce: per class, the sampled count within ±5σ of n·p
    * (σ = √(n·p·(1−p)), +1 for tiny classes). The query emits
    * (class, n_total, within_ci) where within_ci is 1 iff the draw is in
    * bounds; the oracle computes the same classes and totals and expects
    * within_ci = 1 everywhere. A broken sampler (wrong fraction, empty,
    * or pass-through) flips the flag → hash mismatch. The exact-count
    * determinism contract (same seed + partitioning ⇒ same rows) stays
    * spec-asserted. */
  def r1Sample(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val p = 0.1
    val sampled = graft.ops.Sampling.bernoulli(orders, p, seed = 42L)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_sampled"))
    orders.groupBy("o_orderstatus").agg(count(lit(1)).as("n_total"))
      .join(sampled, Seq("o_orderstatus"), "left")
      .na.fill(0L, Seq("n_sampled"))
      .select(col("o_orderstatus"), col("n_total"),
        when(abs(col("n_sampled") - col("n_total") * p) <=
          lit(5.0) * sqrt(col("n_total") * p * (1 - p)) + 1.0, 1)
          .otherwise(0).as("within_ci"))
      .orderBy("o_orderstatus")
  }

  /** M9 — classification metric family, fully distributed and
    * driver-gated: a deterministic prediction fixture (labels =
    * o_orderstatus; every 10th order key mis-predicts via the rotation
    * F→O→P→F) feeds `Classification.confusion` →
    * `Classification.perClassMetrics` — per-class precision/recall/F1
    * with NO driver collect, the shape that survives 10⁵-label
    * families. DuckDB recomputes the fixture and the metric algebra
    * verbatim (ratios of exact integer counts are bit-identical;
    * rounding only at the end). The 7-grade sklearn-parity path
    * (`summarize`) stays spec-checked in AnalyticsSpec. */
  def m9ClassMetrics(s: SparkSession, d: String): DataFrame = {
    import graft.metrics.Classification
    val preds = Tables.orders(s, d).select(
      col("o_orderstatus").as("label"),
      when(col("o_orderkey") % 10 === 0,
        when(col("o_orderstatus") === "F", "O")
          .when(col("o_orderstatus") === "O", "P")
          .otherwise("F"))
        .otherwise(col("o_orderstatus")).as("prediction"))
    Classification.perClassMetrics(
        Classification.confusion(preds, "label", "prediction"))
      .orderBy("cls")
  }

  /** R2 — deterministic hash split: per-class train/test counts.
    * Membership is the md5-threshold rule (Sampling.portableTestMember),
    * so the DuckDB oracle recomputes the EXACT member set — the split is
    * hard-gated end to end, not just spec-asserted. */
  def r2HashSplit(s: SparkSession, d: String): DataFrame = {
    val (train, test) = graft.ops.Sampling.hashSplit(
      Tables.customer(s, d), "c_custkey", testPct = 20)
    train.groupBy("c_mktsegment").agg(count(lit(1)).as("n_train"))
      .join(test.groupBy("c_mktsegment").agg(count(lit(1)).as("n_test")),
        Seq("c_mktsegment"), "left")
      .na.fill(0L)
      .orderBy("c_mktsegment")
  }

  // ---- Gates: each plan with the DuckDB SQL that checks it ----------

  val gates: Seq[Gate] = Seq(
    Gate("m5_parse_emp_length", m5ParseEmpLength,
      s"""WITH raw AS (SELECT p_partkey,
        |  CASE WHEN p_size >= 40 THEN '10+ years'
        |       WHEN p_size = 1 THEN '< 1 year'
        |       WHEN p_size % 7 = 0 THEN 'missing'
        |       WHEN p_size % 11 = 0 THEN 'garbage value'
        |       ELSE p_size || ' years' END AS emp_length FROM part)
        |SELECT p_partkey, emp_length,
        |  ${Medallion.empLengthIntSql} AS emp_length_int
        |FROM raw ORDER BY p_partkey""".stripMargin),
    Gate("a1_modes_multi", a1ModesMulti,
      """SELECT col_name, mode_value FROM (
        |  SELECT 'l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS mode_value,
        |    ROW_NUMBER() OVER (ORDER BY count(*) DESC, CAST(l_returnflag AS VARCHAR) ASC) AS rk
        |  FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR),
        |    ROW_NUMBER() OVER (ORDER BY count(*) DESC, CAST(l_linestatus AS VARCHAR) ASC)
        |  FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY l_linestatus
        |  UNION ALL
        |  SELECT 'l_quantity', CAST(l_quantity AS VARCHAR),
        |    ROW_NUMBER() OVER (ORDER BY count(*) DESC, CAST(l_quantity AS VARCHAR) ASC)
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_quantity
        |) WHERE rk = 1 ORDER BY col_name""".stripMargin),
    Gate("ops_mean_impute", opsMeanImpute,
      """WITH t AS (SELECT nullif(l_discount, 0.05) AS disc FROM lineitem),
        |m AS (SELECT avg(disc) AS am FROM t)
        |SELECT round(sum(coalesce(disc, am)), 4) AS sum_disc,
        |  CAST(sum(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |  count(*) AS n
        |FROM t, m""".stripMargin),
    Gate("m1_string_indexer", m1StringIndexer,
      """SELECT c_mktsegment,
        |  ROW_NUMBER() OVER (ORDER BY count(*) DESC, c_mktsegment ASC) - 1 AS idx,
        |  count(*) AS cnt
        |FROM customer GROUP BY c_mktsegment ORDER BY idx""".stripMargin),
    Gate("m2_one_hot", m2OneHot,
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o_orderstatus_ohe_F,
        |  CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS o_orderstatus_ohe_O,
        |  CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS o_orderstatus_ohe_P
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin),
    Gate("m6_label_encode", m6LabelEncode,
      """WITH mapping AS (
        |  SELECT c_mktsegment, ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS label_idx
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
        |SELECT c.c_mktsegment, m.label_idx, count(*) AS n
        |FROM customer c JOIN mapping m ON c.c_mktsegment = m.c_mktsegment
        |GROUP BY c.c_mktsegment, m.label_idx ORDER BY label_idx""".stripMargin),
    Gate("m7_binary_target", m7BinaryTarget,
      """SELECT CAST(c_mktsegment IN ('AUTOMOBILE', 'BUILDING') AS INTEGER) AS target,
        |  count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY target""".stripMargin),
    Gate("m8_psi", m8Psi,
      """WITH expected AS (SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |actual AS (SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
        |b AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM expected),
        |ebuck AS (SELECT CASE WHEN v <= bs[1] THEN 0 WHEN v <= bs[2] THEN 1
        |  WHEN v <= bs[3] THEN 2 WHEN v <= bs[4] THEN 3 WHEN v <= bs[5] THEN 4
        |  WHEN v <= bs[6] THEN 5 WHEN v <= bs[7] THEN 6 WHEN v <= bs[8] THEN 7
        |  WHEN v <= bs[9] THEN 8 ELSE 9 END AS bucket FROM expected, b),
        |abuck AS (SELECT CASE WHEN v <= bs[1] THEN 0 WHEN v <= bs[2] THEN 1
        |  WHEN v <= bs[3] THEN 2 WHEN v <= bs[4] THEN 3 WHEN v <= bs[5] THEN 4
        |  WHEN v <= bs[6] THEN 5 WHEN v <= bs[7] THEN 6 WHEN v <= bs[8] THEN 7
        |  WHEN v <= bs[9] THEN 8 ELSE 9 END AS bucket FROM actual, b),
        |buckets AS (SELECT range AS bucket FROM range(10)),
        |ep AS (SELECT bucket, count(*) / (SELECT count(*) FROM expected) AS p FROM ebuck GROUP BY bucket),
        |ap AS (SELECT bucket, count(*) / (SELECT count(*) FROM actual) AS p FROM abuck GROUP BY bucket),
        |j AS (SELECT buckets.bucket, coalesce(ep.p, 0) AS e, coalesce(ap.p, 0) AS a
        |  FROM buckets LEFT JOIN ep ON buckets.bucket = ep.bucket
        |  LEFT JOIN ap ON buckets.bucket = ap.bucket),
        |c AS (SELECT CASE WHEN e = 0 THEN 0.0001 ELSE e END AS e,
        |             CASE WHEN a = 0 THEN 0.0001 ELSE a END AS a FROM j)
        |SELECT round(sum((a - e) * ln(a / e)), 6) AS psi FROM c""".stripMargin),
    Gate("a7_value_counts", a7ValueCounts,
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type ASC""".stripMargin),
    // R1's sampled SET is Spark-RNG-specific, but a healthy sampler's
    // per-class count always sits within ±5σ+1 of n·p — the oracle pins
    // the classes, totals, and that flag (see MLFeatures.r1Sample).
    Gate("r1_sample", r1Sample,
      """SELECT o_orderstatus, count(*) AS n_total, 1 AS within_ci
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // R2's membership rule is md5-threshold (Sampling.portableTestMember
    // with pct=20 → threshold 0x0.3333…, 32 hex digits of 0.2), which any
    // engine recomputes exactly — the oracle re-derives the member SET,
    // not just the split fractions.
    Gate("r2_hash_split", r2HashSplit,
      """WITH b AS (SELECT c_mktsegment,
        |    md5(CAST(c_custkey AS VARCHAR) || 'split')
        |      < '33333333333333333333333333333333' AS t
        |  FROM customer)
        |SELECT c_mktsegment,
        |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |FROM b GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // M9: both engines derive the same deterministic prediction fixture,
    // and the metric algebra divides exact integer counts — bit-identical
    // doubles, rounded only at the end (see MLFeatures.m9ClassMetrics)
    Gate("m9_class_metrics", m9ClassMetrics,
      """WITH preds AS (SELECT o_orderstatus AS label,
        |    CASE WHEN o_orderkey % 10 = 0 THEN
        |      CASE o_orderstatus WHEN 'F' THEN 'O' WHEN 'O' THEN 'P' ELSE 'F' END
        |    ELSE o_orderstatus END AS pred
        |  FROM orders),
        |conf AS (SELECT label, pred, count(*) AS n FROM preds GROUP BY 1, 2),
        |classes AS (SELECT label AS cls FROM conf
        |  UNION SELECT pred FROM conf),
        |tp AS (SELECT label AS cls, n AS tp FROM conf WHERE label = pred),
        |bylabel AS (SELECT label AS cls, sum(n) AS support FROM conf GROUP BY 1),
        |bypred AS (SELECT pred AS cls, sum(n) AS pred_n FROM conf GROUP BY 1),
        |j AS (SELECT c.cls, coalesce(tp.tp, 0) AS tp,
        |    coalesce(bylabel.support, 0) AS support,
        |    coalesce(bypred.pred_n, 0) AS pred_n
        |  FROM classes c LEFT JOIN tp ON c.cls = tp.cls
        |  LEFT JOIN bylabel ON c.cls = bylabel.cls
        |  LEFT JOIN bypred ON c.cls = bypred.cls),
        |m AS (SELECT cls,
        |    CASE WHEN pred_n = 0 THEN 0.0 ELSE tp * 1.0 / pred_n END AS p,
        |    CASE WHEN support = 0 THEN 0.0 ELSE tp * 1.0 / support END AS r,
        |    support
        |  FROM j)
        |SELECT cls, round(p, 6) AS precision, round(r, 6) AS recall,
        |  round(CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END, 6) AS f1,
        |  CAST(support AS BIGINT) AS support
        |FROM m ORDER BY cls""".stripMargin)
  )
}
