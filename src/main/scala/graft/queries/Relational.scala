package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** The relational operator inventory of SURVEY.md §2 (scans, projections,
  * predicates, scalar functions, aggregations, joins, sorts, sets, windows,
  * dedup), re-expressed Spark-first over the TESTDATA corpus. Each gate
  * plan is declared with its DuckDB oracle in `gates`, at the end.
  *
  * Conventions for oracle parity:
  *  - every query ends in a total ORDER BY so row order is deterministic;
  *  - float aggregates are rounded (4–6 dp) to absorb summation-order ULPs;
  *  - aggregate/computed columns are aliased identically on both sides.
  *
  * Scale notes are per-query; the common theme is: filters/projections sit
  * directly on the parquet scan (pushdown + pruning), aggregations are
  * partial-agg friendly, small dimensions broadcast.
  */
object Relational {
  private val ts = (s: String) => to_timestamp(lit(s))

  /** S3 — parquet scan, smallest table. Whole table fits in one partition;
    * at scale this is a metadata-only pruned scan of a dimension. */
  def s3ParquetScan(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).orderBy("r_regionkey")

  /** P1/P2 — projection (column pruning reaches the scan: ReadSchema shows
    * only 2 of 5 customer columns). */
  def p2Select(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  /** P5 — date-range predicate; pushed to parquet (PushedFilters). */
  def p5Between(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(ts("1996-01-01 00:00:00"), ts("1996-12-31 23:59:59")))
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  /** P6/P7/P8 — equality + IN-list + null-handling predicates combined. */
  def p6p7p8Predicates(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .filter(col("o_custkey").isNotNull)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
      .orderBy("o_orderkey")

  /** Flagship: TPC-H Q1-shaped grouped aggregation (SURVEY A2/A3/A6 family).
    * Partial aggregation map-side, 6 groups → trivial shuffle; the scan
    * reads only the 7 referenced columns. */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A1 — mode via group-count-sort-first (silver_credit_history.py:31–37
    * semantics), tie broken by value for determinism. */
  def a1Mode(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("o_orderpriority"))
      .limit(1)
      .select("o_orderpriority")

  /** A2 — scalar mean (mean-imputation statistic, silver_financial.py:20). */
  def a2Mean(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(round(avg("l_quantity"), 6).as("avg_qty"))

  /** A4/O1 — top-K by frequency (top-10 emp_title, gold_feature_store.py:98).
    * Catalyst plans TakeOrderedAndProject: no full sort, no full shuffle. */
  def a4TopK(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy("p_brand").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("p_brand"))
      .limit(10)

  /** A5 — distinct values of a column (silver_processing.py:51). */
  def a5Distinct(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select("o_orderpriority").distinct()
      .orderBy("o_orderpriority")

  /** A6 — grouped multi-aggregate summary (query_model_performance.py:29–43
    * shape: COUNT/AVG/MIN/MAX/STDDEV/SUM … GROUP BY … ORDER BY avg DESC). */
  def a6Summary(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        round(avg("c_acctbal"), 6).as("avg_bal"),
        round(min("c_acctbal"), 4).as("min_bal"),
        round(max("c_acctbal"), 4).as("max_bal"),
        round(stddev("c_acctbal"), 6).as("std_bal"),
        round(sum("c_acctbal"), 4).as("sum_bal"))
      .orderBy(desc("avg_bal"), asc("c_mktsegment"))

  /** A9 — exact percentiles (PSI breakpoint computation, model_operations.py:165).
    * `percentile` (exact, interpolated) matches DuckDB quantile_cont. */
  def a9Percentile(s: SparkSession, d: String): DataFrame =
    // ONE array-percentile aggregate: four scalar percentile() calls
    // would each maintain their own value-count buffer over the same
    // column — 4× the aggregation memory and merge work for one answer
    Tables.orders(s, d)
      .agg(expr("percentile(o_totalprice, array(0.25D, 0.50D, 0.75D, 0.90D))")
        .as("_ps"))
      .select(
        round(element_at(col("_ps"), 1), 4).as("p25"),
        round(element_at(col("_ps"), 2), 4).as("p50"),
        round(element_at(col("_ps"), 3), 4).as("p75"),
        round(element_at(col("_ps"), 4), 4).as("p90"))

  /** J1 — multi-way left-join spine (gold_feature_store.py:325–327 shape).
    * nation/region are tiny → Catalyst broadcasts both; customer never
    * shuffles. At 100 TB the fact side streams map-side only. */
  def j1LeftJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"), "left")
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 4).as("sum_bal"))
      .orderBy("r_name", "n_name")

  /** J2 — inner equi-join fact⋈fact (features⋈labels, model_operations.py:39).
    * Both sides large → shuffle hash/sort-merge on the key; AQE picks. */
  def j2InnerJoin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"), "inner")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_extendedprice"), 4).as("sum_price"))
      .orderBy("o_orderstatus")

  /** J3 — left-semi join (EXISTS): orders having at least one high-qty line. */
  def j3SemiJoin(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 49),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** J4 — left-anti join (NOT EXISTS): customers with no orders. */
  def j4AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** O1/O3 — global top-k by value (TakeOrderedAndProject). */
  def o1TopkLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  /** U2 — union of two partition-like subsets then aggregate (multi-week
    * union, model_operations.py:33–35). */
  def u2Union(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderdate") < ts("1997-01-01 00:00:00"))
    val b = o.filter(col("o_orderdate") >= ts("1999-01-01 00:00:00"))
    a.unionByName(b)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** W1 — ROW_NUMBER() … PARTITION BY … ORDER BY … DESC, keep rank 1
    * (best-model-per-week, query_model_performance.py:147–166). One shuffle
    * on the partition key; no global sort. */
  def w1RowNumber(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** W2 — IN-subquery over recent partitions (query_model_performance.py:96);
    * Catalyst rewrites to left-semi against the distinct-orderBy-limit. */
  def w2InSubquery(s: SparkSession, d: String): DataFrame = {
    val recent = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("od")).distinct()
      .orderBy(desc("od")).limit(30)
    Tables.orders(s, d)
      .join(broadcast(recent), to_date(col("o_orderdate")) === col("od"), "left_semi")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_day"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("sum_price"))
      .orderBy("o_day")
  }

  /** W3 — running sum with explicit frame (ROWS UNBOUNDED PRECEDING) +
    * lag(): frame-spec coverage beyond the reference (SURVEY §2.8 note). */
  def w3RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 100)
      .withColumn("run_qty",
        round(sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
      .withColumn("prev_qty", lag("l_quantity", 1).over(w))
      .select("l_orderkey", "l_linenumber", "run_qty", "prev_qty")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** R3 — full-row distinct (gold_feature_store.py:330). */
  def r3Distinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** S6/S2 — CSV sink + schema'd scan round-trip: writes supplier to CSV,
    * reads it back with the declared schema, aggregates. The oracle runs
    * the same aggregate on the parquet — proving the CSV path is
    * lossless for the table's types. */
  def s6CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.supplier(s, d)
    // per-process fixed path: no /tmp accumulation across runs, no
    // overwrite-while-read race between concurrent Bench/Verify JVMs
    val tmp = Gate.scratch(s, "csv_roundtrip/supplier")
    graft.sources.Sources.writeCsv(src, tmp)
    graft.sources.Sources.csv(s, tmp, Some(src.schema))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 4).as("sum_bal"))
      .orderBy("s_nationkey")
  }

  /** F2 — "MMM-yyyy" date parsing (silver_credit_history.py:22 shape):
    * strings synthesized from order dates, parsed back with to_date. */
  def f2DateParse(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 300)
      .withColumn("mmm_yyyy", date_format(col("o_orderdate"), "MMM-yyyy"))
      .select(
        col("o_orderkey"),
        col("mmm_yyyy"),
        date_format(to_date(col("mmm_yyyy"), "MMM-yyyy"), "yyyy-MM-dd").as("parsed"),
        round(months_between(
          to_date(lit("2002-01-01")), to_date(col("mmm_yyyy"), "MMM-yyyy")), 6)
          .as("months_since"))
      .orderBy("o_orderkey")

  /** A-cube — grouping-sets aggregation (beyond the reference: SURVEY
    * §2.4 notes these come free as built-ins). */
  def aCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** S5-orc — ORC sink + scan round-trip (third columnar format after
    * parquet/CSV; aggregate parity vs the parquet oracle). */
  def s5OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.part(s, d)
    val tmp = Gate.scratch(s, "orc_roundtrip/part")
    src.write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 4).as("sum_price"))
      .orderBy("p_brand")
  }

  /** S5-partitioned — partitionBy write + partition-pruned read: lands
    * orders partitioned by year, reads back ONE partition (the filter on
    * the partition column prunes at planning time), aggregates. */
  def s5PartitionedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = Gate.scratch(s, "part_roundtrip/orders")
    Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_year") === 1997)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** S-compact — small-file compaction roundtrip: land documents as 64
    * deliberately-tiny files (the micro-batch-ingest pathology), compact
    * with `Sources.compactParquet` (driver-side file census →
    * shuffle-free coalesce rewrite), read the compacted copy, aggregate
    * per language. The oracle recomputes the aggregate from the
    * original table — compaction must be bit-transparent to content. */
  def sCompactRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = Gate.scratch(s, "compact_roundtrip")
    val src = s"$base/documents_small"
    val dst = s"$base/documents_compacted"
    Tables.documents(s, d).repartition(64)
      .write.mode("overwrite").parquet(src)
    graft.sources.Sources.compactParquet(s, src, dst)
    s.read.parquet(dst)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"))
      .orderBy("lang")
  }

  /** Z-order roundtrip gate: lineitem rewritten z-clustered on
    * (l_orderkey, l_partkey) must stay content-identical — the layout
    * op may move rows between files, never change them. The pruning
    * benefit itself (per-file min/max ranges shrink on BOTH columns) is
    * spec-asserted in ZorderSpec; DuckDB can't see Spark's file layout,
    * so the oracle pins content transparency. */
  def sZorderRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = Gate.scratch(s, "zorder_roundtrip")
    val dst = s"$base/lineitem_z"
    graft.sources.Sources.zorderWrite(
      s, Tables.lineitem(s, d), Seq("l_orderkey", "l_partkey"), dst,
      nFiles = 8)
    s.read.parquet(dst)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_ok"),
        sum(col("l_partkey")).as("sum_pk"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  case class LineitemSlim(l_returnflag: String, l_linestatus: String,
                          l_quantity: Double, l_shipdate: java.sql.Timestamp)

  /** Typed sum-of-quantity Aggregator: unlike groupByKey.mapGroups, an
    * Aggregator participates in partial aggregation — Spark combines
    * map-side and shuffles one buffer per (key, partition) instead of
    * every row. This is the plan shape the typed API should model at
    * scale (measured 4× over mapGroups on this very query at sf0.1). */
  private object SumQty extends org.apache.spark.sql.expressions.Aggregator[LineitemSlim, Double, Double] {
    def zero: Double = 0.0
    def reduce(acc: Double, r: LineitemSlim): Double = acc + r.l_quantity
    def merge(a: Double, b: Double): Double = a + b
    def finish(acc: Double): Double = acc
    def bufferEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
    def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  /** Typed Dataset[T] path: the same Q1 shape through case-class
    * Encoders — compile-time column safety where the schema is static.
    * (Quantities are integral-valued, so the double sum is exact and
    * combine order cannot perturb it.) */
  def q1Typed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutoff = java.sql.Timestamp.valueOf("1998-09-02 00:00:00")
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
      .as[LineitemSlim]
      .filter(_.l_shipdate.compareTo(cutoff) <= 0)
      .groupByKey(r => (r.l_returnflag, r.l_linestatus))
      .agg(SumQty.toColumn.name("sum_qty"))
      .select(col("key._1").as("l_returnflag"), col("key._2").as("l_linestatus"),
        round(col("sum_qty"), 4).as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A-stats — bivariate statistics aggregates: Pearson correlation,
    * sample covariance, least-squares slope/intercept. */
  def aStatsCorr(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qp"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_qp"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"))
      .orderBy("l_returnflag")

  /** A-pivot — groupBy().pivot(): wide conditional aggregation. */
  def aPivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("l_quantity"), 4))
      .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
      .orderBy("l_returnflag")

  /** U3 — intersect/except (beyond the reference; SURVEY §2.7 note). */
  def u3IntersectExcept(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val early = o.filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
      .select("o_custkey").distinct()
    val late = o.filter(col("o_orderdate") >= ts("1998-01-01 00:00:00"))
      .select("o_custkey").distinct()
    early.intersect(late).withColumn("set_op", lit("both"))
      .unionByName(early.except(late).withColumn("set_op", lit("early_only")))
      .orderBy("set_op", "o_custkey")
  }

  /** W4 — lead + ntile window functions (frame coverage beyond W1–W3). */
  def w4LeadNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .filter(col("o_custkey") <= 50)
      .select(
        col("o_custkey"), col("o_orderkey"),
        lead("o_orderkey", 1).over(w).as("next_orderkey"),
        ntile(4).over(w).as("quartile"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** S9 — JSON sink + scan round-trip (aggregate parity vs the parquet
    * oracle, same pattern as the CSV round-trip). */
  def s9JsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.nation(s, d)
    val tmp = Gate.scratch(s, "json_roundtrip/nation")
    src.write.mode("overwrite").json(tmp)
    s.read.schema(src.schema).json(tmp)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      .orderBy("n_regionkey")
  }

  /** Q3-shaped flagship: shipping-priority revenue — 3-way join with
    * filters on all three tables, grouped revenue, top-10. The scan-side
    * filters (mktsegment, both date bounds) push down; customer is the
    * small probe side and broadcasts; only lineitem⋈orders shuffles. */
  def q3Shipping(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < ts("1995-03-15 00:00:00"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > ts("1995-03-15 00:00:00"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)

  /** Q5-shaped flagship: local-supplier volume — 6-way join (two fact
    * tables + four dims), region filter walked down the dim chain,
    * per-nation revenue. Dims broadcast; the c_nationkey = s_nationkey
    * condition rides the supplier join. */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-01-01 00:00:00"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))

  /** U-upsert — snapshot merge (SCD-1): a base snapshot plus an update
    * batch, keep the newest version per key — the reference's
    * weekly-store maintenance generalized to true upserts. One window
    * over (key, version desc); at scale this is one shuffle on the key,
    * the same plan a MERGE INTO executes for latest-wins. */
  def uUpsert(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val base = o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"), lit(1).as("version"))
    // deterministic update batch: every 7th order re-lands 10% pricier.
    // The ×1.1 runs in exact decimal: round(double*1.1, 2) straddles
    // half-way points differently across engines (the binary double for
    // x.xx5 sits just below the decimal midpoint), so cast to
    // DECIMAL(15,2) first — decimal×decimal is exact and HALF_UP then
    // agrees everywhere — and cast back to double for the union.
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        round(col("o_totalprice").cast("decimal(15,2)") *
            lit(new java.math.BigDecimal("1.1")), 2)
          .cast("double").as("o_totalprice"),
        lit(2).as("version"))
    val w = Window.partitionBy("o_orderkey")
      .orderBy(desc("version"))
    base.unionByName(updates)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** S-merge-schema — schema-evolution read: two parquet batches with
    * different (compatible) schemas read back as one table via
    * mergeSchema, missing columns null-filled — the drift story the
    * reference meets with inferSchema + serve-time zero-fill. */
  def sMergeSchema(s: SparkSession, d: String): DataFrame = {
    val tmp = Gate.scratch(s, "merge_schema")
    val n = Tables.nation(s, d)
    n.select("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$tmp/batch1")
    n.select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$tmp/batch2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/batch1", s"$tmp/batch2")
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), count(col("n_regionkey")).as("n_with_region"))
      .orderBy(asc_nulls_first("n_regionkey"))
  }

  /** W5 — remaining rank family: dense_rank, percent_rank, cume_dist
    * over one window (completes W1–W4's row_number/lead/ntile/frames). */
  def w5RankFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(s, d)
      .filter(col("c_custkey") <= 200)
      .select(col("c_custkey"), col("c_mktsegment"),
        dense_rank().over(w).as("drank"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("c_custkey")
  }

  /** A-unpivot — melt wide → long (the inverse of `a_pivot`): a
    * per-flag metrics row fans out to one (metric, value) row per
    * measure. Spark's native `unpivot` is a zero-shuffle generate over
    * the (already tiny, post-aggregate) wide frame — the shape every
    * metrics store / plotting layer wants long-form data in. */
  def aUnpivot(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc"))
    wide.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** A-rollup — hierarchical grouping-sets twin of `a_cube`. */
  def aRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** DQ — data-quality gate over the corpus: key uniqueness, not-null,
    * referential integrity, and a value-range check, one aggregation
    * pass each (graft.ops.Quality; the reference ships the dependency
    * for this and never uses it — SURVEY §5). */
  def dqChecks(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Quality
    val orders = Tables.orders(s, d)
    val customer = Tables.customer(s, d)
    val lineitem = Tables.lineitem(s, d)
    Quality.report(Seq(
      Quality.uniqueCheck(orders, Seq("o_orderkey"), "orders_pk_unique"),
      Quality.uniqueCheck(customer, Seq("c_custkey"), "customer_pk_unique"),
      Quality.uniqueCheck(lineitem, Seq("l_orderkey", "l_linenumber"),
        "lineitem_pk_unique"),
      Quality.notNullCheck(orders, "o_custkey", "orders_custkey_not_null"),
      Quality.fkCheck(orders, "o_custkey", customer, "c_custkey",
        "orders_customer_fk"),
      Quality.fkCheck(lineitem, "l_orderkey", orders, "o_orderkey",
        "lineitem_orders_fk"),
      Quality.rangeCheck(lineitem, "l_discount", 0.0, 0.1,
        "lineitem_discount_range")))
  }

  /** U-SCD2 — history construction over three deterministic snapshot
    * versions of orders: v2 reprices every 7th order (u_upsert's
    * batch), v3 re-lands every 14th — UNCHANGED for most (suppressed:
    * the v2 interval must extend, not fragment), but flipped to status
    * 'X' for every 28th (a real change: v2 closes at valid_to = 3).
    * Output is the per-(version, status, currency) census of the
    * resulting history. */
  def uScd2(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val priced = round(col("o_totalprice").cast("decimal(15,2)") *
        lit(new java.math.BigDecimal("1.1")), 2)
      .cast("double")
    val base = o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"), lit(1).as("version"))
    val v2 = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        priced.as("o_totalprice"), lit(2).as("version"))
    val v3 = o.filter(col("o_orderkey") % 14 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 28 === 0, "X").otherwise("U")
          .as("o_orderstatus"),
        priced.as("o_totalprice"), lit(3).as("version"))
    graft.ops.Scd.scd2History(
        base.unionByName(v2).unionByName(v3),
        keyCols = Seq("o_orderkey"), versionCol = "version",
        trackCols = Seq("o_orderstatus", "o_totalprice"))
      .groupBy("version", "o_orderstatus", "is_current")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("sum_price"))
      .orderBy("version", "o_orderstatus", "is_current")
  }

  /** DQ — key-skew diagnostic over lineitem's supplier key: the
    * measurement that decides whether a join on this key needs salting
    * (graft.ops.Skew.skewStats). One row of exact distribution stats. */
  def dqSkewStats(s: SparkSession, d: String): DataFrame =
    graft.ops.Skew.skewStats(Tables.lineitem(s, d), "l_suppkey", topK = 10)

  /** A-map — metrics-store map columns (the reference stores per-grade
    * F1 and the prediction distribution as Postgres JSONB,
    * model_inference_utils.py:114–115; SURVEY §1.1 maps JSONB to
    * MapType): per-status aggregates packed into two map columns,
    * appended through ParquetMetricsStore, read back, and queried
    * per-key via element_at — the reference's "F1 for grade X last
    * week" access path. */
  def aMapMetrics(s: SparkSession, d: String): DataFrame = {
    // the store APPENDS (one row per weekly eval); the cleared scratch
    // dir keeps re-runs in one process from accumulating rows
    val tmp = Gate.scratch(s, "map_metrics/store")
    val per = Tables.orders(s, d).groupBy(col("o_orderstatus").as("g"))
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 4).as("v"))
    val row = per.agg(
      map_from_entries(sort_array(collect_list(struct(col("g"), col("v")))))
        .as("f1_by_grade"),
      map_from_entries(sort_array(collect_list(struct(col("g"), col("n")))))
        .as("predictions_distribution"))
      .select(lit("2024-01-07").as("week_date"), lit("lgbm").as("model_name"),
        col("f1_by_grade"), col("predictions_distribution"))
    val store = new graft.sources.ParquetMetricsStore(tmp)
    store.append(row)
    store.read(s).select(
      col("week_date"), col("model_name"),
      element_at(col("f1_by_grade"), "F").as("avg_f"),
      element_at(col("f1_by_grade"), "O").as("avg_o"),
      element_at(col("f1_by_grade"), "P").as("avg_p"),
      element_at(col("predictions_distribution"), "F").as("n_f"),
      element_at(col("predictions_distribution"), "O").as("n_o"),
      element_at(col("predictions_distribution"), "P").as("n_p"),
      size(col("f1_by_grade")).as("n_grades"))
      .orderBy("week_date")
  }

  /** F1–F8 — scalar function battery: CASE WHEN, date trunc/extract,
    * months_between, trim/upper/coalesce, regexp_extract (SURVEY §2.3). */
  def fScalarFns(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 500)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 200000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("price_band"),
        date_format(trunc(col("o_orderdate"), "MM"), "yyyy-MM-dd").as("order_month"),
        round(months_between(ts("2002-01-01 00:00:00"), col("o_orderdate")), 6).as("months_ago"),
        upper(trim(col("o_orderpriority"))).as("prio_norm"),
        coalesce(col("o_orderstatus"), lit("MISSING")).as("status_filled"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).cast("int").as("prio_rank"))
      .orderBy("o_orderkey")

  /** J7 — skew-salted equi-join: lineitem⋈orders on the order key
    * through Skew.saltedJoin (salt factor 8). Salting is pure shuffle
    * topology — the big side's rows spread over 8 sub-keys per join
    * key, the small side replicates across them — so the result is
    * row-identical to the plain join, which is exactly what the oracle
    * recomputes. The mitigation for the single-hot-key stragglers AQE's
    * skew split can't break up. */
  def j7SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.ops.Skew.saltedJoin(l, o, Seq("l_orderkey"), saltFactor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** A-grouping-sets — a custom aggregation lattice: (status, priority)
    * detail, per-status subtotal, and grand total in ONE pass — the
    * lattice cube/rollup can't express when only selected combinations
    * are wanted (cube would add the per-priority slice nobody asked
    * for, paying its aggregation). Through the SQL interface: GROUPING
    * SETS has no stable DataFrame-API counterpart. */
  def aGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 4) AS sum_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        |""".stripMargin)
  }

  /** W6 — RANGE-frame window: per-customer trailing-30-day order total.
    * Unlike the w3 ROWS frame (which counts physical rows), a RANGE
    * frame bounds by VALUE distance on the ordering key — same-second
    * ties all enter the frame together, and gaps in time shrink it.
    * Ordered on epoch seconds so the frame bound is plain integer
    * arithmetic both engines share. */
  def w6RangeFrame(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_custkey") <= 200)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("es"), col("o_totalprice"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("es")
      .rangeBetween(-30L * 86400, 0)
    o.select(col("o_custkey"), col("o_orderkey"),
        round(sum("o_totalprice").over(w), 4).as("trailing_30d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** DQ-profile — ONE-pass column profiling: per-column null count,
    * distinct count, and min/max, melted to one row per column — the
    * ingest-time profile a data-quality gate reads before rules exist.
    * One aggregation job over the table. Distinct counting is
    * approx_count_distinct (HLL++, rsd 2%) BY DEFAULT: an exact count
    * must carry every distinct value of every column to the final
    * aggregate, so at 100 TB the profile would cost more than the
    * queries it guards. A profile tolerates ±2% on distinct counts by
    * nature (it feeds alerts, not answers); `exact = true` keeps the
    * exact variant for small tables and for the DuckDB oracle gate
    * (spec pins approx within 5% of exact). It counts each column's
    * `collect_set`, not a `countDistinct`: Spark rewrites several
    * distinct aggregates into an Expand whose projections it orders by
    * a hash over expression ids, so that plan's generated code was new,
    * and compiled again, on every run. min/max are cast AFTER
    * aggregation so numeric columns order numerically, not
    * lexicographically. */
  def dqProfile(s: SparkSession, d: String, exact: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, d)
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    val aggs = cols.flatMap { c => Seq(
      count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
      (if (exact) size(collect_set(col(c))).cast("long")
       else approx_count_distinct(col(c), 0.02)).as(s"${c}__distinct"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")) }
    val one = docs.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c => struct(lit(c).as("col_name"),
      col(s"${c}__nulls").as("n_null"),
      col(s"${c}__distinct").as("n_distinct"),
      col(s"${c}__min").as("min_val"),
      col(s"${c}__max").as("max_val")) }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("col_name")
  }

  /** A12 — approximate quantiles under their RANK-ERROR contract:
    * `percentile_approx(acc)` (Spark's Greenwald–Khanna variant)
    * guarantees the returned value's rank lies within ±n/acc of the
    * target rank — the one-pass, mergeable, bounded-state answer to
    * "what's the p50/p99" over 10¹² rows, where an exact percentile
    * needs a sort or a full value histogram. The gate checks the
    * CONTRACT, not the value (the value is sketch-internal): for each
    * q, count(v ≤ approx) must reach ⌊(q − ε)·n⌋ and count(v < approx)
    * must not pass ⌈(q + ε)·n⌉ — the ≤/< pair makes the check
    * tie-robust. The oracle pins every flag 1 (plus n_rows, so the
    * gate is data-dependent): a sketch whose error exceeds its bound
    * flips a flag → hash mismatch. Two passes: sketch+count, then one
    * flag aggregation against the 1-row broadcast. */
  def a12ApproxQuantiles(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("v"))
    val qs = Seq(0.25, 0.5, 0.75)
    val acc = 10000
    val eps = 1.0 / acc
    val one = o.agg(
      percentile_approx(col("v"), array(qs.map(lit): _*), lit(acc)).as("_aq"),
      count(lit(1)).as("_n"))
    val aggs = qs.indices.flatMap { i =>
      Seq(sum(when(col("v") <= col("_aq").getItem(i), 1L).otherwise(0L))
          .as(s"_le$i"),
        sum(when(col("v") < col("_aq").getItem(i), 1L).otherwise(0L))
          .as(s"_lt$i"))
    } :+ first(col("_n")).as("_n")
    val counted = o.crossJoin(broadcast(one))
      .agg(aggs.head, aggs.tail: _*)
    val rows = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("q"), col("_n").as("n_rows"),
        when(col(s"_le$i") >= floor((lit(q) - eps) * col("_n")) &&
          col(s"_lt$i") <= ceil((lit(q) + eps) * col("_n")), 1)
          .otherwise(0).as("rank_ok"))
    }
    counted.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("q")
  }

  /** J8 — full outer join: customers (slice ≤ 1000) against per-customer
    * order counts; rows classify as both / customer_only / order_only —
    * the reconciliation shape (which side is missing what). Same
    * shuffled equi-join as inner; FULL OUTER only changes null
    * preservation, not the exchange plan. */
  def j8FullOuter(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
      .filter(col("c_custkey") <= 1000)
    val o = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("both").as("side"))
      .groupBy("side").agg(count(lit(1)).as("n"))
      .orderBy("side")
  }

  /** A10 — approximate distinct count (HyperLogLog++): the map-side-
    * combinable sketch that replaces exact countDistinct's
    * expand-then-shuffle at 100 TB (a distinct over 10¹¹ keys shuffles
    * the key set; the HLL sketch is a few KB per group regardless).
    * Oracle-gated like r1: DuckDB recomputes the exact count and the
    * query pins the approx estimate to within ±5% of it (rsd = 2%, so a
    * healthy sketch clears 5% with overwhelming margin; a broken one
    * flips the flag → hash mismatch). The raw estimate is
    * engine-specific (HLL register layout), hence gated, not
    * value-compared.
    *
    * The exact and approx aggregates run as SEPARATE aggregations
    * joined on the (3-row) group key: combined in one `agg`, Spark
    * rewrites countDistinct+other as a first aggregate keyed by
    * (group, distinct value) that carries the other function's partial
    * buffer per group — and the rsd=2% HLL buffer is ~412 longs, so
    * ~450 k (returnflag, orderkey) groups dragged ~1.5 GB through the
    * first exchange (measured 3.4 s; split: two clean pruned scans,
    * each exchange carrying only its own partials). */
  def a10ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select("l_returnflag", "l_orderkey")
    val exact = l.groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))
    val approx = l.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("_approx"))
    exact.join(approx, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        when(abs(col("_approx") - col("n_exact")) <=
          col("n_exact") * lit(0.05), 1).otherwise(0).as("approx_ok"))
      .orderBy("l_returnflag")
  }

  /** Heavy hitters over a column: items occurring in more than
    * `support` fraction of rows, with the exact count AND whether the
    * one-pass sketch surfaced them. `freqItems` is Spark's Karp/
    * Misra–Gries-family counter map — per-partition state bounded by
    * 1/support entries, merged on the driver, NO shuffle of the value
    * set — which is how "what are the hot n-grams/URLs/licenses" is
    * answered over 10¹² rows (an exact groupBy shuffles every distinct
    * value; the sketch ships ≤ 1/support counters per partition). The
    * sketch's contract is superset-only (no false negatives above
    * support, false positives possible), so the gate pins
    * `in_sketch = 1` on every EXACT hot item: a sketch that drops a
    * true heavy hitter flips the flag → hash mismatch, while the
    * sketch's extra candidates are simply not rows here. */
  def heavyHitters(values: DataFrame, c: String, support: Double): DataFrame = {
    // TWO passes over the raw values, not three: the exact count table
    // is snapshotted once (localCheckpoint — bounded by the vocabulary,
    // which the groupBy shuffles anyway) and serves both the total (a
    // 1-row reduction of it) and the hot-list filter; the sketch pass
    // over the raw stream is inherent. values.count() as a third full
    // scan was pure waste — the total is already in the counts.
    val counts = values.groupBy(c).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totalRow = counts.agg(sum(col("n"))).first()
    if (totalRow.isNullAt(0)) return counts.withColumn("in_sketch", lit(1))
    val total = totalRow.getLong(0)
    val sketch = values.stat.freqItems(Array(c), support)
      .first().getSeq[Any](0)
    counts.filter(col("n") > lit(support * total))
      .withColumn("in_sketch",
        when(col(c).isin(sketch: _*), 1).otherwise(0))
  }

  /** A11 — hot tokens of the document corpus (support 1%): the exact
    * hot list (oracle-recomputable) flagged with the sketch's verdict.
    * Support chosen with ≥ 245-count margin to the nearest token count
    * at every test SF, so the strict-`>` threshold can never straddle
    * an engine-rounding boundary. */
  def a11HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
    heavyHitters(toks, "tok", 0.01)
      .orderBy("tok")
  }

  // ---- Gates: each plan with the DuckDB SQL that checks it ----------

  val gates: Seq[Gate] = Seq(
    Gate("q1_agg", q1Agg,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("s3_parquet_scan", s3ParquetScan,
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    Gate("p2_select", p2Select,
      "SELECT c_custkey, c_mktsegment FROM customer ORDER BY c_custkey"),
    Gate("p5_between", p5Between,
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("p6p7p8_predicates", p6p7p8Predicates,
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_custkey IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),
    Gate("f_scalar_fns", fScalarFns,
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'high'
        |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS price_band,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
        |  round((2002 - year(o_orderdate)) * 12 + (1 - month(o_orderdate))
        |    + CASE WHEN day(o_orderdate) = 1 THEN 0.0
        |           ELSE (1 - day(o_orderdate)) / 31.0 END, 6) AS months_ago,
        |  upper(trim(o_orderpriority)) AS prio_norm,
        |  coalesce(o_orderstatus, 'MISSING') AS status_filled,
        |  CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS INTEGER) AS prio_rank
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin),
    Gate("a1_mode", a1Mode,
      """SELECT o_orderpriority FROM orders GROUP BY o_orderpriority
        |ORDER BY count(*) DESC, o_orderpriority ASC LIMIT 1""".stripMargin),
    Gate("a2_mean", a2Mean,
      "SELECT round(avg(l_quantity), 6) AS avg_qty FROM lineitem"),
    Gate("a4_topk_freq", a4TopK,
      """SELECT p_brand, count(*) AS cnt FROM part GROUP BY p_brand
        |ORDER BY cnt DESC, p_brand ASC LIMIT 10""".stripMargin),
    Gate("a5_distinct", a5Distinct,
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"),
    Gate("a6_summary", a6Summary,
      """SELECT c_mktsegment,
        |  count(*) AS n,
        |  round(avg(c_acctbal), 6) AS avg_bal,
        |  round(min(c_acctbal), 4) AS min_bal,
        |  round(max(c_acctbal), 4) AS max_bal,
        |  round(stddev(c_acctbal), 6) AS std_bal,
        |  round(sum(c_acctbal), 4) AS sum_bal
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY avg_bal DESC, c_mktsegment ASC""".stripMargin),
    Gate("a9_percentile", a9Percentile,
      """SELECT
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        |  round(quantile_cont(o_totalprice, 0.90), 4) AS p90
        |FROM orders""".stripMargin),
    Gate("j1_left_join", j1LeftJoin,
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  round(sum(c_acctbal), 4) AS sum_bal
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    Gate("j2_inner_join", j2InnerJoin,
      """SELECT o_orderstatus, count(*) AS n_lines,
        |  round(sum(l_extendedprice), 4) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Gate("j3_semi_join", j3SemiJoin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("j4_anti_join", j4AntiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Gate("o1_topk_limit", o1TopkLimit,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    Gate("u2_union", u2Union,
      """SELECT o_orderstatus, count(*) AS n FROM (
        |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |) GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Gate("w1_row_number", w1RowNumber,
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk = 1 ORDER BY o_custkey""".stripMargin),
    Gate("w2_in_subquery", w2InSubquery,
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS o_day, count(*) AS n,
        |  round(sum(o_totalprice), 4) AS sum_price
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) IN (
        |  SELECT DISTINCT CAST(o_orderdate AS DATE) FROM orders
        |  ORDER BY 1 DESC LIMIT 30)
        |GROUP BY 1 ORDER BY o_day""".stripMargin),
    Gate("w3_running_sum", w3RunningSum,
      """SELECT l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_qty,
        |  lag(l_quantity, 1) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS prev_qty
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("r3_distinct", r3Distinct,
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("f2_date_parse", f2DateParse,
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%b-%Y') AS mmm_yyyy,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS parsed,
        |  round((2002 - year(o_orderdate)) * 12 + (1 - month(o_orderdate)), 6) AS months_since
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin),
    Gate("a_cube", aCube,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    Gate("s6_csv_roundtrip", s6CsvRoundtrip,
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 4) AS sum_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    Gate("a_pivot", aPivot,
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f,
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("u3_intersect_except", u3IntersectExcept,
      """WITH early AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |late AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_custkey, 'both' AS set_op FROM (SELECT * FROM early INTERSECT SELECT * FROM late)
        |UNION ALL
        |SELECT o_custkey, 'early_only' FROM (SELECT * FROM early EXCEPT SELECT * FROM late)
        |ORDER BY set_op, o_custkey""".stripMargin),
    Gate("w4_lead_ntile", w4LeadNtile,
      """SELECT o_custkey, o_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey,
        |  ntile(4) OVER w AS quartile
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Gate("s9_json_roundtrip", s9JsonRoundtrip,
      """SELECT n_regionkey, count(*) AS n FROM nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    Gate("s5_orc_roundtrip", s5OrcRoundtrip,
      """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 4) AS sum_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Gate("s5_partitioned_roundtrip", s5PartitionedRoundtrip,
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS sum_price
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Gate("q1_typed", q1Typed,
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q3_shipping", q3Shipping,
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    Gate("q5_local_supplier", q5LocalSupplier,
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin),
    Gate("u_upsert", uUpsert,
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
        |  FROM orders),
        |upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 1.1, 2) AS DOUBLE)
        |      AS o_totalprice, 2 AS version
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
        |latest AS (SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        |  FROM u) WHERE rn = 1)
        |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS sum_price
        |FROM latest GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Gate("s_merge_schema", sMergeSchema,
      """WITH m AS (
        |  SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation)
        |SELECT n_regionkey, count(*) AS n, count(n_regionkey) AS n_with_region
        |FROM m GROUP BY n_regionkey ORDER BY n_regionkey NULLS FIRST""".stripMargin),
    Gate("dq_checks", dqChecks,
      """WITH checks AS (
        |  SELECT 'orders_pk_unique' AS check,
        |    count(*) - count(DISTINCT o_orderkey) AS violations FROM orders
        |  UNION ALL SELECT 'customer_pk_unique',
        |    count(*) - count(DISTINCT c_custkey) FROM customer
        |  UNION ALL SELECT 'lineitem_pk_unique',
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
        |  UNION ALL SELECT 'orders_custkey_not_null',
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders
        |  UNION ALL SELECT 'orders_customer_fk', count(*) FROM orders o
        |    WHERE o_custkey IS NOT NULL AND NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL SELECT 'lineitem_orders_fk', count(*) FROM lineitem l
        |    WHERE l_orderkey IS NOT NULL AND NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL SELECT 'lineitem_discount_range',
        |    count(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 END)
        |    FROM lineitem)
        |SELECT "check", CAST(violations AS BIGINT) AS violations,
        |  violations = 0 AS passed
        |FROM checks ORDER BY "check"""".stripMargin),
    Gate("w5_rank_family", w5RankFamily,
      """SELECT c_custkey, c_mktsegment,
        |  dense_rank() OVER w AS drank,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM customer WHERE c_custkey <= 200
        |WINDOW w AS (PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin),
    Gate("a_rollup", aRollup,
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    Gate("a_stats_corr", aStatsCorr,
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Gate("a_map_metrics", aMapMetrics,
      """SELECT '2024-01-07' AS week_date, 'lgbm' AS model_name,
        |  round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4) AS avg_f,
        |  round(avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS avg_o,
        |  round(avg(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4) AS avg_p,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
        |  CAST(count(DISTINCT o_orderstatus) AS INTEGER) AS n_grades
        |FROM orders ORDER BY week_date""".stripMargin),
    // A10: the HLL estimate is engine-specific, so the oracle pins the
    // exact counts plus the within-5%-of-exact flag (rsd = 2%).
    Gate("a10_approx_distinct", a10ApproxDistinct,
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact, 1 AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // the GK sketch's rank-error contract pinned: every flag 1, n_rows
    // data-dependent — a sketch past its ±n/acc bound flips a flag
    Gate("a12_approx_quantiles", a12ApproxQuantiles,
      """SELECT q, (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
        |  1 AS rank_ok
        |FROM (SELECT unnest([0.25, 0.5, 0.75]) AS q) ORDER BY q""".stripMargin),
    // exact hot set recomputed; in_sketch pinned to 1 — freqItems'
    // contract is superset-above-support, so any 0 is a sketch bug
    Gate("a11_heavy_hitters", a11HeavyHitters,
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM t)
        |SELECT tok, count(*) AS n, 1 AS in_sketch
        |FROM t GROUP BY tok
        |HAVING count(*) > 0.01 * (SELECT n FROM tot)
        |ORDER BY tok""".stripMargin),
    // J7: salting is shuffle topology only — the oracle is the PLAIN
    // join + aggregate the salted plan must be row-identical to.
    Gate("j7_salted_join", j7SaltedJoin,
      """SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // S-compact: compaction is a file-layout rewrite only — the oracle
    // recomputes the aggregate from the ORIGINAL table.
    Gate("s_compact_roundtrip", sCompactRoundtrip,
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Gate("s_zorder_roundtrip", sZorderRoundtrip,
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_pk,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // exact distinct counts: the gate value-compares against DuckDB's
    // exact COUNT(DISTINCT); the operator's scale default is approx
    // (spec pins approx within 5% of exact)
    Gate("dq_profile", (s, dir) => dqProfile(s, dir, exact = true),
      """SELECT * FROM (
        |  SELECT 'doc_id' AS col_name, count(*) - count(doc_id) AS n_null,
        |    count(DISTINCT doc_id) AS n_distinct,
        |    CAST(min(doc_id) AS VARCHAR) AS min_val,
        |    CAST(max(doc_id) AS VARCHAR) AS max_val FROM documents
        |  UNION ALL SELECT 'lang', count(*) - count(lang),
        |    count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
        |    CAST(max(lang) AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'source', count(*) - count(source),
        |    count(DISTINCT source), CAST(min(source) AS VARCHAR),
        |    CAST(max(source) AS VARCHAR) FROM documents
        |  UNION ALL SELECT 'n_chars', count(*) - count(n_chars),
        |    count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
        |    CAST(max(n_chars) AS VARCHAR) FROM documents)
        |ORDER BY col_name""".stripMargin),
    Gate("j8_full_outer", j8FullOuter,
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey <= 1000),
        |o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
        |SELECT side, count(*) AS n FROM (
        |  SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only'
        |    WHEN o.o_custkey IS NULL THEN 'customer_only'
        |    ELSE 'both' END AS side
        |  FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey)
        |GROUP BY side ORDER BY side""".stripMargin),
    // W6: RANGE (value-bounded) frame on epoch seconds; floor() on the
    // oracle side per gotcha 6 (unix_timestamp truncates to seconds).
    Gate("w6_range_frame", w6RangeFrame,
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 4) AS trailing_30d
        |FROM orders WHERE o_custkey <= 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Gate("a_grouping_sets", aGroupingSets,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 4) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    Gate("a_unpivot", aUnpivot,
      """WITH a AS (SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
        |    round(sum(l_extendedprice), 4) AS sum_price,
        |    round(avg(l_discount), 6) AS avg_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
        |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
        |  UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM a)
        |ORDER BY l_returnflag, metric""".stripMargin),
    // DQ-skew: exact key-count distribution stats; sums cast (gotcha 19)
    Gate("dq_skew_stats", dqSkewStats,
      """WITH c AS (SELECT l_suppkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
        |top AS (SELECT CAST(sum(n) AS BIGINT) AS top_n
        |  FROM (SELECT n FROM c ORDER BY n DESC, k LIMIT 10)),
        |agg AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |  max(n) AS max_n, round(avg(n), 4) AS mean_n,
        |  round(max(n) / avg(n), 4) AS skew_ratio FROM c)
        |SELECT n_keys, n_rows, max_n, mean_n, skew_ratio,
        |  round(top_n * 1.0 / n_rows, 6) AS top_share
        |FROM agg, top""".stripMargin),
    // U-SCD2: the change-suppressed interval build recomputed from
    // scratch (lag change filter → lead valid_to → census)
    Gate("u_scd2", uScd2,
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders),
        |v2 AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 1.1, 2) AS DOUBLE) AS o_totalprice,
        |    2 AS version FROM orders WHERE o_orderkey % 7 = 0),
        |v3 AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 28 = 0 THEN 'X' ELSE 'U' END AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 1.1, 2) AS DOUBLE) AS o_totalprice,
        |    3 AS version FROM orders WHERE o_orderkey % 14 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3),
        |chg AS (SELECT o_orderkey, o_orderstatus, o_totalprice, version FROM (
        |  SELECT *, lag(o_orderstatus) OVER w AS _ps, lag(o_totalprice) OVER w AS _pp
        |  FROM u WINDOW w AS (PARTITION BY o_orderkey ORDER BY version))
        |  WHERE _ps IS NULL OR _ps <> o_orderstatus OR _pp <> o_totalprice),
        |hist AS (SELECT version, o_orderstatus, o_totalprice,
        |    lead(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to
        |  FROM chg)
        |SELECT version, o_orderstatus,
        |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT) AS is_current,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 4) AS sum_price
        |FROM hist GROUP BY 1, 2, 3
        |ORDER BY version, o_orderstatus, is_current""".stripMargin)
  )
}
