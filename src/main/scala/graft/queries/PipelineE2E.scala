package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{Gold, Schemas, Silver}

/** End-to-end credit-pipeline smoke reachable from the driver surface:
  * synthesizes the four raw sources deterministically (no external
  * fixtures), runs silver → gold → feature/label stores, and emits
  * summary stats. Rows-only check (the full mode/mean-imputation chain
  * is not reasonably SQL-expressible in one oracle query); invariants
  * are asserted in PipelineSpec.
  */
object PipelineE2E {

  private[queries] def gen(spark: SparkSession, schema: StructType, n: Int): DataFrame = {
    val special: Map[String, Column] = {
      val id = col("row_id")
      Map(
        "member_id" -> concat(lit("m"), (id % 75).cast("string")),
        "id" -> concat(lit("loan"), id.cast("string")),
        "snapshot_date" -> date_add(to_date(lit("2023-01-01")),
          (((id / 75).cast("long") % 4) * 7).cast("int")),
        "earliest_cr_line" -> when(id % 11 === 3, lit(null)).otherwise(
          concat(element_at(array(Seq("Jan", "Mar", "Aug", "Nov").map(lit): _*),
            (id % 4 + 1).cast("int")), lit("-"), (lit(1999) + id % 20).cast("string"))),
        "emp_length" -> element_at(
          array(Seq("10+ years", "< 1 year", "3 years", "7 years", "missing")
            .map(lit) :+ lit(null).cast("string"): _*), (id % 6 + 1).cast("int")),
        "term" -> element_at(array(lit("36 months"), lit("60 months")), (id % 2 + 1).cast("int")),
        "grade" -> when(id % 13 === 5, lit(null)).otherwise(
          element_at(array("ABCDEFG".map(ch => lit(ch.toString)): _*), (id % 7 + 1).cast("int"))),
        "home_ownership" -> element_at(
          array(Schemas.homeOwnershipCats.take(5).map(lit) :+ lit(null).cast("string"): _*),
          (id % 6 + 1).cast("int")),
        "verification_status" -> element_at(
          array(Schemas.verificationStatusCats.map(lit): _*), (id % 3 + 1).cast("int")),
        "application_type" -> element_at(
          array(Schemas.applicationTypeCats.map(lit): _*), (id % 2 + 1).cast("int")),
        "addr_state" -> element_at(
          array(Seq("CA", "NY", "TX", "WA").map(lit): _*), (id % 4 + 1).cast("int")),
        "purpose" -> element_at(
          array(Seq("car", "house", "debt", "other").map(lit): _*), (id % 4 + 1).cast("int")),
        "loan_status" -> element_at(
          array(Seq("Current", "Fully Paid", "Charged Off").map(lit): _*), (id % 3 + 1).cast("int")),
        "pymnt_plan" -> element_at(array(lit("y"), lit("n")), (id % 2 + 1).cast("int")),
        "debt_settlement_flag" -> element_at(array(lit("Y"), lit("N")), (id % 2 + 1).cast("int")),
        "initial_list_status" -> element_at(array(lit("w"), lit("f")), (id % 2 + 1).cast("int")),
        "disbursement_method" -> element_at(array(lit("Cash"), lit("DirectPay")), (id % 2 + 1).cast("int")))
    }
    // a few hundred synthetic rows don't need the session's default
    // parallelism: 4 partitions keeps every one of the gate queries'
    // ~30 downstream jobs at 4 tasks instead of 32 (pure scheduler
    // overhead at that size; real sources size their own partitions).
    // The medallion SCALE probe reuses this generator at n up to 500k+,
    // where a pinned 4 would measure a 4-task scan bottleneck instead
    // of the pipeline — grow with n, capped at 32 (the probe/parity
    // local[32] shape). ParityRun's 600k fixture moved 4 → 32 partitions
    // under this change and its macro-F1 stayed bit-identical (0.8882,
    // re-anchored round 17): at this row count Spark's tree findSplits
    // samples at fraction 1, so the fit is layout-independent.
    val parts = math.max(4, math.min(32, n / 10000))
    val base = spark.range(0L, n.toLong, 1L, parts).toDF("row_id")
    base.select(schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      special.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse {
        val v: Column = f.dataType match {
          case IntegerType => ((col("row_id") * 7 + i) % 20).cast("int")
          case FloatType => (((col("row_id") * 13 + i) % 300) / 7.0).cast("float")
          case DateType => date_add(to_date(lit("2023-01-01")), ((col("row_id") + i) % 28).cast("int"))
          case _ => concat(lit(s"v${i}_"), (col("row_id") % 9).cast("string"))
        }
        when((col("row_id") + i) % 11 === 0, lit(null)).otherwise(v).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** Where this process parquet-dumps the e2e oracle inputs (same
    * pid-scoped tmp convention as the round-trip queries): the four gold
    * tables plus the loan silver are fully deterministic, so DuckDB can
    * recompute the store assembly — join, distinct, grade filter, label
    * counts — independently and hash-check the result. */
  def oracleDumpDir: String = s"${Gate.scratchRoot}/pipeline_e2e"

  /** Model-quality parity fixture (NOTES "Model-quality parity"): the
    * e2e silver→gold store assembly at arbitrary scale with a
    * LEARNABLE grade. The e2e generator's grade is a pure row-id
    * residue — right for plumbing oracles (deterministic, simple),
    * wrong for a quality measurement: no feature determines it, so any
    * trained model scores chance and the macro-F1 would measure
    * nothing. Here grade is re-derived from the loan's own numeric
    * features (an additive int_rate/installment/loan_amnt score cut
    * into 7 equal bands) with a deterministic ~10%-of-rows off-by-one
    * band shift as label noise — credit-shaped, RNG-free, and
    * Bayes-bounded below 1.0, so a trainer must actually learn
    * additive thresholds the way the reference's LightGBM learns real
    * credit grades. The noise rows are elected by xxhash64 of the loan
    * id, NOT a row-id residue: every generated feature is a mod-300
    * residue of the row id, so any modular rule (an earlier draft used
    * rid % 10 — and 10 divides 300) is fully recoverable from the
    * features and the "noise" learns away to a measured macro-F1 of
    * exactly 1.0; the hash is independent of every feature, making the
    * corruption irreducible. Returns featureStore ⋈ labelStore on the
    * loan id: all-numeric features + id + the grade letter. */
  def parityFrame(s: SparkSession, nLoans: Int, nDims: Int = 300): DataFrame = {
    val rawLoan = gen(s, Schemas.loanTermsRaw, nLoans)
    // score range ≈ [0, 45.7] given gen's float residues; 6.6-wide bands
    // spread all 7 grades
    val score = coalesce(col("int_rate"), lit(0.0f)) +
      coalesce(col("installment"), lit(0.0f)) / 20.0f +
      coalesce(col("loan_amnt"), lit(0.0f)) / 50.0f
    val band = least(lit(6), floor(score / 6.6).cast("int"))
    val noisy = when(pmod(xxhash64(col("id")), lit(10L)) === 0L,
      (band + 1) % 7).otherwise(band)
    val learnable = rawLoan.withColumn("grade",
      element_at(array("ABCDEFG".map(c => lit(c.toString)): _*), noisy + 1))
    val loanSilver = Silver.loanTerms(learnable)
    val gl = Gold.loanTerms(loanSilver,
      Seq("car", "house", "debt", "other"),
      Seq("Current", "Fully Paid", "Charged Off"))
    val gd = Gold.demographic(
      Silver.demographic(gen(s, Schemas.demographicRaw, nDims)),
      Seq("CA", "NY", "TX", "WA"))
    val gf = Gold.financial(Silver.financial(gen(s, Schemas.financialRaw, nDims)))
    val gc = Gold.creditHistory(
      Silver.creditHistory(gen(s, Schemas.creditHistoryRaw, nDims)))
    Gold.featureStore(gl, gd, gf, gc)
      .join(Gold.labelStore(loanSilver).select("id", "grade"), Seq("id"))
  }

  /** Full bronze→silver→gold→stores run over synthesized sources. */
  def featureStoreStats(s: SparkSession, d: String): DataFrame = {
    // dims: exactly one row per (member_id, snapshot_date) = 75 x 4;
    // loans: 2 per member-week (spine keyed by loan id)
    // silver outputs cache: each feeds multiple downstream actions
    // (mode/mean statistics jobs + the store build + stats counts)
    // every silver output feeds a statistics collect (top-K / mode /
    // mean) AND the store build — cache each so the clean chain runs
    // once. The four source preps are independent multi-job chains, so
    // they are SUBMITTED CONCURRENTLY (Spark's scheduler interleaves
    // jobs from one session) instead of serializing their fixed per-job
    // overhead — the same pattern a production driver uses for
    // independent table builds. The pool is a DEDICATED bounded one (4
    // threads, one per source), not the unbounded global default: a
    // production driver owns its submission parallelism explicitly.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val (loanSilver, gl, demoSilver, gd, finSilver, gf, creditSilver, gc) =
      try {
        val nDim = 300
        val fLoan = Future {
          val silver = Silver.loanTerms(gen(s, Schemas.loanTermsRaw, 600)).cache()
          (silver, Gold.loanTerms(silver,
            Seq("car", "house", "debt", "other"),
            Seq("Current", "Fully Paid", "Charged Off")))
        }
        val fDemo = Future {
          val silver = Silver.demographic(gen(s, Schemas.demographicRaw, nDim)).cache()
          (silver, Gold.demographic(silver, Seq("CA", "NY", "TX", "WA")))
        }
        val fFin = Future {
          val silver = Silver.financial(gen(s, Schemas.financialRaw, nDim)).cache()
          (silver, Gold.financial(silver))
        }
        val fCredit = Future {
          val silver = Silver.creditHistory(gen(s, Schemas.creditHistoryRaw, nDim)).cache()
          (silver, Gold.creditHistory(silver))
        }
        val (ls, l) = Await.result(fLoan, Duration.Inf)
        val (ds, dm) = Await.result(fDemo, Duration.Inf)
        val (fs_, f) = Await.result(fFin, Duration.Inf)
        val (cs, c) = Await.result(fCredit, Duration.Inf)
        (ls, l, ds, dm, fs_, f, cs, c)
      } finally pool.shutdown()
    // oracle inputs out before the store build (also materializes the
    // silver caches the stats actions below reuse)
    Seq("gold_loan" -> gl, "gold_demo" -> gd, "gold_fin" -> gf,
      "gold_credit" -> gc, "silver_loan" -> loanSilver).foreach {
      case (n, df) => df.write.mode("overwrite").parquet(s"$oracleDumpDir/$n")
    }
    // cache before the multi-action stats: count + grade-dist + label
    // count would otherwise recompute the whole impute/join lineage each
    val fs = Gold.featureStore(gl, gd, gf, gc).cache()
    val ls = Gold.labelStore(loanSilver).cache()
    val fsCount = fs.count()
    val lsGrades = ls.groupBy("grade").count().orderBy("grade")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
    import s.implicits._
    val out = Seq((fsCount, fs.columns.length.toLong, ls.count(), lsGrades))
      .toDF("feature_rows", "feature_cols", "label_rows", "grade_dist")
    fs.unpersist(); ls.unpersist()
    Seq(loanSilver, demoSilver, finSilver, creditSilver).foreach(_.unpersist())
    out
  }

  // ---- Gates: each plan with the DuckDB SQL that checks it ----------

  /** pipeline_e2e oracle: the query parquet-dumps its deterministic gold
    * tables + loan silver (oracleDumpDir, same process so the
    * pid-scoped path matches), and DuckDB independently recomputes the
    * store assembly — 3 left joins, full-row distinct, grade filter,
    * label counts, grade distribution. feature_cols is derived from the
    * dumped schemas (join width minus the 3 dropped key/label columns),
    * so a silent schema change fails the hash. */
  private def pipelineE2ESql: String = {
    val t = oracleDumpDir
    s"""WITH lab AS (SELECT grade, count(*) AS n
       |  FROM read_parquet('$t/silver_loan/*.parquet')
       |  WHERE grade IS NOT NULL GROUP BY grade),
       |j AS (SELECT * FROM read_parquet('$t/gold_loan/*.parquet') l
       |  LEFT JOIN read_parquet('$t/gold_demo/*.parquet') dm USING (member_id, snapshot_date)
       |  LEFT JOIN read_parquet('$t/gold_fin/*.parquet') f USING (member_id, snapshot_date)
       |  LEFT JOIN read_parquet('$t/gold_credit/*.parquet') c USING (member_id, snapshot_date))
       |SELECT
       |  (SELECT count(*) FROM (SELECT DISTINCT * FROM j WHERE grade IS NOT NULL)) AS feature_rows,
       |  (SELECT count(*) FROM (DESCRIBE SELECT * FROM read_parquet('$t/gold_loan/*.parquet')))
       |   + (SELECT count(*) - 2 FROM (DESCRIBE SELECT * FROM read_parquet('$t/gold_demo/*.parquet')))
       |   + (SELECT count(*) - 2 FROM (DESCRIBE SELECT * FROM read_parquet('$t/gold_fin/*.parquet')))
       |   + (SELECT count(*) - 2 FROM (DESCRIBE SELECT * FROM read_parquet('$t/gold_credit/*.parquet')))
       |   - 3 AS feature_cols,
       |  (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM lab) AS label_rows,
       |  (SELECT string_agg(grade || ':' || n, ',' ORDER BY grade) FROM lab) AS grade_dist""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("pipeline_e2e", featureStoreStats, pipelineE2ESql)
  )
}
