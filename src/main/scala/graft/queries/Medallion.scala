package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Gold, Schemas, Silver}

/** FULL-FRAME oracle gates over the medallion pipeline — the row-level
  * strengthening of `pipeline_e2e`'s 1-row digest (round-17 verdict #1).
  *
  * Each gate synthesizes its raw source deterministically
  * ([[PipelineE2E.gen]], same sizes as the e2e composite), parquet-dumps
  * the INPUT frame for the oracle, runs exactly one medallion layer, and
  * returns the layer's FULL output frame — every row, every column — so
  * the driver's hash compare checks value-level semantics (a mode/mean
  * imputation or OHE drift that preserves row counts now hash-fails).
  * DuckDB independently replays the layer from the dumped input:
  *   - raw → silver, one gate per cleaner (silver_credit_history.py,
  *     silver_demographic.py, silver_financial.py, silver_loan_terms.py):
  *     drops, missing flags, MMM-yyyy date parse, months_between,
  *     const/mode/mean imputes, binary encodes;
  *   - silver → gold, one gate per featurizer (gold_loan_terms.py,
  *     gold_feature_store.py:65–146, gold_financial.py): term digits,
  *     grade label map, fixed-dictionary + top-10 OHE, emp_length parse,
  *     month-truncated month diff, double casts;
  *   - gold → stores (gold_feature_store.py:288–350,
  *     gold_label_store.py:40–42): the 3-way left join + distinct +
  *     grade filter with ALL ~115 feature columns in the hash, and the
  *     label store.
  *
  * Gate-level portability projection: DATE columns are emitted as ISO
  * strings on BOTH sides (Spark `cast string` = DuckDB `CAST AS
  * VARCHAR` = 'yyyy-MM-dd'); this is output formatting for the compare,
  * not an engine semantic.
  */
object Medallion {

  private def dumpBase: String = s"${Gate.scratchRoot}/medallion"

  private def dump(df: DataFrame, sub: String): Unit =
    df.write.mode("overwrite").parquet(s"$dumpBase/$sub")

  private def pq(sub: String): String =
    s"read_parquet('$dumpBase/$sub/*.parquet')"

  /** The loan SPINE scales with the driver's testdata SF (600 at
    * sf0.001 → 6k at sf0.01 → 60k at sf0.1), so the full-frame hashes
    * of the loan-side gates — silver/gold cleaners, feature/label
    * stores — also pin shuffle-order independence and double
    * accumulation of the store assembly at the board's largest scale,
    * not just value semantics on a toy frame. The DIM sources stay at
    * the 75×4 one-row-per-(member_id, snapshot_date) grid the
    * generator defines: growing them past 300 duplicates join keys
    * and the gate would measure a key-explosion artifact, not the
    * pipeline (the medallion ScaleProbe learned this the hard way). */
  private def sfScale(d: String): Int =
    // the sf token must be a full path SEGMENT with a digit-led value,
    // and the LAST such segment wins — the testdata dir itself
    // ("/root/testdata/sf0.01") is always the deepest; an earlier
    // lookalike segment ("/data/sf2/testdata/sf0.001") must not
    // override it, and an unanchored "sf([0-9.]+)" additionally
    // crashed toDouble on dots-only captures
    """(?:^|/)sf([0-9]+(?:\.[0-9]+)?)(?:/|$)""".r.findAllMatchIn(d)
      .toSeq.lastOption
      .map(m => math.max(1, math.round(m.group(1).toDouble / 0.001).toInt))
      .getOrElse(1)
  private def nLoans(d: String): Int = 600 * sfScale(d)
  private val nDims = 300

  private def rawLoan(s: SparkSession, d: String) =
    PipelineE2E.gen(s, Schemas.loanTermsRaw, nLoans(d))
  private def rawDemo(s: SparkSession) =
    PipelineE2E.gen(s, Schemas.demographicRaw, nDims)
  private def rawFin(s: SparkSession) =
    PipelineE2E.gen(s, Schemas.financialRaw, nDims)
  private def rawCredit(s: SparkSession) =
    PipelineE2E.gen(s, Schemas.creditHistoryRaw, nDims)

  private def dateAsString(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((acc, c) =>
      if (acc.columns.contains(c)) acc.withColumn(c, col(c).cast("string"))
      else acc)

  // ---- raw → silver ------------------------------------------------

  /** silver_loan_terms.py replayed row-for-row: 37 leakage drops + 4
    * binary encodes over the SF-scaled raw frame. */
  def plSilverLoan(s: SparkSession, d: String): DataFrame = {
    val raw = rawLoan(s, d)
    dump(raw, "silver_loan/raw")
    dateAsString(Silver.loanTerms(raw), "snapshot_date").orderBy("id")
  }

  /** silver_demographic.py replayed: 9 drops, emp_title
    * upper/trim/MISSING, const fills. */
  def plSilverDemo(s: SparkSession, d: String): DataFrame = {
    val raw = rawDemo(s)
    dump(raw, "silver_demo/raw")
    dateAsString(Silver.demographic(raw), "snapshot_date")
      .orderBy("member_id", "snapshot_date")
  }

  /** silver_financial.py replayed: 2 joint drops, 3 missing flags, dti
    * MEAN-impute (DuckDB recomputes the mean itself), fill-0 / fill−1
    * blocks. */
  def plSilverFin(s: SparkSession, d: String): DataFrame = {
    val raw = rawFin(s)
    dump(raw, "silver_fin/raw")
    dateAsString(Silver.financial(raw), "snapshot_date")
      .orderBy("member_id", "snapshot_date")
  }

  /** silver_credit_history.py replayed: 8 drops, mort_acc missing flag,
    * try_to_date MMM-yyyy, months_between + 999 fill, fill−1 block,
    * mort_acc fill 0, and the 9-column MODE impute (DuckDB recomputes
    * each mode with the engine's stringified count-desc/value-asc
    * tie-break). */
  def plSilverCredit(s: SparkSession, d: String): DataFrame = {
    val raw = rawCredit(s)
    dump(raw, "silver_credit/raw")
    dateAsString(Silver.creditHistory(raw),
      "snapshot_date", "earliest_cr_line")
      .orderBy("member_id", "snapshot_date")
  }

  // ---- silver → gold -----------------------------------------------

  /** gold_loan_terms.py replayed from the dumped loan silver: term-digit
    * extract, grade→0–6 label map, purpose/loan_status fixed-dict OHE. */
  def plGoldLoan(s: SparkSession, d: String): DataFrame = {
    val silver = Silver.loanTerms(rawLoan(s, d))
    dump(silver, "gold_loan/silver")
    dateAsString(Gold.loanTerms(silver,
      Seq("car", "house", "debt", "other"),
      Seq("Current", "Fully Paid", "Charged Off")), "snapshot_date")
      .orderBy("id")
  }

  /** gold demographic featurizer replayed from the dumped demo silver:
    * data-dependent top-10 emp_title OHE (the synthetic frame has
    * exactly 10 distinct titles, so the oracle can name them), emp_length
    * parse, fixed-dict OHEs (gold_feature_store.py:98–146). */
  def plGoldDemo(s: SparkSession, d: String): DataFrame = {
    val silver = Silver.demographic(rawDemo(s))
    dump(silver, "gold_demo/silver")
    dateAsString(Gold.demographic(silver, Seq("CA", "NY", "TX", "WA")),
      "snapshot_date")
      .orderBy("member_id", "snapshot_date")
  }

  /** gold financial featurizer replayed: every non-key column cast to
    * double (gold_financial.py:9–11). */
  def plGoldFin(s: SparkSession, d: String): DataFrame = {
    val silver = Silver.financial(rawFin(s))
    dump(silver, "gold_fin/silver")
    dateAsString(Gold.financial(silver), "snapshot_date")
      .orderBy("member_id", "snapshot_date")
  }

  /** gold credit featurizer replayed: month-truncated month diff cast
    * int, 999 fill, earliest_cr_line dropped
    * (gold_feature_store.py:65–73). */
  def plGoldCredit(s: SparkSession, d: String): DataFrame = {
    val silver = Silver.creditHistory(rawCredit(s))
    dump(silver, "gold_credit/silver")
    dateAsString(Gold.creditHistory(silver), "snapshot_date")
      .orderBy("member_id", "snapshot_date")
  }

  // ---- gold → stores -----------------------------------------------

  /** Feature store assembly with ALL feature columns in the hash
    * (gold_feature_store.py:325–337): loan spine, 3 left joins on
    * (member_id, snapshot_date), full-row distinct, grade filter, keys
    * dropped — DuckDB replays the join over the four dumped gold
    * frames and the full ~115-column × 600-row result is compared
    * value-for-value. */
  def plFeatureStore(s: SparkSession, d: String): DataFrame = {
    // the four silver→gold chains are INDEPENDENT (distinct raw
    // sources, distinct dump dirs) and each schedules several small
    // jobs (mode/mean-impute aggregations, the eager localCheckpoint,
    // the oracle dump) — run each whole chain on its own driver thread
    // (guide §2.6) instead of serializing ~18 small jobs. Each frame is
    // frozen once (localCheckpoint; the silver chains re-run their
    // impute aggregations on every recompute) because it feeds TWO
    // consumers — its oracle dump and the store join; the joined store
    // then reads the frozen blocks instead of re-running the chains.
    val frames = new Array[DataFrame](4)
    graft.core.Par.run(
      () => {
        frames(0) = Gold.loanTerms(Silver.loanTerms(rawLoan(s, d)),
          Seq("car", "house", "debt", "other"),
          Seq("Current", "Fully Paid", "Charged Off")).localCheckpoint()
        dump(frames(0), "feature_store/gold_loan")
      },
      () => {
        frames(1) = Gold.demographic(Silver.demographic(rawDemo(s)),
          Seq("CA", "NY", "TX", "WA")).localCheckpoint()
        dump(frames(1), "feature_store/gold_demo")
      },
      () => {
        frames(2) = Gold.financial(Silver.financial(rawFin(s)))
          .localCheckpoint()
        dump(frames(2), "feature_store/gold_fin")
      },
      () => {
        frames(3) = Gold.creditHistory(Silver.creditHistory(rawCredit(s)))
          .localCheckpoint()
        dump(frames(3), "feature_store/gold_credit")
      })
    Gold.featureStore(frames(0), frames(1), frames(2), frames(3))
      .orderBy("id")
  }

  /** Label store (gold_label_store.py:40–42) from the dumped loan
    * silver. */
  def plLabelStore(s: SparkSession, d: String): DataFrame = {
    val silver = Silver.loanTerms(rawLoan(s, d))
    dump(silver, "label_store/silver")
    dateAsString(Gold.labelStore(silver), "snapshot_date").orderBy("id")
  }

  // ---- DuckDB oracle texts ------------------------------------------

  /** The silver loan output columns (raw minus the 37 drops). */
  private val silverLoanCols: Seq[String] =
    Schemas.loanTermsRaw.fieldNames.toSeq
      .filterNot(Schemas.loanDropped.contains)

  private val loanBinary = Seq(
    "pymnt_plan" -> "y", "debt_settlement_flag" -> "Y",
    "initial_list_status" -> "w", "disbursement_method" -> "DirectPay")

  private def silverLoanSelect(from: String): String = {
    val binary = loanBinary.toMap
    val cols = silverLoanCols.map {
      case "snapshot_date" =>
        "CAST(snapshot_date AS STRING) AS snapshot_date"
      case c if binary.contains(c) =>
        s"CASE WHEN $c = '${binary(c)}' THEN 1 ELSE 0 END AS $c"
      case c => c
    }
    s"SELECT ${cols.mkString(", ")} FROM $from"
  }

  /** Mode of one column under the engine's tie-break: count desc, then
    * STRINGIFIED value asc (Imputation.modesOf casts values to string
    * before ranking), cast back to the column's int type. */
  private def modeSubquery(c: String, from: String): String =
    s"(SELECT CAST(CAST($c AS STRING) AS INTEGER) FROM $from " +
      s"WHERE $c IS NOT NULL GROUP BY $c " +
      s"ORDER BY count(*) DESC, CAST($c AS STRING) ASC LIMIT 1)"

  /** Dialect-neutral 'MMM-yyyy' parse (the Spark `to_date` twin): both
    * engines share make_date/substr/TRY_CAST, and a non-month prefix or
    * non-numeric year flows to NULL through make_date's null
    * propagation — try_strptime semantics without the DuckDB-only
    * function (the r17 oracle leaned on try_strptime, which kept this
    * gate off the Spark-SQL sweep). */
  private def parseMmmYyyySql(c: String): String = {
    val mcase = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
      "Aug", "Sep", "Oct", "Nov", "Dec").zipWithIndex
      .map { case (m, i) => s"WHEN '$m' THEN ${i + 1}" }.mkString(" ")
    s"make_date(TRY_CAST(substr($c, 5, 4) AS INTEGER), " +
      s"CASE substr($c, 1, 3) $mcase ELSE NULL END, 1)"
  }

  /** Spark months_between(d1, d2) for pure dates: integer months when
    * the day-of-month matches (or both are month-ends), else
    * + (day1−day2)/31, rounded to 8 places. */
  private def monthsBetweenSql(d1: String, d2: String): String =
    // e-notation literals: Spark SQL parses bare `31.0` as DECIMAL and
    // its decimal division truncates at scale 6 — `31.0e0` is a DOUBLE
    // in both engines, matching months_between's float math
    s"round((year($d1) - year($d2)) * 12 + (month($d1) - month($d2)) + " +
      s"CASE WHEN day($d1) = day($d2) OR " +
      s"($d1 = last_day($d1) AND $d2 = last_day($d2)) THEN 0.0e0 " +
      s"ELSE (day($d1) - day($d2)) / 31.0e0 END, 8)"

  /** The dialect-neutral SQL twin of [[graft.ops.ColumnOps.parseEmpLength]]
    * — ONE definition shared by the m5 oracle (MLFeatures) and the
    * pl_gold_demo oracle, so a portability tweak can never split the
    * two gates. */
  private[graft] val empLengthIntSql: String =
    "CASE WHEN lower(trim(emp_length)) = '10+ years' THEN 10 " +
      "WHEN lower(trim(emp_length)) = '< 1 year' THEN 0 " +
      "WHEN lower(trim(emp_length)) = 'missing' THEN -1 " +
      "ELSE coalesce(TRY_CAST(regexp_replace(lower(trim(emp_length)), " +
      "'[^0-9].*$', '') AS INTEGER), -1) END"

  private def ohe(c: String, cats: Seq[String]): Seq[String] =
    cats.map(v =>
      s"""CASE WHEN $c = '$v' THEN 1 ELSE 0 END AS "${c}_ohe_$v"""")

  /** The synthetic demo frame's 10 distinct emp_title values after the
    * silver MISSING fill — sorted, they ARE the top-10 dictionary the
    * gold featurizer fits (exactly 10 distinct values exist, so top-10
    * membership is data-independent of count ties). */
  private val empTitleTop10Sorted: Seq[String] =
    ("MISSING" +: (0 to 8).map(i => s"V2_$i")).sorted

  private val goldDemoOracleCols: Seq[String] = {
    val empOhe = empTitleTop10Sorted.zipWithIndex.map { case (v, i) =>
      s"CASE WHEN emp_title = '$v' THEN 1 ELSE 0 END AS emp_title_ohe_$i"
    } :+ (s"CASE WHEN emp_title IN (${empTitleTop10Sorted.map(v => s"'$v'").mkString(", ")}) " +
      "THEN 0 ELSE 1 END AS emp_title_ohe_other")
    Seq("member_id",
      "CAST(snapshot_date AS STRING) AS snapshot_date", "annual_inc",
      s"$empLengthIntSql AS emp_length_int") ++ empOhe ++
      ohe("home_ownership", Schemas.homeOwnershipCats) ++
      ohe("verification_status", Schemas.verificationStatusCats) ++
      ohe("application_type", Schemas.applicationTypeCats) ++
      ohe("addr_state", Seq("CA", "NY", "TX", "WA"))
  }

  private def goldDemoSelect(from: String): String =
    s"SELECT ${goldDemoOracleCols.mkString(", ")} FROM $from"

  private val goldLoanOracleCols: Seq[String] = Seq("id", "member_id",
    "CAST(snapshot_date AS STRING) AS snapshot_date",
    "loan_amnt", "funded_amnt", "funded_amnt_inv", "int_rate",
    "installment",
    "CAST(regexp_extract(term, '([0-9]+)', 1) AS INTEGER) AS term_months",
    "grade",
    ("CASE " + Schemas.gradeMapping
      .map { case (k, v) => s"WHEN grade = '$k' THEN $v" }
      .mkString(" ") + " ELSE NULL END AS grade_encoded"),
    "pymnt_plan", "debt_settlement_flag", "initial_list_status",
    "disbursement_method") ++
    ohe("purpose", Seq("car", "house", "debt", "other")) ++
    ohe("loan_status", Seq("Current", "Fully Paid", "Charged Off"))

  private val goldFinNonKeys: Seq[String] = Seq("dti", "all_util",
    "il_util", "bc_util", "revol_bal") ++ Schemas.financialFill0 ++
    Schemas.financialFillMinus1 ++
    Seq("all_util_missing", "il_util_missing", "bc_util_missing")

  private val goldCreditPassThrough: Seq[String] =
    Seq("mort_acc") ++ Schemas.creditModeImputed ++
      Schemas.creditFillMinus1 ++
      Seq("mort_acc_missing", "months_since_earliest_cr_line")

  /** Output name of one oracle select expression (the text after the
    * last ` AS `, unquoted; a bare column is its own name). */
  private def aliasOf(e: String): String = {
    val i = e.toUpperCase.lastIndexOf(" AS ")
    (if (i < 0) e else e.substring(i + 4)).trim
      .stripPrefix("\"").stripSuffix("\"")
  }

  /** The feature store's output column NAMES, derived from the same
    * per-table oracle lists the pl_gold_* gates select — single-sourced
    * so the explicit select list (the dialect-neutral replacement for
    * DuckDB's `* EXCLUDE`) can never drift from the join inputs. */
  private def featureStoreCols: Seq[String] = {
    val keys = Set("member_id", "snapshot_date")
    ((goldLoanOracleCols.map(aliasOf)) ++
      goldDemoOracleCols.map(aliasOf).filterNot(keys) ++
      goldFinNonKeys ++
      (goldCreditPassThrough :+ "months_since_earliest_cr"))
      .filterNot(keys + "grade")
  }

  /** Double-quoted identifier, valid in BOTH engines (several OHE
    * column names carry spaces): DuckDB natively, the Spark-SQL sweep
    * under spark.sql.ansi.doubleQuotedIdentifiers. */
  private def qi(c: String): String = "\"" + c + "\""

  val gates: Seq[Gate] = Seq(
    Gate("pl_silver_loan", plSilverLoan,
      s"${silverLoanSelect(pq("silver_loan/raw"))} ORDER BY id"),

    Gate("pl_silver_demo", plSilverDemo,
      s"""SELECT member_id, CAST(snapshot_date AS STRING) AS snapshot_date,
         |  upper(trim(coalesce(emp_title, 'MISSING'))) AS emp_title,
         |  coalesce(emp_length, 'MISSING') AS emp_length,
         |  coalesce(home_ownership, 'MISSING') AS home_ownership,
         |  annual_inc, verification_status, addr_state, application_type,
         |  zip_code
         |FROM ${pq("silver_demo/raw")}
         |ORDER BY member_id, snapshot_date""".stripMargin),

    Gate("pl_silver_fin", plSilverFin, {
      val fill0 = (Schemas.financialFill0 :+ "all_util")
        .map(c => s"coalesce($c, 0.0) AS $c")
      val fillM1 = (Schemas.financialFillMinus1 ++ Seq("il_util", "bc_util"))
        .map(c => s"coalesce($c, -1.0) AS $c")
      val flags = Seq("all_util", "il_util", "bc_util")
        .map(c => s"CASE WHEN $c IS NULL THEN 1 ELSE 0 END AS ${c}_missing")
      s"""WITH raw AS (SELECT * FROM ${pq("silver_fin/raw")}),
         |m AS (SELECT CAST(avg(dti) AS FLOAT) AS dti_mean FROM raw)
         |SELECT member_id, CAST(snapshot_date AS STRING) AS snapshot_date,
         |  coalesce(dti, dti_mean) AS dti, revol_bal,
         |  ${(fill0 ++ fillM1 ++ flags).mkString(",\n  ")}
         |FROM raw, m
         |ORDER BY member_id, snapshot_date""".stripMargin
    }),

    Gate("pl_silver_credit", plSilverCredit, {
      val modes = Schemas.creditModeImputed
        .map(c => s"coalesce($c, ${modeSubquery(c, "raw")}) AS $c")
      val fillM1 = Schemas.creditFillMinus1
        .map(c => s"coalesce($c, -1) AS $c")
      s"""WITH raw AS (SELECT * FROM ${pq("silver_credit/raw")}),
         |p AS (SELECT *, ${parseMmmYyyySql("earliest_cr_line")} AS ecl FROM raw)
         |SELECT member_id, CAST(snapshot_date AS STRING) AS snapshot_date,
         |  CAST(ecl AS STRING) AS earliest_cr_line,
         |  coalesce(mort_acc, 0) AS mort_acc,
         |  ${(modes ++ fillM1).mkString(",\n  ")},
         |  CASE WHEN mort_acc IS NULL THEN 1 ELSE 0 END AS mort_acc_missing,
         |  coalesce(${monthsBetweenSql("snapshot_date", "ecl")}, 999.0)
         |    AS months_since_earliest_cr_line
         |FROM p
         |ORDER BY member_id, snapshot_date""".stripMargin
    }),

    Gate("pl_gold_loan", plGoldLoan,
      s"SELECT ${goldLoanOracleCols.mkString(", ")} FROM ${pq("gold_loan/silver")} ORDER BY id"),

    Gate("pl_gold_demo", plGoldDemo,
      s"""${goldDemoSelect(pq("gold_demo/silver"))}
         |ORDER BY member_id, snapshot_date""".stripMargin),

    Gate("pl_gold_fin", plGoldFin,
      s"""SELECT member_id, CAST(snapshot_date AS STRING) AS snapshot_date,
         |  ${goldFinNonKeys.map(c => s"CAST($c AS DOUBLE) AS $c").mkString(",\n  ")}
         |FROM ${pq("gold_fin/silver")}
         |ORDER BY member_id, snapshot_date""".stripMargin),

    Gate("pl_gold_credit", plGoldCredit,
      s"""SELECT member_id, CAST(snapshot_date AS STRING) AS snapshot_date,
         |  ${goldCreditPassThrough.mkString(", ")},
         |  coalesce(CAST((year(snapshot_date) - year(earliest_cr_line)) * 12
         |    + (month(snapshot_date) - month(earliest_cr_line)) AS INTEGER),
         |    999) AS months_since_earliest_cr
         |FROM ${pq("gold_credit/silver")}
         |ORDER BY member_id, snapshot_date""".stripMargin),

    // explicit quoted select list instead of DuckDB's `* EXCLUDE` —
    // the one construct that kept this gate off the Spark-SQL sweep;
    // the names are derived from the same lists the pl_gold_* oracles
    // select (featureStoreCols), so they cannot drift
    Gate("pl_feature_store", plFeatureStore,
      s"""WITH gl AS (SELECT * FROM ${pq("feature_store/gold_loan")}),
         |gd AS (SELECT * FROM ${pq("feature_store/gold_demo")}),
         |gf AS (SELECT * FROM ${pq("feature_store/gold_fin")}),
         |gc AS (SELECT * FROM ${pq("feature_store/gold_credit")}),
         |j AS (SELECT * FROM gl
         |  LEFT JOIN gd USING (member_id, snapshot_date)
         |  LEFT JOIN gf USING (member_id, snapshot_date)
         |  LEFT JOIN gc USING (member_id, snapshot_date)),
         |dd AS (SELECT DISTINCT * FROM j)
         |SELECT ${featureStoreCols.map(qi).mkString(", ")} FROM dd
         |WHERE grade IS NOT NULL ORDER BY id""".stripMargin),

    Gate("pl_label_store", plLabelStore,
      s"""SELECT id, CAST(snapshot_date AS STRING) AS snapshot_date, grade
         |FROM ${pq("label_store/silver")}
         |WHERE grade IS NOT NULL ORDER BY id""".stripMargin)
  )
}
