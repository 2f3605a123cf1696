package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Seeded DIFFERENTIAL operator fuzzer (round-18 verdict #3): the gate
  * board is hand-authored, so interactions BETWEEN §2 operators
  * (null-heavy joins into fills into windows into aggs) are only
  * covered where a gate happens to compose them. This generator builds
  * random compositions from the relational ops library over the real
  * testdata tables and renders each composition TWICE from the same
  * stage parameters — an `org.apache.spark.sql` Column-API plan and an
  * ANSI SQL text — so the two can never drift by construction, and any
  * divergence between entry paths (or engines) is a reproducible seed.
  *
  * Two consumers:
  *   - `FuzzSpec` (default suite): seeds 1..60, the Column-API result
  *     must equal `spark.sql(text)` row for row under the composition's
  *     own total order — the SqlSurfaceSpec dual-entry contract applied
  *     to generated plans;
  *   - the `fuzz_differential` BOARD GATE: seeds 1..12 digested
  *     order-insensitively (md5 per row → 16 hash buckets per case →
  *     count/min/max per bucket) with the SAME SQL as the DuckDB
  *     oracle — a true cross-ENGINE differential through the driver's
  *     hash compare.
  *
  * Dialect guardrails baked into the generated surface (each is a
  * documented difference the generator must not step on): `||` for
  * concat (DuckDB's concat() IGNORES nulls, Spark's propagates; `||`
  * propagates in both), e-notation-free integer math only (Spark
  * parses bare `31.0` as DECIMAL), explicit `NULLS FIRST` on every
  * ORDER BY (Spark defaults nulls first, DuckDB nulls last), explicit
  * BIGINT casts on count/sum/row_number (DuckDB sums to HUGEINT), and
  * EXISTS/NOT EXISTS for semi/anti (shared syntax; Spark plans them as
  * left-semi/left-anti joins).
  */
object Fuzz {

  /** One composition: the SQL text (tables by their registered names)
    * and the Column-API builder over the same parquet dir. */
  final case class Case(sql: String, df: (SparkSession, String) => DataFrame)

  private final case class BaseT(table: String, k: String, s: String,
                                 n: String)

  /** Every base is normalized to (k BIGINT key, s1 STRING, n1 BIGINT)
    * so stages compose freely; k is the table's primary key (joins on
    * it are row-count-preserving on the left side). */
  private val bases = Vector(
    BaseT("documents", "doc_id", "lang", "n_chars"),
    BaseT("events", "event_id", "event_type", "user_id"),
    BaseT("customer", "c_custkey", "c_mktsegment", "c_nationkey"),
    BaseT("orders", "o_orderkey", "o_orderstatus", "o_custkey"),
    BaseT("nation", "n_nationkey", "n_name", "n_regionkey"))

  private def baseDf(s: SparkSession, d: String, b: BaseT): DataFrame =
    Tables.load(s, d, b.table).select(
      col(b.k).cast("long").as("k"), col(b.s).as("s1"),
      col(b.n).cast("long").as("n1"))

  private def baseSql(b: BaseT): String =
    s"SELECT CAST(${b.k} AS BIGINT) AS k, ${b.s} AS s1, " +
      s"CAST(${b.n} AS BIGINT) AS n1 FROM ${b.table}"

  private def nf(c: Column): Column = c.asc_nulls_first

  /** Build one seeded composition. All randomness is drawn HERE, once,
    * while both renderings are assembled — the SQL text is a pure
    * function of the seed (no session needed, so the gate's
    * oracle SQL can carry it). */
  def compose(seed: Long): Case = {
    val rng = new scala.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))

    val b0 = pick(bases)
    var sql = baseSql(b0)
    var steps = Vector.empty[(DataFrame, String) => DataFrame]
    var alias = 0
    def t(): String = { alias += 1; s"t$alias" }

    val nStages = 3 + rng.nextInt(4)
    (1 to nStages).foreach { _ =>
      // 11 stage kinds: 0–9 below plus the distinct default (the first
      // review of this generator found nextInt(10) left `case _`
      // unreachable — DISTINCT was never fuzzed while the docs claimed
      // it was)
      rng.nextInt(11) match {
        case 0 => // filter on the int column
          val m = 2 + rng.nextInt(9); val r = 1 + rng.nextInt(m)
          sql = s"SELECT k, s1, n1 FROM ($sql) ${t()} WHERE (n1 % $m) < $r"
          steps :+= ((df: DataFrame, _: String) => df.filter(col("n1") % m < r))
        case 1 => // nullify the string column on a key residue
          val m = 3 + rng.nextInt(9)
          sql = s"SELECT k, CASE WHEN k % $m = 0 THEN NULL ELSE s1 END " +
            s"AS s1, n1 FROM ($sql) ${t()}"
          steps :+= ((df: DataFrame, _: String) => df.select(col("k"),
            when(col("k") % m === 0, lit(null)).otherwise(col("s1")).as("s1"),
            col("n1")))
        case 2 => // nullify the int column on a key residue
          val m = 3 + rng.nextInt(9)
          sql = s"SELECT k, s1, CASE WHEN k % $m = 1 THEN NULL ELSE n1 " +
            s"END AS n1 FROM ($sql) ${t()}"
          steps :+= ((df: DataFrame, _: String) => df.select(col("k"), col("s1"),
            when(col("k") % m === 1, lit(null)).otherwise(col("n1")).as("n1")))
        case 3 => // fill both columns (the imputation family)
          sql = s"SELECT k, coalesce(s1, 'MISSING') AS s1, " +
            s"coalesce(n1, -1) AS n1 FROM ($sql) ${t()}"
          steps :+= ((df: DataFrame, _: String) => df.select(col("k"),
            coalesce(col("s1"), lit("MISSING")).as("s1"),
            coalesce(col("n1"), lit(-1L)).as("n1")))
        case 4 => // derived columns: int affine + string suffix tag
          val a = 2 + rng.nextInt(6); val m = 5 + rng.nextInt(20)
          sql = s"SELECT k, (s1 || '_' || CAST(n1 % $m AS STRING)) AS s1, " +
            s"(n1 * $a + k % $m) AS n1 FROM ($sql) ${t()}"
          steps :+= ((df: DataFrame, _: String) => df.select(col("k"),
            concat(col("s1"), lit("_"), (col("n1") % m).cast("string")).as("s1"),
            (col("n1") * a + col("k") % m).as("n1")))
        case 5 => // group by the string column: count + sum
          sql = s"SELECT CAST(count(*) AS BIGINT) AS k, s1, " +
            s"CAST(sum(n1) AS BIGINT) AS n1 FROM ($sql) ${t()} GROUP BY s1"
          steps :+= ((df: DataFrame, _: String) => df.groupBy("s1")
            .agg(count(lit(1)).as("k"), sum("n1").cast("long").as("n1"))
            .select("k", "s1", "n1"))
        case 6 => // group by a key bucket: min(string) + max(int)
          val m = 4 + rng.nextInt(13)
          sql = s"SELECT k % $m AS k, min(s1) AS s1, " +
            s"CAST(max(n1) AS BIGINT) AS n1 FROM ($sql) ${t()} GROUP BY k % $m"
          steps :+= ((df: DataFrame, _: String) => df.groupBy((col("k") % m).as("k"))
            .agg(min("s1").as("s1"), max("n1").cast("long").as("n1"))
            .select("k", "s1", "n1"))
        case 7 => // window: rank within the string partition
          sql = s"SELECT k, s1, CAST(row_number() OVER (PARTITION BY s1 " +
            s"ORDER BY n1 ASC NULLS FIRST, k ASC NULLS FIRST) AS BIGINT) " +
            s"AS n1 FROM ($sql) ${t()}"
          steps :+= { (df: DataFrame, _: String) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("s1").orderBy(nf(col("n1")), nf(col("k")))
            df.select(col("k"), col("s1"),
              row_number().over(w).cast("long").as("n1"))
          }
        case 8 => // enrich join against a base table's primary key
          val b2 = pick(bases)
          val left = rng.nextBoolean()
          val ta = t()
          val sub = s"(SELECT CAST(${b2.k} AS BIGINT) AS k2, ${b2.s} AS s2, " +
            s"CAST(${b2.n} AS BIGINT) AS n2 FROM ${b2.table}) b$alias"
          val jt = if (left) "LEFT JOIN" else "JOIN"
          sql = s"SELECT $ta.k AS k, coalesce(b$alias.s2, $ta.s1) AS s1, " +
            s"($ta.n1 + coalesce(b$alias.n2, 0)) AS n1 " +
            s"FROM ($sql) $ta $jt $sub ON $ta.k = b$alias.k2"
          steps :+= { (df: DataFrame, d: String) =>
            val s = df.sparkSession
            val b = baseDf(s, d, b2).select(col("k").as("k2"),
              col("s1").as("s2"), col("n1").as("n2"))
            df.join(b, df("k") === b("k2"), if (left) "left" else "inner")
              .select(df("k").as("k"),
                coalesce(b("s2"), df("s1")).as("s1"),
                (df("n1") + coalesce(b("n2"), lit(0L))).as("n1"))
          }
        case 9 => // semi/anti against a filtered key set
          val b2 = pick(bases)
          val m = 2 + rng.nextInt(4); val r = rng.nextInt(m)
          val anti = rng.nextBoolean()
          val ta = t()
          val not = if (anti) "NOT " else ""
          sql = s"SELECT k, s1, n1 FROM ($sql) $ta WHERE ${not}EXISTS " +
            s"(SELECT 1 FROM ${b2.table} WHERE " +
            s"CAST(${b2.k} AS BIGINT) % $m = $r AND " +
            s"CAST(${b2.k} AS BIGINT) = $ta.k)"
          steps :+= { (df: DataFrame, d: String) =>
            val s = df.sparkSession
            val keys = baseDf(s, d, b2).select(col("k").as("k2"))
              .filter(col("k2") % m === r)
            df.join(keys, df("k") === keys("k2"),
              if (anti) "left_anti" else "left_semi")
          }
        case _ => // distinct
          sql = s"SELECT DISTINCT k, s1, n1 FROM ($sql) ${t()}"
          steps :+= ((df: DataFrame, _: String) => df.distinct())
      }
    }
    // total order over every output column — both paths emit rows in
    // one deterministic sequence (fully identical rows are the only
    // interchangeable ones)
    val ta = t()
    sql = s"SELECT k, s1, n1 FROM ($sql) $ta ORDER BY k ASC NULLS FIRST, " +
      "s1 ASC NULLS FIRST, n1 ASC NULLS FIRST"
    val stepsF = steps
    val b0F = b0
    Case(sql, (s: SparkSession, d: String) => {
      val out = stepsF.foldLeft(baseDf(s, d, b0F))((acc, f) => f(acc, d))
      out.orderBy(nf(col("k")), nf(col("s1")), nf(col("n1")))
    })
  }

  // ---- the DuckDB-differential board gate ---------------------------

  private def rowStrSql = "concat_ws('|', coalesce(CAST(k AS STRING), '~'), " +
    "coalesce(s1, '~'), coalesce(CAST(n1 AS STRING), '~'))"

  private def digestSql(caseSql: String, cid: String): String =
    s"SELECT '$cid' AS case_id, substr(h, 1, 1) AS bucket, " +
      "CAST(count(*) AS BIGINT) AS n_rows, min(h) AS lo, max(h) AS hi " +
      s"FROM (SELECT md5($rowStrSql) AS h FROM ($caseSql) c_$cid) h_$cid " +
      "GROUP BY substr(h, 1, 1)"

  private def digestDf(df: DataFrame, cid: String): DataFrame = {
    val rowStr = concat_ws("|",
      coalesce(col("k").cast("string"), lit("~")),
      coalesce(col("s1"), lit("~")),
      coalesce(col("n1").cast("string"), lit("~")))
    df.select(md5(rowStr).as("h"))
      .groupBy(substring(col("h"), 1, 1).as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(lit(cid).as("case_id"), col("bucket"), col("n_rows"),
        col("lo"), col("hi"))
  }

  private val gateSeeds: Seq[Long] = (1L to 12L)

  /** The board gate: 12 seeded compositions digested
    * order-insensitively; DuckDB replays the identical compositions
    * from the identical SQL texts. A divergence in ANY composed
    * operator chain (join null semantics, window ordering, fill
    * typing, distinct over nulls) moves a bucket digest and
    * hash-fails. */
  def fuzzDifferential(s: SparkSession, d: String): DataFrame = {
    // the 12 compositions are INDEPENDENT multi-stage chains over tiny
    // tables; composed into one union plan they analyze, optimize and
    // execute serially — the key's wall was planning + a long serial
    // job ladder. Digest each composition on its own driver thread
    // (guide §2.6) into a frozen ≤16-row frame, then union the frozen
    // results: same rows, same order, wall = the slowest chain.
    val outs = new Array[DataFrame](gateSeeds.size)
    graft.core.Par.run(gateSeeds.zipWithIndex.map { case (seed, i) =>
      () => outs(i) =
        digestDf(compose(seed).df(s, d), f"c$seed%02d").localCheckpoint()
    }: _*)
    outs.reduce(_.unionByName(_)).orderBy("case_id", "bucket")
  }

  def fuzzDifferentialSql: String =
    gateSeeds.map { seed =>
      digestSql(compose(seed).sql, f"c$seed%02d")
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) u ORDER BY case_id, bucket")

  // ---- Gates: each plan with the DuckDB SQL that checks it ----------

  val gates: Seq[Gate] = Seq(
    // cross-engine differential fuzz: 12 seeded operator compositions
    // (joins/fills/windows/aggs over the real tables), digested
    // order-insensitively; the oracle text is generated from the SAME
    // seeds, so both engines replay identical plans
    Gate("fuzz_differential", fuzzDifferential,
      fuzzDifferentialSql)
  )
}
