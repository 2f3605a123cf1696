package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID, document fingerprinting. All pure
  * Catalyst expressions (higher-order array functions + regexp) — no UDFs,
  * fully codegen'd, embarrassingly parallel map-side work at any scale.
  */
object TextAnalysis {

  /** Whitespace tokenization (split on runs of whitespace, trimmed). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Multi-label public suffixes the registered-domain extractor must
    * not split on — the tiny high-traffic subset of the public-suffix
    * list (the full list is a few thousand rows; swap it in as a
    * broadcast lookup if exactness on rare ccTLDs matters). */
  val defaultMultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tw", "com.sg", "co.za", "com.ar", "com.tr")

  /** Registered domain of a URL — lowercased host, `www.` and port
    * stripped, then the last two labels (three when the two-label tail
    * is a multi-part public suffix like `co.uk`). Pure regexp + array
    * arithmetic, map-side, codegen'd. */
  def registeredDomain(url: Column,
                       multiPartSuffixes: Seq[String] =
                         defaultMultiPartSuffixes): Column = {
    val noScheme = regexp_replace(url, "(?i)^https?://", "")
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(noScheme, "^([^/?#]+)", 1)),
      "^www\\.", ""), ":[0-9]+$", "")
    val parts = split(host, "\\.")
    val n = size(parts)
    val last2 = array_join(slice(parts, greatest(n - 1, lit(1)), lit(2)), ".")
    val last3 = array_join(slice(parts, greatest(n - 2, lit(1)), lit(3)), ".")
    when(n >= 3 && last2.isInCollection(multiPartSuffixes), last3)
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /** URL-level curation filter — the RefinedWeb/C4 front gate
    * (arXiv:2306.01116 §3.1 runs it BEFORE fetching content, which is
    * exactly why it matters at 100 TB: a URL verdict costs bytes of
    * metadata, a content verdict costs the document): (1) registered
    * domain against a blocklist (left join, broadcast by default — a
    * multi-million-domain list is tens of MB of skinny strings; pass
    * `broadcastBlocklist = false` past executor broadcast budgets and
    * let the planner shuffle it), and (2) a soft banned-word score —
    * total occurrence count of each banned word in the lowercased URL
    * (substring occurrences = length delta / word length, map-side
    * integer arithmetic, no regex per word). Output adds `domain`,
    * `blocked`, `url_score`, `keep` (= not blocked ∧ score ≤
    * `maxScore`); rows all flow — the caller filters on `keep`, so the
    * audit trail (what was dropped and why) is free. */
  def urlFilter(df: DataFrame, idCol: String, urlCol: String,
                blocklist: DataFrame, bannedWords: Seq[String],
                maxScore: Long = 0L,
                broadcastBlocklist: Boolean = true): DataFrame = {
    require(bannedWords.nonEmpty, "bannedWords must be non-empty")
    val lurl = lower(col(urlCol))
    val score = bannedWords.map { w =>
      ((length(lurl) - length(replace(lurl, lit(w)))) / lit(w.length))
        .cast("long")
    }.reduce(_ + _)
    val withD = df
      .withColumn("domain", registeredDomain(col(urlCol)))
      .withColumn("url_score", score)
    val bl0 = blocklist.select(lower(col("domain")).as("_bd")).distinct()
    val bl = if (broadcastBlocklist) broadcast(bl0) else bl0
    withD.join(bl, withD("domain") === col("_bd"), "left")
      .withColumn("blocked", col("_bd").isNotNull)
      .drop("_bd")
      .withColumn("keep", !col("blocked") && col("url_score") <= maxScore)
  }

  /** Fill-in-the-Middle transform (Bavarian et al., arXiv:2207.14255)
    * — the code/infilling pretraining reorder: a `rate` fraction of
    * documents split into (prefix, middle, suffix) at two cut points
    * and re-emit in PSM order `<PRE>prefix<SUF>suffix<MID>middle`, the
    * rest pass through. Everything derives from the id's md5 (the
    * engine-portable noise convention): the apply decision is a 24-bit
    * uniform against `rate`, the cuts are two mod-draws over character
    * positions — so the transform is reproducible across runs,
    * partitionings, and engines, and an oracle can replay it
    * character-for-character. Map-side only: hash arithmetic + three
    * substrings per row, no exchange at any scale. Output adds
    * `fim_applied` and `fim_text`. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   rate: Double = 0.5,
                   preTok: String = "<PRE>", sufTok: String = "<SUF>",
                   midTok: String = "<MID>"): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate in [0,1]: $rate")
    def u24(salt: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))
        .cast("binary")), 1, 6), 16, 10).cast("long")
    val n = length(col(textCol))
    val applied = (u24(":fim").cast("double") / lit(16777216.0)) < lit(rate)
    // a in [0, n], b in [a, n] — split points between characters
    val a = (u24(":a") % (n + 1)).cast("int")
    val b = (a + u24(":b") % (n - a + 1)).cast("int")
    val prefix = col(textCol).substr(lit(1), a)
    val middle = col(textCol).substr(a + 1, b - a)
    val suffix = col(textCol).substr(b + 1, n - b)
    df.withColumn("fim_applied", applied)
      .withColumn("fim_text",
        when(applied, concat(lit(preTok), prefix, lit(sufTok), suffix,
          lit(midTok), middle))
          .otherwise(col(textCol)))
  }

  /** BM25 lexical retrieval (Robertson–Spärck Jones; the Okapi BM25
    * formula with the standard k1/b defaults): case-folded whitespace
    * terms, idf = ln((N − df + 0.5)/(df + 0.5) + 1), per-(query, doc)
    * score summed over shared terms, top-k per query (score rounded to
    * 6 dp BEFORE ranking, ties to the smaller doc id — the engine's
    * reproducible-order convention). The lexical half of every hybrid
    * retrieval stack; fuse with the vector run via
    * [[Similarity.rrfFuse]].
    *
    * Scale shape: the postings table is (doc, term, tf) — the inverted
    * index — joined to query terms ON THE TERM KEY, so per-term work is
    * posting-list-sized, never corpus×queries. The classic hot key is a
    * stopword's posting list: `maxDfRatio` drops terms appearing in
    * more than that fraction of documents from scoring entirely
    * (df-based stopword pruning — they carry ~zero idf anyway), which
    * bounds the worst posting list; residual skew is AQE's skew-join
    * case. Corpus stats (N, avgdl) ride a 1-row broadcast (the t9
    * pattern). A query whose terms all miss (or are all pruned) emits
    * no rows — standard IR behavior, pad upstream if recall-0 rows are
    * needed. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               qIdCol: String = "q_id", qTextCol: String = "q_text",
               k1: Double = 1.2, b: Double = 0.75,
               maxDfRatio: Double = 0.5): DataFrame = {
    def terms(c: Column) = split(trim(lower(c)), "\\s+")
    val body = docs.select(col(idCol).as("n_id"), terms(col(textCol)).as("_tk"))
    val dl = body.select(col("n_id"), size(col("_tk")).cast("long").as("dl"))
    val tf = body.select(col("n_id"), explode(col("_tk")).as("term"))
      .groupBy("n_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl")))
    val postings = tf.join(dl, "n_id").join(df, "term").crossJoin(stats)
      .filter(col("df") <= lit(maxDfRatio) * col("n_docs"))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    val qterms = queries.select(col(qIdCol).as("q_id"),
      explode(array_distinct(terms(col(qTextCol)))).as("term"))
    // literal shapes ((k1 + 1), (1 − b)) are pre-folded Scala doubles;
    // the oracle writes the same literal expressions so both engines
    // evaluate identical IEEE constants (the doremi (1 − 0.7) rule)
    val scored = qterms.join(postings, "term")
      .groupBy("q_id", "n_id")
      .agg(round(sum(col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))), 6)
        .as("bm25"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("bm25"), asc("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("bm25"))
  }

  /** BM25 index at rest: the postings table (term, doc, tf, dl) landed
    * partitioned by a term-hash BUCKET (every posting list lives whole
    * in exactly one bucket), corpus stats (nDocs, sumDl — the exact
    * LONGS, not a JSON double that could lose ULPs) as PER-BATCH
    * entries under `_stats/batch_<id>.json` — the base install is
    * batch 0; probes derive totals by summing entries. A probe prunes
    * to the buckets its query terms hash into — at vocabulary scale
    * the read is |query terms| buckets out of `buckets`, never a full
    * postings scan. The repartition-on-bucket before the partitioned
    * write is the banded-store lesson (one dir = one task's file, no
    * open-writer fan-out). */
  def writeBm25Index(docs: DataFrame, dir: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     buckets: Int = 64): Unit = {
    require(buckets >= 1, "buckets >= 1")
    val spark = docs.sparkSession
    // rebuild IS this store's compaction: stale postings generations or
    // stats entries surviving the reinstall would double df and
    // nDocs/sumDl on every later probe
    StoreMaintenance.requireInputNotFromStore(docs, dir, "writeBm25Index")
    StoreMaintenance.clearForReinstall(spark, dir,
      Seq("postings", "_stats"))
    def terms(c: Column) = split(trim(lower(c)), "\\s+")
    val body = docs.select(col(idCol).as("n_id"), terms(col(textCol)).as("_tk"))
    val dl = body.select(col("n_id"), size(col("_tk")).cast("long").as("dl"))
    val tf = body.select(col("n_id"), explode(col("_tk")).as("term"))
      .groupBy("n_id", "term").agg(count(lit(1)).as("tf"))
    tf.join(dl, "n_id")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings/batch=0")
    val st = dl.agg(sum(col("dl")).as("s"), count(lit(1)).as("n")).head()
    writeBm25BatchStats(spark, dir, 0L,
      st.getAs[Long]("n"), st.getAs[Long]("s"))
    // geometry-only meta, written LAST (a probe that finds it can rely
    // on postings/batch=0 and _stats/batch_0 being in place); the
    // corpus stats live in _stats, never read-modify-written
    StoreMaintenance.publishMeta(spark, dir, bm25IndexVersion,
      Map("buckets" -> buckets.toString))
  }

  /** The BM25 index's layout version (per-batch postings generations
    * and `_stats` entries, geometry-only meta), shared by
    * [[writeBm25Index]] and every reader through [[openBm25Index]]. */
  private val bm25IndexVersion = "2"

  private def openBm25Index(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Map[String, String] =
    StoreMaintenance.open(spark, dir, bm25IndexVersion, "writeBm25Index")

  /** Grow the BM25 index: the batch's postings land under their own
    * `batch=<id>` subdir AND its corpus-stats contribution under its
    * own `_stats/batch_<id>.json` entry — BOTH idempotent per batchId
    * by overwrite (the banded-store convention), so an at-least-once
    * replay converges instead of double-counting nDocs/sumDl, and two
    * appenders with DISTINCT batch ids never race (no sidecar
    * read-modify-write anywhere on this path — each writer touches
    * only its own files). The bucket geometry is read from the
    * install's immutable `_meta.json`. A crash between the postings
    * write and the stats write leaves the batch's df visible with its
    * nDocs/sumDl contribution missing — the same inert-orphan class as
    * the near-dup store's half-landed batch, healed when the replay
    * re-lands both by overwrite. Post-append probes score with the
    * true corpus-wide idf/avgdl, bit-identical to a fresh rebuild over
    * the union. CONTRACT: batch ids are disjoint from landed ids (the
    * dedup-store rule); a re-appended doc would double its df
    * contribution. Generation COMPACTION for this store is a fresh
    * [[writeBm25Index]] rebuild over the corpus: folding postings
    * generations in place would have to fold their `_stats` entries
    * atomically with them (a half-fold silently skews idf/avgdl,
    * unlike the dedup stores' marker-guarded row tables), and the
    * rebuild is one tokenize-and-count pass — cheap relative to the
    * corpus it reads either way. */
  def appendToBm25Index(batch: DataFrame, dir: String, batchId: Long,
                        idCol: String = "doc_id",
                        textCol: String = "text"): Unit = {
    require(batchId > 0, "batchId 0 is the base install")
    val spark = batch.sparkSession
    val buckets = openBm25Index(spark, dir)("buckets").toLong
    def terms(c: Column) = split(trim(lower(c)), "\\s+")
    val body = batch.select(col(idCol).as("n_id"), terms(col(textCol)).as("_tk"))
    val dl = body.select(col("n_id"), size(col("_tk")).cast("long").as("dl"))
    val tf = body.select(col("n_id"), explode(col("_tk")).as("term"))
      .groupBy("n_id", "term").agg(count(lit(1)).as("tf"))
    tf.join(dl, "n_id")
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings/batch=$batchId")
    val st = dl.agg(sum(col("dl")).as("s"), count(lit(1)).as("n")).head()
    writeBm25BatchStats(spark, dir, batchId,
      st.getAs[Long]("n"), st.getAs[Long]("s"))
    spark.catalog.refreshByPath(s"$dir/postings")
  }

  /** One batch's corpus-stats entry: its own sidecar file, overwritten
    * whole on replay — the write is rename-atomic, so a concurrent
    * probe sees the old entry or the new one, never a torn file. */
  private def writeBm25BatchStats(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, batchId: Long,
                                  nDocs: Long, sumDl: Long): Unit =
    graft.sources.Sources.writeJsonSidecarFs(spark,
      s"$dir/_stats/batch_$batchId.json",
      Map("nDocs" -> nDocs.toString, "sumDl" -> sumDl.toString))

  /** Corpus totals of an opened BM25 index: the exact-long sum over
    * the per-batch `_stats` entries. */
  private def readBm25Stats(spark: org.apache.spark.sql.SparkSession,
                            dir: String): (Long, Long) = {
    val d = new org.apache.hadoop.fs.Path(s"$dir/_stats")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pat = "batch_(\\d+)\\.json".r
    val entries = fs.listStatus(d).toSeq.map(_.getPath)
      .filter(p => pat.matches(p.getName))
      .map(p => graft.sources.Sources.readJsonSidecarFs(spark, p.toString))
    require(entries.nonEmpty, s"bm25 index at $dir has no _stats entries")
    (entries.map(_("nDocs").toLong).sum, entries.map(_("sumDl").toLong).sum)
  }

  /** [[bm25TopK]] served from the at-rest index: same formula, same
    * answer (avgdl is recomputed from the sidecar's exact longs the
    * way `avg(long)` computes it — long sum cast to double, divided —
    * so store and live scores are bit-identical). The probe collects
    * its own ≤ `buckets` distinct bucket ids (bounded driver fetch, the
    * banded-store convention) and the postings scan carries a partition
    * filter on them. df comes from the pruned read itself — complete
    * for every query term because a term's postings never straddle
    * buckets. */
  def bm25TopKFromIndex(dir: String, queries: DataFrame, k: Int,
                        qIdCol: String = "q_id", qTextCol: String = "q_text",
                        k1: Double = 1.2, b: Double = 0.75,
                        maxDfRatio: Double = 0.5): DataFrame = {
    val spark = queries.sparkSession
    val buckets = openBm25Index(spark, dir)("buckets").toLong
    val (nDocs, sumDl) = readBm25Stats(spark, dir)
    // an empty base install (or a corrupt stats entry) must fail loudly
    // here, not surface as NaN/Infinity scores downstream
    require(nDocs > 0, s"bm25 index at $dir records nDocs=$nDocs — " +
      "empty base install or corrupt _stats; rebuild the index")
    val avgdl = sumDl.toDouble / nDocs
    def terms(c: Column) = split(trim(lower(c)), "\\s+")
    val qterms = queries.select(col(qIdCol).as("q_id"),
        explode(array_distinct(terms(col(qTextCol)))).as("term"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets)))
    val qb = qterms.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(qb: _*))
    val df = post.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = qterms.join(post, Seq("term", "bucket")).join(df, "term")
      .filter(col("df") <= lit(maxDfRatio) * lit(nDocs))
      .withColumn("idf",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .groupBy("q_id", "n_id")
      .agg(round(sum(col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl)))), 6)
        .as("bm25"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("bm25"), asc("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("bm25"))
  }

  /** T5-style span corruption (Raffel et al. 2020, arXiv:1910.10683 —
    * the denoising pretraining objective): the token stream is cut
    * into `nSegments` contiguous segments, and in every segment long
    * enough a run of `spanLen` tokens is replaced by a numbered
    * sentinel in the INPUT and moved — sentinel-prefixed — to the
    * TARGET, which a final terminator sentinel closes. Like
    * `fimTransform`, ALL noise derives from the id's md5 (the u24
    * convention), so the corruption is reproducible across engines,
    * partitionings, and replays — no RNG state anywhere.
    *
    * Per segment k of [floor(kL/n), floor((k+1)L/n)): if the segment
    * has more than `spanLen` tokens, the span starts at
    * segStart + u24(id:sk) % (segLen − spanLen + 1); shorter segments
    * pass through uncorrupted (n_spans counts the corrupted ones).
    *
    * Scale shape: pure map-side — tokenize once, slice per segment
    * with compile-time-unrolled expressions (nSegments is a plan
    * constant, not data), no shuffle at any corpus size. */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
                  nSegments: Int = 3, spanLen: Int = 2): DataFrame = {
    require(nSegments >= 1 && spanLen >= 1, "nSegments, spanLen >= 1")
    def u24(salt: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))
        .cast("binary")), 1, 6), 16, 10).cast("long")
    val base = df.select(col(idCol), tokens(col(textCol)).as("_tk"))
      .withColumn("_L", size(col("_tk")).cast("long"))
    val L = col("_L")
    val tk = col("_tk")
    val segs = (0 until nSegments).map { k =>
      val segStart = floor(L * k / nSegments.toDouble).cast("long")
      val segEnd = floor(L * (k + 1) / nSegments.toDouble).cast("long")
      val segLen = segEnd - segStart
      val can = segLen > spanLen
      // greatest(...,1): ANSI-safe denominator on the uncorrupted branch
      val off = u24(s":s$k") % greatest(segLen - spanLen + 1, lit(1L))
      val spanStart = segStart + off
      val sentinel = array(lit(s"<extra_id_$k>"))
      val pre = slice(tk, (segStart + 1).cast("int"),
        (spanStart - segStart).cast("int"))
      val span = slice(tk, (spanStart + 1).cast("int"), lit(spanLen))
      val post = slice(tk, (spanStart + spanLen + 1).cast("int"),
        (segEnd - spanStart - spanLen).cast("int"))
      val whole = slice(tk, (segStart + 1).cast("int"), segLen.cast("int"))
      (when(can, concat(pre, sentinel, post)).otherwise(whole),
        when(can, concat(sentinel, span))
          .otherwise(array().cast("array<string>")),
        when(can, 1L).otherwise(0L))
    }
    val inputArr = concat(segs.map(_._1): _*)
    val targetArr = concat(segs.map(_._2) :+
      array(lit(s"<extra_id_$nSegments>")): _*)
    base.select(col(idCol), L.as("n_tokens"),
      segs.map(_._3).reduce(_ + _).as("n_spans"),
      array_join(inputArr, " ").as("input_text"),
      array_join(targetArr, " ").as("target_text"))
  }

  /** Control-character / unicode scrub — the byte-hygiene pass every
    * crawl pipeline runs before tokenization: strips C0/C1 control
    * chars (tab and newline survive), the BOM, and zero-width
    * joiners/spaces; normalizes CRLF and lone CR to LF and NBSP to a
    * plain space. Pure regexp, map-side, codegen'd; compare lengths
    * before/after for an n_scrubbed signal a quality gate can drop
    * mostly-garbage docs on. */
  def scrubText(text: Column): Column = {
    // \\x{...} escapes parse identically in Java regex and RE2, so the
    // DuckDB oracle replays the same three passes verbatim
    val lf = regexp_replace(text, "\\r\\n?", "\n")
    val sp = regexp_replace(lf, "[\\x{A0}]", " ")
    regexp_replace(sp,
      "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}" +
        "\\x{80}-\\x{9F}\\x{FEFF}\\x{200B}-\\x{200D}]",
      "")
  }

  /** Domain-level quality prior — the FineWeb-style curation rule
    * that judges the SITE, not just the page: per registered domain,
    * aggregate document quality and drop every page of a domain whose
    * average falls below `minAvgQuality` (domains with fewer than
    * `minDocs` pages are exempt — too little signal to damn a site).
    * The aggregate is a DECIMAL(18,6) sum of 6-dp-rounded scores, and
    * the keep rule compares `qsum >= thr * n` IN decimal — no float
    * summation-order sensitivity, so any engine replays the verdict
    * bit-exactly (the DECIMAL-sums portability discipline). Output
    * adds `domain`, `domain_docs`, `domain_qsum` (double, exact cast
    * of the decimal) and `keep`; all rows flow for the audit trail.
    *
    * Scale shape: one map-side-combinable aggregate over skinny
    * (domain, decimal) rows, one domain-keyed join back (AQE
    * broadcasts it when the domain census fits, which it usually
    * does — the web has ~10⁸ registered domains, the census rows are
    * ~30 bytes). */
  def domainQualityPrior(df: DataFrame, idCol: String, urlCol: String,
                         qualityCol: String, minAvgQuality: Double,
                         minDocs: Long = 30L): DataFrame = {
    val d = df.withColumn("domain", registeredDomain(col(urlCol)))
    val agg = d.groupBy("domain").agg(
      count(lit(1)).as("domain_docs"),
      sum(round(col(qualityCol), 6).cast("decimal(18,6)")).as("_qsum"))
    d.join(agg, Seq("domain"))
      .withColumn("domain_qsum", col("_qsum").cast("double"))
      .withColumn("keep",
        col("domain_docs") < minDocs ||
          col("_qsum") >=
            lit(minAvgQuality).cast("decimal(18,6)") * col("domain_docs"))
      .drop("_qsum")
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: words + extra splits for long words
    * (a word of length L costs ceil(L/4) tokens, the common ~4-chars-per-
    * token heuristic). */
  def subwordCountEstimate(text: Column): Column =
    aggregate(
      transform(tokens(text), w => ceil(length(w) / lit(4.0)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Quality features: char length, word count, mean word length,
    * punctuation ratio, stopword ratio, uppercase ratio. */
  def qualityFeatures(text: Column, stopwords: Seq[String]): Seq[Column] = {
    val toks = tokens(text)
    val nWords = size(toks).cast("double")
    val nChars = length(text).cast("double")
    Seq(
      nChars.cast("long").as("n_chars_q"),
      size(toks).as("n_words"),
      round(aggregate(transform(toks, w => length(w).cast("double")),
        lit(0.0), (acc, v) => acc + v) / nWords, 6).as("mean_word_len"),
      round((nChars - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", "")))
          / greatest(nChars, lit(1.0)), 6)
        .as("punct_ratio"),
      round(size(filter(toks, w => w.isin(stopwords: _*))) / nWords, 6)
        .as("stopword_ratio"))
  }

  /** Composite quality score in [0,1]: rewards moderate length and
    * stopword presence, penalizes punctuation noise. Deterministic,
    * monotone pieces — the exact blend is a policy choice. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val nWords = size(toks).cast("double")
    val lenScore = least(nWords / lit(50.0), lit(1.0))
    val stopScore = least(
      size(filter(toks, w => w.isin(stopwords: _*))) / greatest(nWords * 0.05, lit(1.0)),
      lit(1.0))
    val punctPenalty =
      (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", ""))).cast("double") /
        greatest(length(text).cast("double"), lit(1.0))
    round(lenScore * 0.5 + stopScore * 0.5 - punctPenalty, 6)
  }

  /** T12 — quality-percentile gate: drop the bottom `frac` quantile of
    * the corpus by `scoreCol` (the corpus-relative cut quality-filter
    * stages apply — an absolute threshold drifts as the corpus mix
    * changes, a percentile tracks it).
    *
    * `exact = false` (the 100 TB default) thresholds on
    * `approx_percentile` — a t-digest-style sketch, one map-side-
    * combinable pass, error bounded by `accuracy`. `exact = true` uses
    * the exact interpolated `percentile` aggregate (sort-buffers the
    * score column per partial — fine up to ~10⁸ rows, the
    * cross-engine-checkable baseline; DuckDB's quantile_cont computes
    * the same (n−1)·frac interpolation).
    *
    * Either way the threshold stays IN the plan as a 1-row broadcast —
    * no collect, and the filter is a plain comparison the scan side
    * evaluates map-side (the nested-loop the crossJoin plans is 1×n
    * against a single broadcast row; a constant-key equi-join would be
    * constant-folded back to exactly this shape). Rows equal to the
    * threshold are KEPT. */
  def qualityCut(df: DataFrame, scoreCol: String, frac: Double,
                 exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(frac >= 0.0 && frac < 1.0, s"frac must be in [0,1), got $frac")
    val thrAgg =
      if (exact) percentile(col(scoreCol), lit(frac))
      else percentile_approx(col(scoreCol), lit(frac), lit(accuracy))
    val thr = broadcast(df.agg(thrAgg.as("_thr")))
    // coalesce(…, false), not a bare >=: a null-intolerant comparison
    // lets Catalyst infer isnotnull(scoreCol) and push it through every
    // exchange down to the scan — re-evaluating the ENTIRE derived
    // score expression (quality is a multi-regex composite) inside the
    // scan task as a filter, once more per row, serializing a widened
    // pass back into one task on narrow input (round-19 plan capture:
    // t12's Filter(2) carried the full quality expression below the
    // widen). Null scores were dropped before (null >= thr is null)
    // and are dropped now — row semantics identical, the duplicated
    // evaluation gone.
    df.crossJoin(thr)
      .filter(coalesce(col(scoreCol) >= col("_thr"), lit(false)))
      .drop("_thr")
  }

  /** Per-group corpus-relative quality gate: `qualityCut` with the
    * percentile threshold computed WITHIN each group (e.g. language).
    * A global cut on a multilingual crawl deletes whole low-resource
    * languages — their scores sit below the majority language's
    * quartile; the stratified cut keeps each stratum's own top
    * (1 − frac). Thresholds are one row per GROUP (a handful of
    * languages), so the join back is AQE-broadcast and the corpus
    * never shuffles; the default approx sketch is one mergeable pass
    * (`exact = true` only for oracle parity, like `qualityCut`). */
  def stratifiedQualityCut(df: DataFrame, groupCol: String,
                           scoreCol: String, frac: Double,
                           exact: Boolean = false,
                           accuracy: Int = 10000): DataFrame = {
    require(frac >= 0.0 && frac < 1.0, s"frac must be in [0,1), got $frac")
    val thrAgg =
      if (exact) percentile(col(scoreCol), lit(frac))
      else percentile_approx(col(scoreCol), lit(frac), lit(accuracy))
    val thr = df.groupBy(groupCol).agg(thrAgg.as("_thr"))
    // null-tolerant comparison for the same reason as qualityCut's:
    // stop the inferred isnotnull(scoreCol) from re-evaluating the
    // whole derived score below the exchanges
    df.join(broadcast(thr), Seq(groupCol))
      .filter(coalesce(col(scoreCol) >= col("_thr"), lit(false)))
      .drop("_thr")
  }

  /** Top-k tokens by frequency within each group (e.g. language) — the
    * vocabulary census a tokenizer-training or corpus-mix report runs.
    * Scale shape: the token explode is map-side generate; the
    * (group, token) count is one map-side-combinable aggregate; the
    * top-k rank runs over the COUNTS table (vocab-sized — millions of
    * rows, not the corpus' billions of token occurrences) through the
    * DISTRIBUTED rank primitive ([[graft.ops.DistributedRank]]): a
    * web crawl's per-language vocabulary (typos, URLs, junk tokens)
    * grows with the corpus, so even the counts table can make the
    * dominant language a single-task sort under a plain
    * partitionBy(group) window. Ties break by token for
    * determinism. */
  def topTokensPerGroup(df: DataFrame, groupCol: String, textCol: String,
                        k: Int): DataFrame = {
    val counts = df
      .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(groupCol, "token").agg(count(lit(1)).as("n"))
    graft.ops.DistributedRank.withRankAndCumsum(counts, groupCol,
        Seq(desc("n"), asc("token")))
      .withColumn("rank", col("_rk").cast("int"))
      .filter(col("rank") <= k)
      .drop("_rk", "_n")
  }

  /** Language profiles: characteristic function words per language.
    * Public knowledge (standard stopword lists). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  /** n-gram/stopword language-ID heuristic: score = number of tokens that
    * belong to each language's profile; argmax wins, ties broken by
    * profile order (alphabetical, so 'en' beats 'es' at equal score).
    *
    * Implemented as array_max over (score, priority) structs: a when-chain
    * fold would nest each comparison inside the next and duplicate every
    * score subtree exponentially (measured 11 s → 0.5 s at sf0.1). */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = langProfiles.size
    val entries = langProfiles.zipWithIndex.map { case ((_, words), i) =>
      struct(
        size(filter(toks, w => w.isin(words: _*))).as("score"),
        lit(n - 1 - i).as("pri")) // higher pri = earlier profile wins ties
    }
    val best = array_max(array(entries: _*))
    element_at(
      array(langProfiles.reverse.map(p => lit(p._1)): _*),
      best.getField("pri") + 1)
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercase text
    * (rolling-hash-class dedup key; md5 keeps it oracle-comparable). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** C4-style canonical form: lowercase, punctuation → space, collapsed
    * whitespace, trimmed. Catches the reformatting-only duplicates exact
    * dedup misses ("Hello, World!" ≡ "hello world") while staying a pure
    * per-row codegen'd expression — no tokenizer, no model. Punctuation
    * maps to SPACE, not empty: "foo-bar" must canonicalize like
    * "foo bar", not fuse into a new token. The kept class is the
    * UNICODE letters+digits (`\p{L}\p{N}`, identical semantics in Java
    * regex and RE2/DuckDB) — an ASCII-only `[a-z0-9]` class would
    * canonicalize every CJK document to the empty string and collapse a
    * multilingual corpus's non-Latin slice into ONE keeper. */
  def canonicalForm(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "), "\\s+", " "))

  /** md5 of the canonical form — the join/group key for canonical
    * ("fuzzy-exact") dedup. */
  def canonicalFingerprint(text: Column): Column = md5(canonicalForm(text))

  /** Token repetition ratio in [0,1): 1 − distinct/total tokens — the
    * standard "repetitious document" filter signal for LLM corpora
    * (boilerplate, keyword stuffing, degenerate generations). Map-side,
    * codegen'd. */
  def repetitionRatio(text: Column): Column = {
    val toks = tokens(text)
    round(lit(1.0) - size(array_distinct(toks)) /
      greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Frequency of the single most repeated token over total tokens —
    * catches documents dominated by one token that still have enough
    * distinct filler to pass `repetitionRatio`. Single pass over the
    * sorted tokens with a (prev, run, best) accumulator — a nested
    * per-distinct-token filter would re-evaluate the tokenization per
    * element (free subexpressions in lambdas are not CSE'd, NOTES
    * gotcha #4). */
  def maxTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    val acc = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (a, w) => {
        val run = when(w === a.getField("prev"), a.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(w.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"))
      })
    round(acc.getField("best") / greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** T30 — character-entropy quality signal: Shannon entropy (nats)
    * of each doc's character distribution, the cheapest degenerate-text
    * detector in the cleaning family (all-one-char padding → 0, prose
    * ~3; see [[graft.functions.CharEntropy]] for the kernel and the
    * C4/Gopher positioning). `keep` = entropy ≥ `minEntropy` as an int
    * flag so the cut composes with the other rule filters. Doc-local,
    * zero exchange, one codegen'd kernel call per row; entropy rounded
    * to 6 dp (the parity rule — summation order is engine-specific in
    * the last ulps). */
  def charEntropyScore(df: DataFrame, idCol: String, textCol: String,
                       minEntropy: Double): DataFrame = {
    val e = graft.plans.GraftFunctions
      .charEntropy(df.sparkSession, col(textCol))
    df.select(col(idCol), round(e, 6).as("char_entropy"))
      .withColumn("keep",
        (col("char_entropy") >= minEntropy).cast("int"))
  }

  /** PII patterns (email / IPv4 / dashed-or-dotted phone). Deliberately
    * RE2-compatible (no backrefs/lookarounds) so the same pattern runs
    * identically under Java regex and DuckDB's RE2 — cross-engine
    * verifiable, and portable to other engines at scale. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>")

  /** Redact PII spans with typed placeholders — the scrubbing step every
    * LLM training corpus runs. Chained regexp_replace, map-side,
    * codegen'd. Email runs first so an address is never half-eaten by
    * the numeric patterns. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Number of PII spans matched, counted per pattern independently over
    * the raw text (a span matching two patterns — an IP inside an email
    * domain — counts once per pattern, while `redactPii` replaces it
    * once; the counts are a scrub-volume signal, not an exact diff). */
  def piiCount(text: Column): Column =
    piiPatterns.map { case (pat, _) => regexp_count(text, lit(pat)) }
      .reduce(_ + _)

  /** Unigram language-model score: mean ln P(token) under the corpus's
    * own add-one-smoothed unigram distribution — the cheap fluency
    * signal (gibberish and OOV-heavy documents score far below the
    * corpus norm). The vocabulary table is ≪ corpus and broadcasts; the
    * corpus-wide totals are one tiny driver aggregate. Output:
    * (id, n_tokens, avg_logp). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    // the smoothing denominator stays IN the plan (1-row broadcast) —
    // an eager .head() here would tokenize and aggregate the corpus in
    // a separate job and then recompute it all when the result runs;
    // as one query, the vocab aggregation exchange is shared/reused
    val denom = broadcast(vocab.agg(
      (sum("cnt") + count(lit(1))).cast("double").as("_denom")))
    tok.join(vocab, "token")
      .crossJoin(denom)
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log((col("cnt") + 1).cast("double") / col("_denom"))), 6)
          .as("avg_logp"))
      .select("id", "n_tokens", "avg_logp")
  }

  /** Concat-and-chop sequence packing: documents are concatenated in
    * deterministic (shard, id) order and cut into `budget`-token chunks —
    * the standard LLM pretraining packing scheme. Packing is SHARD-LOCAL:
    * a single global order would serialize the running sum into one
    * partition, while per-shard windows scale with the cluster (shard =
    * id mod `shards`; at 100 TB set shards ≈ total cores). Output:
    * (id, shard, n_tokens, chunk_id) — the shard-local chunk each
    * document starts in — plus any `carry` columns passed through
    * verbatim (so callers don't re-join the input, re-running its
    * lineage, just to recover a label). */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, shards: Int,
                    carry: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(Seq(col(idCol).as("id"),
        pmod(col(idCol), lit(shards)).as("shard"),
        tokenCount(col(textCol)).cast("long").as("n_tokens")) ++
        carry.map(col): _*)
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("chunk_id",
        floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).cast("long"))
      .select((Seq("id", "shard", "n_tokens", "chunk_id") ++ carry).map(col): _*)
  }

  /** Sliding-window document chunking: split each document into
    * token-window chunks of `chunkSize` tokens starting every `stride`
    * tokens (stride < chunkSize ⇒ overlapping chunks — the standard
    * long-context preprocessing step before embedding or training).
    * Output: (id, chunk_id, chunk_text, n_tokens); the final chunk may
    * be short, and a document shorter than one chunk yields exactly one.
    *
    * Scale shape: pure map-side — tokenize once (the token array is
    * projected BEFORE the lambda, see `shingles` for why), generate
    * window starts with `sequence`, slice per start, posexplode. No
    * shuffle at all; parallelism is the scan's. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, stride: Int,
                     carry: Seq[String] = Nil): DataFrame = {
    require(stride > 0 && chunkSize > 0, "chunkSize and stride must be positive")
    val tokenized = df.select(Seq(col(idCol).as("id"),
      tokens(col(textCol)).as("toks")) ++ carry.map(col): _*)
    val toks = col("toks")
    val chunks = transform(
      sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)),
      s => slice(toks, s + 1, lit(chunkSize)))
    tokenized
      .select(Seq(col("id"),
        posexplode(chunks).as(Seq("chunk_id", "chunk"))) ++ carry.map(col): _*)
      .select(Seq(col("id"), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", col("chunk")).as("chunk_text"),
        size(col("chunk")).cast("long").as("n_tokens")) ++ carry.map(col): _*)
  }

  /** Per-token TF-IDF over a corpus: (id, token, tf, df, tfidf) with
    * idf = ln(N / df). One explode + two aggregations + one join. At
    * 100 TB the df table is vocabulary-sized (≪ corpus — Heaps' law),
    * so the join back onto the term table broadcasts (AQE converts it
    * once the aggregate's size is known) and the term table is not
    * re-shuffled. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = df.count()
    val terms = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val docFreq = terms.groupBy("token")
      .agg(count(lit(1)).as("df"))
    terms.join(docFreq, "token")
      .withColumn("tfidf", round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .select("id", "token", "tf", "df", "tfidf")
  }

  /** Corpus card: the per-(source, lang) datasheet every corpus release
    * ships (Gebru et al. 2021, "Datasheets for Datasets") — document and
    * token counts, quality-score mean and median, and the exact-dup
    * rate, in ONE grouped pass. The dup flag marks docs whose content
    * fingerprint appears more than once anywhere in the corpus (docs
    * sharing a fingerprint are exact dups — each one counts, including
    * the keeper, since the card reports duplication PRESENT, not
    * removal savings). Scale shape: fingerprint multiplicities are a
    * map-side-combinable groupBy+count joined back on the fp key (the
    * d19 pattern) — SKEW-IMMUNE where a window over _fp was not: a
    * pathological corpus with one document duplicated millions of
    * times partial-aggregates to one (fp, count) row instead of
    * landing every copy in a single window partition, and the join
    * back is AQE-skew-splittable; then one (source, lang) aggregation
    * over skinny projections; quality/tokens are map-side; the card
    * itself is groups-sized. */
  def corpusCard(df: DataFrame, idCol: String, textCol: String,
                 srcCol: String, langCol: String,
                 stopwords: Seq[String]): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(srcCol).as("source"),
      col(langCol).as("lang"),
      fingerprint(col(textCol)).as("_fp"),
      tokenCount(col(textCol)).cast("long").as("_ntok"),
      qualityScore(col(textCol), stopwords).as("_q"))
    val fpCounts = base.groupBy("_fp")
      .agg(count(lit(1)).as("_fpc"))
      .withColumnRenamed("_fp", "_fpk")
    // NULL-SAFE join key: a null textCol fingerprints to NULL, which a
    // plain equality join silently DROPS from the card (the window
    // this replaced grouped NULLs together) — <=> keeps those rows and
    // counts null-text docs as mutual dups, exactly as the window did
    base.join(fpCounts, col("_fp") <=> col("_fpk"), "left")
      .withColumn("_dup", when(col("_fpc") > 1, 1L).otherwise(0L))
      .groupBy("source", "lang")
      // q_sum in DECIMAL: a double avg/sum rounded at N dp can land
      // EXACTLY on a half-way point (NOTES gotcha 14 — this bit the
      // first draft's q_mean at sf0.001, and an interpolated q_median
      // midpoint of two 6-dp values at sf0.01, each off by 1e-6 vs the
      // oracle); summing exact 6-dp decimals keeps HALF_UP
      // bit-identical across engines, and q_min/q_max are DATA POINTS
      // (no derived arithmetic to round). Mean and dup rate are one
      // division away for the consumer — ratios of arbitrary group
      // sizes re-introduce the half-way hazard, so the card ships the
      // exact numerators.
      .agg(count(lit(1)).as("n_docs"),
        sum("_ntok").as("tok_total"),
        sum(col("_q").cast("decimal(16,6)")).cast("double").as("q_sum"),
        min("_q").as("q_min"),
        max("_q").as("q_max"),
        sum("_dup").as("dup_docs"))
  }

  /** Train a BPE subword vocabulary on a corpus (Sennrich et al. 2016):
    * the distributed half is ONE map-side-combinable word-count
    * aggregation capped to the `maxVocabWords` most frequent words
    * (vocab ≪ corpus by Heaps' law; the rare tail BPE segments to
    * characters anyway, so capping the TRAINING dictionary is the
    * standard large-corpus practice); the merge loop then runs
    * driver-side over that bounded dictionary — never over the corpus.
    * Deterministic: ties break lexicographically, no RNG. Returns the
    * merge list in training order ("left right" per entry) — feed it
    * to [[graft.plans.GraftFunctions.bpeEncode]], which applies it
    * map-side with a per-distinct-word memo. */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int,
               maxVocabWords: Int = 50000): Seq[String] = {
    val counts = df
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(maxVocabWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    graft.functions.BpeTrainer.train(counts, numMerges)
  }

  /** Gopher repetition/quality rules (Rae et al. 2021, arXiv:2112.11446
    * Table A1 — the standard pretraining-corpus document filter;
    * reference counterpart: the quality gates of
    * utils/bronze_to_silver.py-style row filtering, generalized to the
    * LLM-corpus rule set). Per document:
    *   - word count in [minWords, maxWords];
    *   - mean word length in [3, 10];
    *   - symbol-to-word ratio ('#' chars + '...' occurrences) ≤ 0.1;
    *   - ≥ 80% of words contain an alphabetic character;
    *   - ≥ 2 of the required stopwords present;
    *   - fraction of characters in the most-covering {2,3,4}-gram
    *     ≤ {0.20, 0.18, 0.16};
    *   - fraction of characters in duplicated {5..10}-grams
    *     ≤ {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}.
    * Char fractions use the count × charLen product over the raw text
    * length (see [[graft.functions.WordGramCoverage]] for the overlap
    * and hashing conventions; "most common n-gram" is resolved as max
    * char MASS, which needs no cross-engine tie rule). All stats are
    * doc-local — the word stats are Catalyst expressions, the n-gram
    * coverage is ONE native codegen'd kernel pass over the token array
    * (nine interpreted HOF aggregates measured 13× slower) — ZERO
    * exchange, no UDFs; at 100 TB this is a pure map pass whose
    * parallelism is the scan's. Output: one row per doc with every
    * rule value (6 dp) and the conjunction `keep`. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  requiredStopwords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    gopherRulesTokenized(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        tokens(col(textCol)).as("toks")),
      requiredStopwords, minWords, maxWords)

  /** [[gopherRules]] over a PRE-TOKENIZED corpus — the tokenize-once
    * contract for composite pipelines: `pre` must carry (doc_id, text,
    * toks) where toks is the already-split token array (the same
    * [[tokens]] projection a DSIR stage downstream also consumes), so
    * a filter-then-select composite splits the corpus text exactly
    * once. Semantics and output are identical to [[gopherRules]]. */
  def gopherRulesTokenized(pre: DataFrame,
                           requiredStopwords: Seq[String] =
                             Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                           minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val topNgrams = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dupNgrams = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
      9 -> 0.11, 10 -> 0.10)
    val base = pre.select(col("doc_id"), col("text").as("_text"),
      col("toks").as("_ws"))
    val ws = col("_ws")
    val text = col("_text")
    val nWords = size(ws).cast("double")
    val nChars = greatest(length(text), lit(1)).cast("double")
    val statCols: Seq[Column] = Seq(col("doc_id"), text, ws,
      size(ws).cast("long").as("n_words"),
      round(aggregate(transform(ws, w => length(w).cast("double")),
        lit(0.0), (acc, v) => acc + v) / greatest(nWords, lit(1.0)), 6)
        .as("mean_word_len"),
      round(((length(text) - length(replace(text, lit("#"), lit("")))) +
        (length(text) - length(replace(text, lit("..."), lit("")))) / 3)
        .cast("double") / greatest(nWords, lit(1.0)), 6)
        .as("symbol_ratio"),
      round(size(filter(ws, w => w.rlike("[A-Za-z]"))) /
        greatest(nWords, lit(1.0)), 6).as("alpha_word_frac"),
      requiredStopwords.map(sw =>
        when(array_contains(ws, sw), 1).otherwise(0)).reduce(_ + _)
        .cast("long").as("stop_hits"))
    val covered = base.select(statCols :+
      graft.plans.GraftFunctions.wordGramCoverage(
        pre.sparkSession, ws, 2, 10).as("_cov"): _*)
    val fracCols: Seq[Column] =
      topNgrams.map { case (n, _) =>
        round(col("_cov").getItem(n - 2).getField("maxp") / nChars, 6)
          .as(s"top${n}_frac")
      } ++
      dupNgrams.map { case (n, _) =>
        round(col("_cov").getItem(n - 2).getField("dups") / nChars, 6)
          .as(s"dup${n}_frac")
      }
    val withFracs = covered.select(
      Seq(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_word_frac"), col("stop_hits")) ++
        fracCols: _*)
    val keep = Seq(
      col("n_words").between(minWords, maxWords),
      col("mean_word_len").between(3.0, 10.0),
      col("symbol_ratio") <= 0.1,
      col("alpha_word_frac") >= 0.8,
      col("stop_hits") >= 2) ++
      topNgrams.map { case (n, t) => col(s"top${n}_frac") <= t } ++
      dupNgrams.map { case (n, t) => col(s"dup${n}_frac") <= t }
    withFracs.withColumn("keep",
      when(keep.reduce(_ && _), 1).otherwise(0).cast("long"))
  }

  /** CCNet-style INTERPOLATED BIGRAM language-model score (Wenzek et
    * al. 2019, arXiv:1911.00359 — CCNet filters CommonCrawl by LM
    * perplexity; reference counterpart: the quality-scored row
    * filtering family). Per document, the mean over bigram positions
    * (w_{i-1}, w_i) of
    *   ln( λ · bc(p,c)/uc(p)  +  (1−λ) · (uc(c)+1)/(T+V) )
    * — an MLE bigram term interpolated with [[unigramLogProb]]'s
    * add-one unigram (the t9 convention), so the score is finite for
    * every position including unseen bigrams/words.
    *
    * Scale shape: counting is two map-side-combinable aggregates over
    * exploded grams (never text); the MODEL is capped — top
    * `maxBigrams` bigrams and top `maxVocab` unigrams by (count desc,
    * md5 asc) — so the tables the scoring pass joins against are
    * broadcast-sized no matter the corpus (pruned-KenLM's role; T and
    * V stay FULL-vocabulary via a 1-row aggregate). Ties break on the
    * md5 hex of the gram, NOT the raw string — md5 hex is ASCII, so
    * the cap is collation-proof across engines (Java UTF-16 vs DuckDB
    * UTF-8 byte order diverge on non-ASCII tokens). A bigram or
    * unigram outside the capped model scores as unseen — identical
    * rule both sides. The doc-side gram frame is localCheckpoint'd:
    * it feeds the bigram count AND the scoring pass, so the corpus is
    * split exactly once (the tokenize-once contract).
    *
    * Output: (id, n_bigrams, avg_logp), one row per input doc;
    * docs with < 2 tokens carry n_bigrams = 0 and a NULL score. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.7, maxBigrams: Int = 200000,
                    maxVocab: Int = 100000): DataFrame =
    bigramLogProbAgainst(df, df, idCol, textCol, lambda, maxBigrams,
      maxVocab)

  /** [[bigramLogProb]] with the model trained on a SEPARATE corpus —
    * the actual CCNet shape: the LM is fitted on the TARGET domain
    * (CCNet uses Wikipedia) and the crawl is scored under it, so a
    * low score means "unlike the target", not "rare in the crawl".
    * `train` and `score` may be the same frame ([[bigramLogProb]] is
    * exactly that); when they differ, the model-side aggregates run
    * over `train` only and the scoring pass never touches it again.
    * The add-one denominator (T + V) is the TRAIN corpus's — the
    * scored corpus cannot move the model's floor.
    *
    * CONTRACT: the single-corpus tokenize-once path is keyed on
    * REFERENCE identity (`train eq score`), not plan equality —
    * passing two equal-but-distinct DataFrame objects is CORRECT but
    * tokenizes twice (call [[bigramLogProb]], or pass the same object,
    * to get the shared-checkpoint path). Reference identity is the
    * only safe key: plan equality is undecidable in general and a
    * false positive would silently score against the wrong corpus. */
  def bigramLogProbAgainst(train: DataFrame, score: DataFrame,
                           idCol: String, textCol: String,
                           lambda: Double = 0.7, maxBigrams: Int = 200000,
                           maxVocab: Int = 100000): DataFrame = {
    val sameCorpus = train eq score
    // deliberately NOT widened (round-19 measurement): the bigram
    // explode over this battery's corpora is a sub-second serial pass,
    // and the widen's exchange + wider task fan cost MORE than it
    // saved on every bigram key (t24 +0.8 s, llm_ccnet +1.1 s,
    // llm_curriculum +0.9 s median) — the widen pays only where the
    // serial map pass is ≳1 s (the shingles/quality families)
    val tok = score.select(col(idCol).as("id"), tokens(col(textCol)).as("_ws"))
    val bigs = docBigrams
    // when train == score the doc-side gram frame also feeds the model
    // counts — materialize it once (eager; blocks released by the
    // ContextCleaner) so the corpus is split exactly once. In the
    // TWO-corpus case docBig has a single consumer (the scoring join),
    // so a checkpoint would only double its I/O — the heaviest map
    // stage of the operator written to block storage for one read.
    val docBigBase = tok.select(col("id"), explode(bigs).as("_bg"))
      .select(col("id"), col("_bg.p").as("p"), col("_bg.c").as("c"))
    val docBig = if (sameCorpus) docBigBase.localCheckpoint() else docBigBase
    // Option, not null: the sameCorpus branches below must be able to
    // evolve without a latent NPE on an accidental dereference
    val trainTok: Option[DataFrame] =
      if (sameCorpus) None
      else Some(train.select(tokens(col(textCol)).as("_ws")).localCheckpoint())
    // vocabulary-sized with TWO consumers (the denominator aggregate
    // and the capped table) — materialize so the train-side
    // explode+shuffle runs once, not per consumer (the
    // writeBigramLmStore idiom)
    val uniAll =
      trainTok.getOrElse(tok).select(explode(col("_ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("uc"))
        .localCheckpoint()
    // add-one denominator over the FULL train vocabulary (1-row
    // broadcast, the unigramLogProb idiom) — capping must not move
    // the floor
    val denom = broadcast(uniAll.agg(
      (sum("uc") + count(lit(1))).cast("double").as("_denom")))
    val uni = uniAll.orderBy(desc("uc"), md5(col("w")).asc)
      .limit(maxVocab)
    val trainBig = trainTok match {
      case None => docBig.select("p", "c")
      case Some(tt) => tt.select(explode(bigs).as("_bg"))
        .select(col("_bg.p").as("p"), col("_bg.c").as("c"))
    }
    val bc = trainBig.groupBy("p", "c").agg(count(lit(1)).as("bc"))
      .orderBy(desc("bc"), md5(concat_ws(" ", col("p"), col("c"))).asc)
      .limit(maxBigrams)
    scoreAgainstLm(tok, docBig, uni, bc, _.crossJoin(denom), lambda)
  }

  /** The doc-side positional-bigram struct array over a `_ws` token
    * column — shared by the live trainer and the store paths. */
  private def docBigrams: Column =
    when(size(col("_ws")) >= 2,
      transform(sequence(lit(0), size(col("_ws")) - 2),
        i => struct(element_at(col("_ws"), i + 1).as("p"),
          element_at(col("_ws"), i + 2).as("c"))))
      .otherwise(array().cast("array<struct<p:string,c:string>>"))

  /** The shared scoring tail: doc bigrams joined against the model's
    * broadcast-sized capped tables, interpolated, averaged per doc,
    * 0/NULL rows restored for < 2-token docs. `attachDenom` supplies
    * the add-one denominator column `_denom` — a 1-row cross join on
    * the live path, a literal on the store path; the VALUE is the
    * same double, so the two paths score bit-identically. */
  private def scoreAgainstLm(tok: DataFrame, docBig: DataFrame,
                             uni: DataFrame, bc: DataFrame,
                             attachDenom: DataFrame => DataFrame,
                             lambda: Double): DataFrame = {
    val pUni = (coalesce(col("_cuc"), lit(0L)) + 1).cast("double") / col("_denom")
    val pBig = when(coalesce(col("_puc"), lit(0L)) > 0,
      coalesce(col("bc"), lit(0L)).cast("double") / col("_puc"))
      .otherwise(lit(0.0))
    val scored = attachDenom(docBig
        .join(broadcast(bc), Seq("p", "c"), "left")
        .join(broadcast(uni.select(col("w").as("p"), col("uc").as("_puc"))),
          Seq("p"), "left")
        .join(broadcast(uni.select(col("w").as("c"), col("uc").as("_cuc"))),
          Seq("c"), "left"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(pBig * lambda + pUni * (1 - lambda))), 6)
          .as("avg_logp"))
    // docs with < 2 tokens have no bigram rows — restore them with a
    // 0/NULL row so the output is one row per input doc
    tok.select(col("id")).join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"))
  }

  /** The bigram LM AT REST — the engine's store pattern (fp store,
    * near-dup store, IVF/PQ index, eval-gram store) applied to the
    * CCNet model: the capped unigram and bigram count tables as
    * parquet plus `_meta.json` carrying the add-one denominator and
    * the cap geometry. The model is frozen when the TARGET corpus is
    * (CCNet's Wikipedia role); crawl batches then score against the
    * store without ever touching the target again —
    * [[bigramLogProbFromStore]] and the streaming twin
    * ([[graft.streaming.EventStream.streamingLmScoreIngest]]). The
    * denominator is stored as `Double.toString` (round-trips
    * exactly), so store ≡ live to the bit. */
  def writeBigramLmStore(train: DataFrame, textCol: String, dir: String,
                         maxBigrams: Int = 200000,
                         maxVocab: Int = 100000): Unit = {
    val spark = train.sparkSession
    val tok = train.select(tokens(col(textCol)).as("_ws")).localCheckpoint()
    val uniAll = tok.select(explode(col("_ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("uc"))
      .localCheckpoint() // feeds the denominator AND the capped table
    val denomRow = uniAll.agg((sum("uc") + count(lit(1))).cast("double"))
      .head() // bounded 1-row fetch
    // loud empty-corpus failure (the trainPq convention): an empty
    // train frame would otherwise surface as an opaque NPE here while
    // the live path degrades to NULL scores — store ≡ live demands
    // neither silently diverges
    require(!denomRow.isNullAt(0),
      "writeBigramLmStore: the train corpus is empty — the model needs at least one token")
    val denom = denomRow.getDouble(0)
    uniAll.orderBy(desc("uc"), md5(col("w")).asc).limit(maxVocab)
      .write.mode("overwrite").parquet(s"$dir/uni")
    tok.select(explode(docBigrams).as("_bg"))
      .select(col("_bg.p").as("p"), col("_bg.c").as("c"))
      .groupBy("p", "c").agg(count(lit(1)).as("bc"))
      .orderBy(desc("bc"), md5(concat_ws(" ", col("p"), col("c"))).asc)
      .limit(maxBigrams)
      .write.mode("overwrite").parquet(s"$dir/bigrams")
    StoreMaintenance.publishMeta(spark, dir, bigramLmStoreVersion,
      Map("denom" -> denom.toString,
        "maxBigrams" -> maxBigrams.toString,
        "maxVocab" -> maxVocab.toString))
  }

  /** Layout version of the bigram-LM store, shared by
    * [[writeBigramLmStore]] and every reader through
    * [[openBigramLmStore]]. */
  private val bigramLmStoreVersion = "1"

  private[graft] def openBigramLmStore(spark: org.apache.spark.sql.SparkSession,
                                       dir: String): Map[String, String] =
    StoreMaintenance.open(spark, dir, bigramLmStoreVersion,
      "writeBigramLmStore")

  /** [[bigramLogProbAgainst]] read from the at-rest model — BIT-
    * IDENTICAL scores to the live path over the train corpus the
    * store was written from (shared scoring tail, stored exact
    * denominator). The model tables are broadcast-sized by the cap
    * contract, so scoring is map-side over the crawl no matter its
    * size. */
  def bigramLogProbFromStore(score: DataFrame, dir: String,
                             idCol: String, textCol: String,
                             lambda: Double = 0.7): DataFrame = {
    val spark = score.sparkSession
    val denom = openBigramLmStore(spark, dir)("denom").toDouble
    scoreBatchAgainstLm(score,
      spark.read.parquet(s"$dir/uni"),
      spark.read.parquet(s"$dir/bigrams"),
      denom, idCol, textCol, lambda)
  }

  /** Score a frame against ALREADY-LOADED model tables — the
    * repeated-consumer entry point (the decontaminateRewriteLoaded
    * convention): a streaming loop scoring micro-batches against the
    * same frozen store loads and persists the tables once and passes
    * them here per batch. */
  def scoreBatchAgainstLm(score: DataFrame, uni: DataFrame,
                          bc: DataFrame, denom: Double,
                          idCol: String, textCol: String,
                          lambda: Double = 0.7): DataFrame = {
    val tok = score.select(col(idCol).as("id"), tokens(col(textCol)).as("_ws"))
    val docBig = tok.select(col("id"), explode(docBigrams).as("_bg"))
      .select(col("id"), col("_bg.p").as("p"), col("_bg.c").as("c"))
    scoreAgainstLm(tok, docBig, uni, bc,
      _.withColumn("_denom", lit(denom)), lambda)
  }

  /** N-GRAM NOVELTY against a reference corpus: per document, the
    * fraction of its DISTINCT word n-grams that do NOT occur anywhere
    * in the reference — the memorization/duplication-risk signal data
    * curation ranks by (a doc whose grams are all already in the
    * reference adds nothing but repetition risk; cf. the novelty
    * analyses of Lee et al. 2021 / the Pile's dedup reports). Shares
    * the decontamination family's gram machinery
    * ([[Dedup.shingles]] — distinct grams per doc, token array
    * projected before the gram lambda).
    *
    * Scale shape: the corpus-side shingle pipeline runs ONCE — a
    * single left join against the reference set with a hit marker
    * feeds one (n_grams, n_matched) aggregation (two independent
    * consumers of the unmaterialized shingle plan would run the
    * tokenize+gram explode twice). The join keys on the 64-bit gram
    * HASH, the d2/d4 family convention — half the shuffle bytes of
    * raw 5-word strings, ~1e-7 collision risk accepted exactly as the
    * Jaccard family accepts it; AQE broadcasts the reference when it
    * fits (the common case: a curated reference ≪ the crawl), and the
    * at-rest variant of this check is the t23 eval-gram store
    * (Bloom-prefiltered probe). Output: (id, n_grams, n_matched,
    * novelty) — docs with < n tokens carry 0/0/NULL. */
  def ngramNovelty(corpus: DataFrame, reference: DataFrame,
                   idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val doc = Dedup.shingles(corpus, idCol, textCol, n)
      .select(col("id"), xxhash64(col("shingle")).as("_h"))
    val ref = Dedup.shingles(reference, idCol, textCol, n)
      .select(xxhash64(col("shingle")).as("_h")).distinct()
      .withColumn("_hit", lit(1))
    val agg = doc.join(ref, Seq("_h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_matched"))
    corpus.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(lit(1.0) -
            coalesce(col("n_matched"), lit(0L)) / col("n_grams"), 6))
          .as("novelty"))
  }

  /** CCNet's HEAD/MIDDLE/TAIL partition over the bigram-LM score: per
    * language, documents ranked by score (best first, id tie-break)
    * split into thirds by EXACT INTEGER arithmetic —
    * (rk−1)·3 < (n−1) → head, < 2(n−1) → middle, else tail — so the
    * boundary is bit-identical in any engine (a percent_rank float
    * compare is not). Docs with no bigrams (< 2 tokens) are excluded:
    * they have no LM evidence to rank on. Scale: the rank runs over
    * SKINNY (id, lang, score) rows — text never enters — through the
    * DISTRIBUTED rank primitive ([[graft.ops.DistributedRank]]), not
    * a `Window.partitionBy(lang)` sort: a real crawl is ~45% one
    * language, and the plain window funnels that whole language into
    * ONE task's sort. Range partitions bound every sort by corpus
    * size / parallelism instead, and the rank value is identical. */
  def ccnetBuckets(scored: DataFrame, langCol: String, scoreCol: String,
                   idCol: String): DataFrame = {
    val skinny = scored.filter(col(scoreCol).isNotNull)
      .select(col(idCol), col(langCol).as("lang"), col(scoreCol))
    graft.ops.DistributedRank.withRankAndCumsum(skinny, "lang",
        Seq(desc(scoreCol), col(idCol)))
      .withColumn("bucket",
        when((col("_rk") - 1) * 3 < col("_n") - 1, "head")
          .when((col("_rk") - 1) * 3 < (col("_n") - 1) * 2, "middle")
          .otherwise("tail"))
  }

  /** C4 line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — the "Colossal Clean Crawled Corpus" heuristics), the
    * line-granular sibling of the doc-level [[gopherRules]]. LINE
    * rules: keep a line iff it ends in terminal punctuation
    * (`. ! ? " '`), has at least `minLineWords` whitespace words, and
    * does not contain "javascript" (case-insensitive substring — the
    * paper's boilerplate-code tell). PAGE rules: drop the page iff
    * the RAW text contains "lorem ipsum" (case-insensitive) or a
    * curly brace or any `blocklist` entry (case-insensitive
    * substring — the paper's bad-words list, caller-supplied policy;
    * substring not token match, so obfuscating punctuation can't
    * dodge it), or fewer than `minKeptLines` lines survive — the
    * kept-line count standing in for C4's ≥ 3-sentence floor (every
    * kept line ends in terminal punctuation, the paper's own
    * sentence proxy; C4's nltk splitter has no SQL twin).
    *
    * Output: (id, total_lines, kept_lines, clean_text, keep) with
    * clean_text = the surviving lines rejoined by \n ('' when none
    * survive) — dropped pages keep their cleaned text so a caller
    * can audit what the page-level rule rejected.
    *
    * Scale: doc-local higher-order functions over the split line
    * array — ZERO exchange, one whole-stage-codegen projection at
    * any corpus size. The terminal-punct regex is RE2-compatible (no
    * lookarounds), the [[piiPatterns]] convention, so the rule set
    * replays identically under DuckDB/RE2 cross-engine. */
  def c4LineClean(df: DataFrame, idCol: String, textCol: String,
                  minLineWords: Int = 5,
                  minKeptLines: Int = 3,
                  blocklist: Seq[String] = Nil): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"']$") &&
        size(split(trim(l), "\\s+")) >= minLineWords &&
        !lower(l).contains("javascript"))
    val pageBad = blocklist.foldLeft(
      lower(col(textCol)).contains("lorem ipsum") ||
        col(textCol).contains("{") || col(textCol).contains("}")) {
      (acc, w) => acc || lower(col(textCol)).contains(w.toLowerCase)
    }
    df.select(col(idCol),
      size(lines).as("total_lines"),
      size(kept).as("kept_lines"),
      array_join(kept, "\n").as("clean_text"),
      (!pageBad && size(kept) >= minKeptLines).cast("int").as("keep"))
  }

  /** HTML → text extraction — the raw-crawl-to-text stage every web
    * pipeline runs before any quality rule fires (C4 extracts from
    * WET, FineWeb re-extracts from WARC with trafilatura precisely
    * because extraction quality dominates downstream filters —
    * Penedo et al. 2024, arXiv:2406.17557 §3.1). A full parser is a
    * library; the pipeline-grade core is a deterministic regexp
    * chain, and that chain IS expressible as codegen'd Catalyst
    * `regexp_replace`s — doc-local, zero exchange, a pure map over
    * the scan at any scale.
    *
    * Chain (order matters and is part of the contract):
    *   1. drop the `<head>…</head>` block (title is metadata, not
    *      prose — it is extracted separately from the RAW page), then
    *      `<script>…</script>` / `<style>…</style>` blocks anywhere
    *      in the body (their CONTENT is not text) and `<!-- … -->`
    *      comments;
    *   2. strip remaining tags `<[^>]+>` → ' ' (a tag is a word
    *      boundary: `a<br>b` must not fuse);
    *   3. decode the six core entities — `&lt; &gt; &quot; &#39;
    *      &nbsp;` first, `&amp;` LAST so `&amp;lt;` decodes to the
    *      literal text `&lt;`, not to `<`;
    *   4. collapse whitespace runs, trim.
    * Entity decode runs AFTER tag stripping, so entity-escaped
    * markup in the source survives as literal text — the behavior
    * that distinguishes extraction from naive tag removal.
    *
    * Patterns stay in the Java-regex ∩ RE2 common subset (inline
    * `(?is)` flags, lazy quantifiers, no backreferences — the
    * piiPatterns convention), so a DuckDB oracle replays the chain
    * verbatim.
    *
    * Output: the input frame with `title` (first `<title>` element),
    * `n_links` (a cheap `<a href` occurrence count — substring
    * arithmetic, no regex), and `text` (the extracted prose) added
    * and the HTML column dropped — pass-through columns (url, fetch
    * timestamp, source) survive, so the extractor composes into a
    * pipeline without a join-back. `title`/`n_links`/`text` are
    * reserved output names: a pre-existing column with one of those
    * names is overwritten.
    */
  def htmlToText(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val h = col(htmlCol)
    val noHead = regexp_replace(h, "(?is)<head[^>]*>.*?</head>", " ")
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(noHead,
      "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        replace(c, lit(ent), lit(ch))
      }
    val text = trim(regexp_replace(decoded, "\\s+", " "))
    val title = trim(regexp_extract(h, "(?is)<title[^>]*>(.*?)</title>", 1))
    val nLinks = ((length(h) - length(replace(h, lit("<a href"), lit(""))))
      / lit(7)).cast("int")
    val out = df.withColumn("title", title)
      .withColumn("n_links", nLinks)
      .withColumn("text", text)
    if (htmlCol == "text") out else out.drop(htmlCol)
  }

  /** Vocabulary-growth (Heaps'-law) curve: how the distinct-token
    * count grows as the corpus is consumed in `idCol` order, reported
    * at `numBuckets` equal-document checkpoints. The canonical corpus
    * diagnostic (Heaps 1978; WIMBD, arXiv:2310.20707 runs it at
    * corpus scale): V(n) ≈ K·n^β with β < 1 for natural text, so a
    * flattening curve is healthy and a LINEAR one screams synthetic
    * or boilerplate-heavy data (every doc minting fresh tokens).
    *
    * Shape, chosen so nothing corpus-sized rides a window or a
    * driver: the cumulative-distinct count at checkpoint b equals the
    * number of tokens whose FIRST occurrence falls in buckets 1..b —
    * so one explode → groupBy(token).min(bucket) (the only shuffle
    * that matters, skinny (token, bucket) rows), a ≤ numBuckets-row
    * new-token histogram, and a prefix sum over those numBuckets rows.
    * Doc → bucket uses the distributed one-group rank (a bare
    * Window.orderBy would single-task the corpus — the r12 lesson);
    * bucket arithmetic is pure integer ((rank−1)·K div N + 1) so both
    * engines agree to the bit.
    *
    * Output: one row per bucket — (bucket, docs_cum, tokens_cum,
    * vocab_cum), cumulative docs / token instances / distinct tokens
    * after consuming buckets 1..b.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  numBuckets: Int = 10): DataFrame = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    // Phase 1 — bucket BOUNDARIES from a skinny id-only rank: the
    // distributed one-group rank over ids alone (text never enters),
    // reduced to ≤ numBuckets (bucket, max id) cutoffs via integer
    // arithmetic, then collected (bounded by numBuckets — the modes
    // convention) and broadcast as literals. Every downstream bucket
    // assignment is then a MAP-SIDE id comparison: no join, no text
    // on any exchange, no corpus-sized window.
    val ids = df.select(col(idCol)).withColumn("_vg", lit(0))
    val ranked = graft.ops.DistributedRank.withRankAndCumsum(
      ids, "_vg", Seq(col(idCol)))
    val cuts = ranked
      .withColumn("bucket",
        ((col("_rk") - 1) * numBuckets).cast("long")
          .divide(col("_n")).cast("long") + 1)
      .groupBy("bucket").agg(max(col(idCol)).as("hi"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue()))
      .sortBy(_._1)
    require(cuts.nonEmpty, "vocabGrowth needs a non-empty corpus")
    // map-side bucket: smallest bucket whose max-id cutoff covers id
    val bucketOf: Column = cuts.init.foldRight(
        lit(cuts.last._1): Column) { case ((b, hi), rest) =>
      when(col(idCol) <= hi, lit(b)).otherwise(rest)
    }

    // Phase 2 — one pass over text. The only corpus-sized shuffle is
    // the skinny (token, bucket) min-aggregate: the cumulative
    // distinct count at checkpoint b is exactly the number of tokens
    // FIRST seen in buckets 1..b.
    val toked = df.select(bucketOf.as("bucket"),
      filter(tokens(col(textCol)), t => length(t) > 0).as("toks"))
    val perBucket = toked.groupBy(col("bucket"))
      .agg(count(lit(1)).as("docs"), sum(size(col("toks"))).as("tokens"))
    val newPerBucket = toked
      .select(col("bucket"), explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_tokens"))

    // ≤ numBuckets rows from here down — the bare-orderBy window is
    // bounded by construction, never by the corpus
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newPerBucket, Seq("bucket"), "left")
      .select(col("bucket"),
        sum(col("docs")).over(w).as("docs_cum"),
        sum(col("tokens")).over(w).as("tokens_cum"),
        sum(coalesce(col("new_tokens"), lit(0L))).over(w).as("vocab_cum"))
  }
}
